package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Readers for the driver testdata (TESTDATA.md, FIXTURES.md §B).
  *
  * Parquet is self-describing, so no schemas are forced here. One quirk:
  * `events.ts` has drifted across driver regenerations — TIMESTAMP(NANOS)
  * (read as a raw ns long under `spark.sql.legacy.parquet.nanosAsLong`)
  * through round 5, plain TIMESTAMP(MICROS) without timezone (read as
  * TIMESTAMP_NTZ) from round 6 — so [[events]] normalizes BY DTYPE to the
  * same two derived columns every consumer uses: a microsecond epoch long
  * (`ts_us`) and a µs timestamp (`ts_ts`). The NTZ→µs conversion is a
  * `timestampdiff` against the NTZ epoch literal — timezone-INDEPENDENT,
  * so a driver session without our UTC conf still gets identical values.
  * DuckDB reads either flavor as naive TIMESTAMP and `epoch_us(ts)` yields
  * the same µs, so the µs grain stays the cross-engine-stable one used by
  * every oracle-checked query.
  */
object Tables {
  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = read(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")

  /** events with `ts` normalized to a µs epoch long (`ts_us`) + µs
    * timestamp (`ts_ts`), whatever flavor this testdata generation uses. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    // Runtime-settable legacy conf; required iff the data is TIMESTAMP(NANOS).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = read(spark, dir, "events")
    val tsUs = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000") // ns long
      case org.apache.spark.sql.types.TimestampNTZType =>
        // tz-independent: NTZ wall-clock minus the NTZ epoch, in µs
        expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)")
      case _ => unix_micros(col("ts")) // tz-aware TIMESTAMP
    }
    raw.withColumn("ts_us", tsUs)
      .withColumn("ts_ts", timestamp_micros(col("ts_us")))
  }

  /** `ts`-typed literal for pushdown-friendly predicates on the RAW events
    * time column: a filter must compare `ts` against a literal of its OWN
    * dtype to reach `PushedFilters` (a cast around the column defeats
    * row-group pruning). Given epoch µs, returns the literal in whichever
    * flavor this generation's `ts` uses. */
  def tsLiteral(spark: SparkSession, dir: String, us: Long): org.apache.spark.sql.Column = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    read(spark, dir, "events").schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => lit(us * 1000L) // ns long
      case org.apache.spark.sql.types.TimestampNTZType =>
        // floorDiv/floorMod: nanoOfSecond must be non-negative, so a
        // pre-1970 µs epoch needs floored (not truncating) division.
        lit(java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(us, 1000000L),
          (Math.floorMod(us, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC))
      case _ => lit(java.time.Instant.EPOCH.plus(us, java.time.temporal.ChronoUnit.MICROS))
    }
  }

  /** Hot-table memo: one `.persist()` call per (session, dir, name) — the
    * cache manager already dedupes by canonical plan, but re-calling
    * persist() on every query build spammed "Asked to cache already cached
    * data" warnings (one per build; see the BENCH_r02 log tail) and re-ran
    * the plan-normalization lookup. Lifecycle: entries for STOPPED sessions
    * are evicted on every memo() call (multi-session test suites would
    * otherwise retain dead sessions and their plans forever), and a
    * memoized DataFrame that lost its cache entry (e.g. Verify's per-query
    * `spark.catalog.clearCache()`) is re-persisted on next use, so later
    * timings in the same session stay representative. Each entry keeps
    * the [[inputIdentity]] its frame was built from. */
  private final case class Memo(df: DataFrame, identity: String)

  private val hotMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Memo]()

  /** Generic persisted-DataFrame memo for any session-scoped cacheable
    * build (also used by operators that materialize a derived working set,
    * e.g. `Dedup.semanticDedup`'s assigned corpus): one persist() per
    * (session, key, input identity), dead sessions evicted, clearCache
    * survivors re-armed. The key names a path, not its contents, so an
    * entry answers only while its frame's [[inputIdentity]] is the one it
    * was built from: a path rewritten in place unpersists the entry and
    * rebuilds it. `build` need not call `.persist()` itself — the
    * storageLevel==NONE re-arm below persists the memoized frame on
    * first use and again after any clearCache. */
  def memoBy(spark: SparkSession, key: String)
            (build: => DataFrame): DataFrame = {
    hotMemo.keySet.removeIf(_._1.sparkContext.isStopped)
    val k = (spark, key)
    Option(hotMemo.get(k)).filter(m => inputIdentity(m.df) != m.identity)
      .foreach(stale => if (hotMemo.remove(k, stale)) stale.df.unpersist())
    val df = hotMemo.computeIfAbsent(k, _ => {
      val built = build
      Memo(built, inputIdentity(built))
    }).df
    // storageLevel consults the session's cache manager: NONE means the
    // original persist() was undone by a clearCache — re-arm it (lazy; the
    // next action re-materializes).
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) df.persist()
    df
  }

  /** The INPUT IDENTITY of a plan, for session memos: every file under
    * every root path of every file relation the plan reads (subqueries
    * included), listed now, with its size and modification time, hashed.
    * A plan hash or a memo key covers a path, not its contents; the
    * identity changes when a path is rewritten in place. Driver-side
    * FileSystem calls only, no Spark job; names starting with `_` or `.`
    * are skipped, as Spark's file listing skips them. */
  def inputIdentity(df: DataFrame): String = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val conf = df.sparkSession.sessionState.newHadoopConf()
    def describe(st: FileStatus) =
      s"${st.getPath}|${st.getLen}|${st.getModificationTime}"
    def leaves(st: FileStatus): Seq[String] =
      if (!st.isDirectory) Seq(describe(st))
      else st.getPath.getFileSystem(conf).listStatus(st.getPath)
        .filterNot(c => c.getPath.getName.startsWith("_") ||
          c.getPath.getName.startsWith("."))
        .sortBy(_.getPath.toString).toSeq.flatMap(leaves)
    val roots = df.queryExecution.analyzed.collectWithSubqueries {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths
        case _ => Nil
      }
    }.flatten.distinct.sortBy(_.toString)
    val files = roots.flatMap { p =>
      try leaves(p.getFileSystem(conf).getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => Seq(s"$p|missing") }
    }
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(files.mkString("\n").getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
  }

  private def memo(spark: SparkSession, dir: String, name: String)
                  (build: => DataFrame): DataFrame =
    memoBy(spark, s"$dir#$name")(build)

  /** True when the table's parquet is already a multi-file directory:
    * the scan parallelizes by file, so the parallelism-restoring Hot
    * cache would only add an in-memory columnar decode on top of it —
    * measured SLOWER than the vectorized parquet reader (q1 at sf10:
    * 1.70 s cached vs 1.25 s direct). Single-file driver
    * testdata keeps the cached path. Applies ONLY to the two Hots whose
    * sole rationale is scan parallelism (lineitem/orders);
    * [[documentsHot]] stays cached at every layout (multi-consumer
    * re-scan avoidance — see its NOTE), as do [[eventsHot]]
    * (pre-hash-partitioned — its cache also removes the per-user
    * aggregates' exchange) and [[embeddingsHot]] (multi-pass k-means
    * working set). Listing goes through the Hadoop FileSystem of the
    * path, so non-local URIs (hdfs://, s3a://) resolve like local
    * dirs. Memoized per (dir, name): the layout of a testdata dir does
    * not change within a process, and the check runs on EVERY
    * lineitemHot/ordersHot call (several per query build) — on a remote
    * filesystem each un-memoized call would be two metadata round-trips
    * of pure overhead. */
  private val layoutMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  private def multiFile(spark: SparkSession, dir: String,
                        name: String): Boolean =
    layoutMemo.computeIfAbsent(s"$dir/$name", { _ =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      try fs.getFileStatus(p).isDirectory &&
        fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet")) > 1
      catch { case _: java.io.FileNotFoundException => false }
    })

  /** The q1 aggregate columns of lineitem — the shared working set for
    * the numeric headline aggregates. On a SINGLE-FILE source (the
    * driver testdata parquet is single-row-group: a cold scan is one
    * task no matter how many cores exist) the projection is
    * repartitioned to the session's parallelism and persisted; on an
    * already-multi-file source the direct scan wins ([[multiFile]]).
    *
    * Two constraints on the cached path, both measured: (1)
    * repartitioning changes encounter order, so ONLY order-independent
    * consumers may use this (sums/counts, argmax on tie-free keys); (2)
    * the in-memory columnar cache decodes WIDE STRING columns slower
    * than the parquet reader — and caching unconsumed columns wastes
    * build time and memory — so the cache holds exactly the NARROW
    * numeric/flag projection its consumers read. */
  def lineitemHot(spark: SparkSession, dir: String): DataFrame = {
    val narrow = lineitem(spark, dir)
      .select(col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_returnflag"), col("l_linestatus"))
    if (multiFile(spark, dir, "lineitem")) narrow
    else memo(spark, dir, "lineitemHot") {
      narrow.repartition(spark.sparkContext.defaultParallelism).persist()
    }
  }

  /** The J1 join columns of orders, repartitioned + persisted — same
    * rationale, constraints, and narrow-projection rule as
    * [[lineitemHot]]: restores scan parallelism over the single-row-group
    * testdata for order-independent consumers (J1's broadcast joins; the
    * result is dump-sorted). Measured at sf0.1: halves `ref_j1_dim_join`
    * (0.67 s → 0.38 s). */
  def ordersHot(spark: SparkSession, dir: String): DataFrame = {
    val narrow = orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    if (multiFile(spark, dir, "orders")) narrow
    else memo(spark, dir, "ordersHot") {
      narrow.repartition(spark.sparkContext.defaultParallelism).persist()
    }
  }

  /** Full events table (all 6 columns + the µs derivations), repartitioned
    * 32-way + persisted. Unlike [[lineitemHot]] this keeps the WIDE `props`
    * string: the in-memory columnar decode of wide strings is slower per
    * row than parquet, but the testdata parquet is single-row-group (ONE
    * scan task), so 32-way cached parallelism still wins for every
    * events-heavy consumer — in particular the exports pipeline, whose
    * from_json over `props`-derived payloads otherwise runs inside the
    * serial scan stage. Order-safety: the argmax consumers order by the
    * COLLISION-FREE scalar composite `ts_us * 2^63 + event_id`
    * (DedupLatest.ordKey128 — DECIMAL(38,0) on Spark, HUGEINT in the
    * DuckDB oracles, identical total order), so determinism holds by
    * construction under any repartitioning, with no dependence on any
    * data property. Counts/sums are order-independent by
    * construction. */
  def eventsHot(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "eventsHot") {
      // HASH-partitioned by user_id (not round-robin): the cache's
      // outputPartitioning then already satisfies the per-user aggregates'
      // ClusteredDistribution — a1's groupBy(user_id) and w1's
      // (event_type, user_id) pre-agg (a superset of the partition key)
      // plan as single-stage complete aggregates with NO exchange.
      // Measured at sf0.1: a1 aggregate 0.21 s → one stage (~0.1 s class).
      // This is the "reuse one partitioning across
      // stages" play from SURVEY §perf: pay the shuffle once at cache
      // fill, not per query. user_id is high-cardinality vs 32 partitions,
      // so balance matches round-robin closely; scenario-keyed consumers
      // (synthView) still re-shuffle exactly as before.
      events(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism, col("user_id"))
        .persist()
    }

  /** Full documents table, repartitioned + persisted — the working set of
    * the LSH/shingle family. Same rationale as [[eventsHot]]: the testdata
    * parquet is single-row-group, so the (expensive) per-row
    * tokenize→shingle→minhash stage otherwise runs inside ONE scan task;
    * the 32-way cache spreads it across cores (BENCH_SCALE.md "layout
    * control": bands on a 16-part copy of the same bytes ran 6× faster).
    * Order-safety: every consumer is per-row (tokens/shingles/signatures)
    * or order-free-aggregated (min(struct) keepers, per-seed min(md5)
    * merges, band-bucket equi-joins) and every dump ends in a total sort
    * on unique keys, so repartitioning cannot change results. At
    * production scale inputs arrive multi-file and this cache becomes
    * optional, exactly like [[eventsHot]]. */
  // NOTE: documentsHot deliberately stays cached at EVERY layout — unlike
  // the single-scan lineitem/orders consumers, the text family reads it
  // through multiple consumers per query (dup-span occurrence + join-back
  // + mask; the bloom build + probe sides), and without the cache each
  // consumer re-scans and re-splits: measured at sf10 multi-file,
  // data_dedup_spans 6.3 → 23.8 s and data_decontaminate_bloom 13.8 →
  // 29.7 s direct. The multiFile() switch is only for caches whose sole
  // job is parallelism.
  def documentsHot(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "documentsHot") {
      documents(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism).persist()
    }

  /** Full embeddings table, repartitioned + persisted — the working set
    * of the fitted-quantizer ANN family (k-means rounds, PQ codebooks,
    * cell assignment). Same rationale as [[documentsHot]]: the testdata
    * parquet is single-row-group, so the interpreted literal-centroid
    * assignment exprs otherwise run inside ONE scan task, serially, and
    * re-run per evaluation (measured at sf0.1: data_sim_ivfpq 16.8 s →
    * 12.7 s from this cache alone; → 1.5 s combined with the O(k)
    * argmin restructure in `assignCellsBroadcast`).
    * Order-safety: every consumer is per-row (folds, codes),
    * order-free-aggregated (quantized-long k-means sums), or seeded by
    * an explicit `orderBy(id).limit(k)` — partitioning cannot change any
    * result. */
  def embeddingsHot(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "embeddingsHot") {
      embeddings(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism).persist()
    }

  /** Epoch-microseconds of midnight UTC on the given ISO date. */
  def usOf(isoDate: String): Long =
    java.time.LocalDate.parse(isoDate)
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli * 1000L
}
