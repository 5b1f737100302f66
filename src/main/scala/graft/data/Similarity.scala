package graft.data

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import IndexManifest.{Delta, Snapshot}

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`): brute-force cosine top-k as the correctness baseline,
  * and an IVF-style coarse-quantizer variant as the scale path (probe one
  * cell instead of the whole corpus).
  *
  * Determinism: dot products are LEFT FOLDS in index order
  * (`aggregate(zip_with(...))`), which any engine reproduces exactly
  * (0.0 + x == x in IEEE754, so an init-less fold matches too). No
  * engine-private vector kernels.
  *
  * Scale: brute force is a broadcast crossJoin of the (small) query set
  * against the corpus — embarrassingly parallel, no shuffle of the corpus.
  * IVF assigns each query to its nearest representative and searches only
  * that cell: corpus stays partitioned (ideally bucketed) by cell id, and
  * the probe is a partition-pruned scan. Representatives here are the
  * min-id member per cell (deterministic); production would fit k-means
  * centroids offline.
  */
object Similarity {

  /** Index-ordered left-fold dot product of two float vectors, in doubles —
    * the composable HOF reference form. [[graft.functions.FloatVecDot]] is
    * the codegen'd equivalent (bit-identical results); the search operators
    * below use it via `vec_dot` after registering it on the session. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  private def cosineFast(df: DataFrame)(a: Column, b: Column): Column = {
    val d = fastDot(df) _
    d(a, b) / (sqrt(d(a, a)) * sqrt(d(b, b)))
  }

  private def fastDot(df: DataFrame)(a: Column, b: Column): Column = {
    graft.functions.VectorFunctions.register(df.sparkSession)
    graft.functions.VectorFunctions.vec_dot(a, b)
  }

  /** Compiled [[sqDist]] (`FloatVecSqDist` — tight primitive loop inside
    * whole-stage codegen, bit-identical to the HOF fold); `df` supplies
    * the session for idempotent registration, like [[fastDot]]. */
  private def fastSqDist(df: DataFrame)(a: Column, b: Column): Column = {
    graft.functions.VectorFunctions.register(df.sparkSession)
    graft.functions.VectorFunctions.vec_sqdist(a, b)
  }

  /** Brute-force top-k: for each query row, the k nearest corpus rows by
    * cosine (ties broken by corpus id). Query set must be small — it is
    * broadcast. Norms are precomputed once per side (N + Q sqrt-folds)
    * instead of per pair (2·N·Q) before the crossJoin. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     qId: String = "q_id", qVec: String = "q_vec",
                     cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val d = fastDot(corpus) _
    val qn = queries.withColumn("q_norm", sqrt(d(col(qVec), col(qVec))))
    val cn = corpus.withColumn("c_norm", sqrt(d(col(cVec), col(cVec))))
    val joined = cn.crossJoin(broadcast(qn))
      .where(col(qId) =!= col(cId))
      .withColumn("cos_sim",
        d(col(qVec), col(cVec)) / (col("q_norm") * col("c_norm")))
    val w = Window.partitionBy(col(qId)).orderBy(col("cos_sim").desc, col(cId))
    joined.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col(qId), col("rnk"), col(cId).as("neighbor_id"), col("cos_sim"))
  }

  /** Exact squared-L2 top-k — the metric-matched ground truth for the
    * L2-family ANN indexes ([[ivfAdcTopK]]): for each query, the k
    * nearest corpus rows by ascending ‖q − x‖² (ties by id). Same
    * broadcast-queries × corpus shape as [[bruteForceTopK]]; `d2` is the
    * index-ordered left fold, bit-identical on any engine. */
  def bruteForceL2TopK(queries: DataFrame, corpus: DataFrame, k: Int,
                       qId: String = "q_id", qVec: String = "q_vec",
                       cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val scored = corpus.crossJoin(broadcast(queries))
      .where(col(qId) =!= col(cId))
      .withColumn("d2", fastSqDist(corpus)(col(qVec), col(cVec)))
    val w = Window.partitionBy(col(qId)).orderBy(col("d2"), col(cId))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col(qId), col("rnk"), col(cId).as("neighbor_id"), col("d2"))
  }

  /** Squared-L2 distance as an index-ordered left fold in doubles — same
    * engine-portable determinism contract as [[dot]]. */
  def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => {
      val d = x.cast("double") - y.cast("double")
      d * d
    }), lit(0.0), (acc, v) => acc + v)

  /** Fixed-round Lloyd k-means over the embedding column — the coarse-
    * quantizer fitting a production IVF runs offline, in an ORACLE-ABLE
    * form: every arithmetic step is either a per-row left fold
    * (deterministic on any engine) or an INTEGER sum (order-independent —
    * a plain float mean would differ bit-wise between partitionings and
    * engines), so the fitted centroids are bit-identical everywhere.
    *
    *  - seeds: the k lowest-id vectors, cells numbered 0..k-1 in id order;
    *  - assignment: nearest centroid by squared L2, ties to the lower cell;
    *  - update: per-coordinate mean of coordinates quantized to 1e-3
    *    (long sums, one double division at the end); a cell that loses
    *    all members keeps its previous centroid;
    *  - `rounds` is a FIXED budget, not a convergence test — a float
    *    convergence check would re-introduce order dependence, and
    *    production k-means runs a fixed budget offline anyway.
    *
    * Scale: each round broadcasts k centroids, assigns in a map-only pass
    * (corpus never shuffled), and aggregates keyed (cell, coordinate) —
    * shuffle volume O(k × dim) after map-side combine.
    *
    * The fitted model is SESSION-MEMOIZED by (corpus plan, k, rounds,
    * columns) — the [[graft.TrainQueries]] `trainMemo` precedent, model
    * artifacts only, never query results: the fit is deterministic
    * (bit-identical on any engine by construction, see above), each
    * round is a driver-side collect barrier anyway, and the same coarse
    * quantizer / codebook is re-fit verbatim by every ANN variant that
    * shares its parameters (data_sim_recall alone fits the kCells=8
    * coarse model four times) — memoizing the k×dim result removes
    * rounds × corpus passes per repeat fit at ANY scale. Values are
    * k × dim doubles; entries die with their session. The key carries
    * the plan's [[graft.Tables.inputIdentity]] — every file it reads,
    * with size and modification time — because the plan hash covers a
    * path, not its contents: a path rewritten in place must refit.
    *
    * @return (cell: long, cvec: array<double>) — k rows. */
  private val fitMemo = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.SparkSession, String), Array[(Long, Seq[Double])]]()

  def fitCentroids(corpus: DataFrame, k: Int, rounds: Int,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k > 0 && rounds >= 0, s"need k > 0, rounds >= 0; got k=$k, rounds=$rounds")
    val spark = corpus.sparkSession
    val key = (spark, corpus.queryExecution.analyzed.semanticHash().toString +
      s"|${graft.Tables.inputIdentity(corpus)}|$k|$rounds|$idCol|$vecCol")
    val fitted = fitMemo.computeIfAbsent(key, _ => {
      fitMemo.keySet.removeIf(_._1.sparkContext.isStopped)
      val seedW = Window.orderBy(col(idCol)) // k rows post-limit: single tiny partition
      // The centroids live as a DRIVER ARRAY between rounds (k × dim
      // doubles — the same bounded artifact every round's broadcast
      // inlines anyway). Carrying them as a growing PLAN instead means
      // round r's collect re-evaluates rounds 1..r-1's corpus aggregates
      // too (measured: 21 centroid-collect jobs for data_sim_recall's
      // fits — quadratic corpus passes in `rounds`); with the array,
      // each round is exactly ONE corpus pass whose collect is the
      // round's driver barrier. Arithmetic is unchanged and exact:
      // per-(cell, pos) LONG sums and counts collect as-is and the one
      // double division (s / (n·1000)) happens on the driver with the
      // same operands — bit-identical centroids.
      var cents: Array[(Long, Seq[Double])] =
        corpus.select(col(idCol), col(vecCol)).orderBy(col(idCol)).limit(k)
          .withColumn("cell", (row_number().over(seedW) - 1).cast("long"))
          .select(col("cell"), transform(col(vecCol), _.cast("double")).as("cvec"))
          .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      for (_ <- 1 to rounds) {
        val sums = assignCellsLit(corpus, cents, vecCol)
          .select(col("cell"), posexplode(col(vecCol)).as(Seq("pos", "x")))
          .groupBy(col("cell"), col("pos"))
          .agg(sum(round(col("x").cast("double") * 1000).cast("long")).as("s"),
            count(lit(1)).as("n"))
          .collect()
        val byCell = sums.groupBy(_.getLong(0))
        cents = cents.map { case (cell, prev) =>
          byCell.get(cell) match {
            // a cell that loses all members keeps its previous centroid
            case None => (cell, prev)
            case Some(rows) => (cell, rows.sortBy(_.getInt(1)).toSeq
              .map(r => r.getLong(2).toDouble / (r.getLong(3) * 1000L).toDouble))
          }
        }
      }
      cents
    })
    import spark.implicits._
    fitted.toSeq.toDF("cell", "cvec")
  }

  /** Nearest fitted cell per row (squared L2, ties to the lower cell):
    * the at-ingest assignment step of a fitted IVF index. Output = the
    * input columns plus `cell`.
    *
    * Fully-declarative form: the per-vector argmin is a window over the
    * broadcast crossJoin. `WindowGroupLimit(Partial)` prunes each
    * partition to one row per vector BEFORE the exchange, so the shuffle
    * carries O(corpus) rows, not O(corpus × k) — but it is still one
    * corpus-row shuffle. [[assignCellsBroadcast]] removes even that. */
  def assignCells(corpus: DataFrame, centroids: DataFrame,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val scored = corpus.crossJoin(broadcast(centroids))
      .withColumn("d2", fastSqDist(corpus)(col(vecCol), col("cvec")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("d2"), col("cell"))
    scored.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .drop("rn", "d2", "cvec")
  }

  /** [[assignCells]] as a MAP-ONLY projection — the 100 TB shape: the k
    * centroids are collected to the driver (k × dim doubles, bounded —
    * the classic k-means broadcast) and inlined as literal vectors, so
    * the argmin is a single fold expression evaluated inside the corpus
    * scan: no window, no shuffle, no exchange of any kind. Identical
    * output to [[assignCells]] (same left-fold d2, strict-< fold keeps
    * the lower cell on ties) — parity-spec'd. The collect() is an eager
    * bounded driver materialization, like any k-means round barrier. */
  def assignCellsBroadcast(corpus: DataFrame, centroids: DataFrame,
                           vecCol: String = "embedding"): DataFrame =
    assignCellsLit(corpus,
      centroids.select(col("cell"), col("cvec")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1),
      vecCol)

  /** [[assignCellsBroadcast]] over an ALREADY-collected centroid array —
    * the k-means round loop calls this directly so the round barrier is
    * its own sums collect, not a second evaluation of the centroid
    * plan. */
  private def assignCellsLit(corpus: DataFrame,
                             cents: Array[(Long, Seq[Double])],
                             vecCol: String): DataFrame = {
    require(cents.nonEmpty, "no centroids to assign against")
    // Argmin as array_position(min): each of the k distances is computed
    // ONCE. The obvious alternative — a foldLeft of when(d2 < acc.d2)
    // chains — references the accumulator SUBTREE twice per step
    // (condition + else), so the expression tree and its interpreted
    // evaluation grow O(2^k): measured 4 s for a bare k=8 assignment
    // over 2000 cached rows, vs milliseconds for this form. Ties: the
    // first (lowest-cell) occurrence of the minimum, same rule as the
    // strict-< fold; all-NULL distances (null vector) map to cell -1,
    // same as the fold's init.
    val d2s = array(cents.map { case (_, vec) =>
      fastSqDist(corpus)(col(vecCol), array(vec.map(lit): _*))
    }: _*)
    val ids = array(cents.map { case (cellId, _) => lit(cellId) }: _*)
    val pos = array_position(d2s, array_min(d2s))
    corpus.withColumn("cell",
      when(pos > 0, element_at(ids, pos.cast("int"))).otherwise(lit(-1L)))
  }

  /** [[ivfTopK]] with a FITTED coarse quantizer: cells come from
    * [[fitCentroids]] instead of a pre-existing cell column, queries route
    * to their `nprobe` nearest centroids by squared L2, and only the
    * probed cells are scored exactly — the production IVF shape (fit
    * offline, assign at ingest, probe at query). At scale the assigned
    * corpus is written bucketed/partitioned by `cell`, making each probe
    * a partition-pruned scan. */
  def ivfTopKFitted(queries: DataFrame, corpus: DataFrame, kCells: Int,
                    rounds: Int, k: Int, nprobe: Int = 1,
                    qId: String = "q_id", qVec: String = "q_vec",
                    cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val cents = fitCentroids(corpus, kCells, rounds, cId, cVec)
    val assigned = assignCellsBroadcast(corpus, cents, cVec)
    val routed = queries.crossJoin(broadcast(cents))
      .withColumn("d2", fastSqDist(queries)(col(qVec), col("cvec")))
    val wA = Window.partitionBy(col(qId)).orderBy(col("d2"), col("cell"))
    val probes = routed.withColumn("rn", row_number().over(wA))
      .where(col("rn") <= nprobe)
      .select(col(qId), col(qVec), col("cell"))
    val inCell = assigned.join(broadcast(probes), Seq("cell"))
      .where(col(qId) =!= col(cId))
      .withColumn("cos_sim", cosineFast(corpus)(col(qVec), col(cVec)))
    val wTop = Window.partitionBy(col(qId)).orderBy(col("cos_sim").desc, col(cId))
    inCell.withColumn("rnk", row_number().over(wTop).cast("long"))
      .where(col("rnk") <= k)
      .select(col(qId), col("cell"), col("rnk"), col(cId).as("neighbor_id"),
        col("cos_sim"))
  }

  /** [[ivfTopKFitted]] with the assigned corpus MATERIALIZED
    * `partitionBy(cell)` and each probe served by a PARTITION-PRUNED read
    * — the at-rest layout a production IVF uses, end to end: fit offline,
    * assign + write once at ingest, and at query time touch only the
    * probed cells' files (planning-time `PartitionFilters`, since the
    * probe list is a bounded literal set — nq × nprobe cells collected
    * from the routing table, the same bounded-model barrier as the
    * centroid collect). Result is bit-identical to [[ivfTopKFitted]]:
    * floats round-trip parquet exactly and the scoring chain is shared.
    *
    * Scale: the one-time write shuffles nothing (assignment is map-only);
    * each query-time scan reads only `nprobe / kCells` of the corpus
    * bytes — the pruning IS the index. */
  def ivfTopKFittedPruned(queries: DataFrame, corpus: DataFrame, kCells: Int,
                          rounds: Int, k: Int, nprobe: Int, outDir: String,
                          qId: String = "q_id", qVec: String = "q_vec",
                          cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val cents = fitCentroids(corpus, kCells, rounds, cId, cVec)
    assignCellsBroadcast(corpus, cents, cVec)
      .write.mode("overwrite").partitionBy("cell").parquet(outDir)
    servePrunedFrom(queries, cents, queries.sparkSession.read.parquet(outDir),
      k, nprobe, qId, qVec, cId, cVec)
  }

  /** The query-time half of the at-rest IVF serve, against the rows of
    * any `partitionBy(cell)` layout and any centroid table: route each
    * query to its `nprobe` cells, collect the bounded probe-cell set,
    * filter `rows` with a literal IN over the partition column
    * (planning-time pruning — the filter lands in `PartitionFilters`,
    * not a post-scan Filter), and score only the probed cells. */
  private def servePrunedFrom(queries: DataFrame, cents: DataFrame,
                              rows: DataFrame, k: Int, nprobe: Int,
                              qId: String, qVec: String,
                              cId: String, cVec: String): DataFrame = {
    val routed = queries.crossJoin(broadcast(cents))
      .withColumn("d2", fastSqDist(queries)(col(qVec), col("cvec")))
    val wA = Window.partitionBy(col(qId)).orderBy(col("d2"), col("cell"))
    val probes = routed.withColumn("rn", row_number().over(wA))
      .where(col("rn") <= nprobe)
      .select(col(qId), col(qVec), col("cell"))
    val probeCells: Seq[Long] = probes.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    val pruned = rows
      .where(col("cell").isin(probeCells: _*))
      .withColumn("cell", col("cell").cast("long"))
    val inCell = pruned.join(broadcast(probes), Seq("cell"))
      .where(col(qId) =!= col(cId))
      .withColumn("cos_sim", cosineFast(queries)(col(qVec), col(cVec)))
    val wTop = Window.partitionBy(col(qId)).orderBy(col("cos_sim").desc, col(cId))
    inCell.withColumn("rnk", row_number().over(wTop).cast("long"))
      .where(col("rnk") <= k)
      .select(col(qId), col("cell"), col("rnk"), col(cId).as("neighbor_id"),
        col("cos_sim"))
  }

  /** Build the MAINTAINED IVF index ONCE — the dedup-index lifecycle for
    * the ANN family: the fitted centroids, the assigned corpus written
    * `partitionBy(cell)`, and the build-time cell sizes (the drift
    * baseline) all persist under one directory. The model artifacts live
    * as versioned [[IndexManifest]] artifacts (`centroids`,
    * `cellsizes`) published in the same atomic commit as the data
    * listing, so the index is self-contained: serve and append need no
    * session state, and no reader can ever pair one version's
    * centroids with another version's cells.
    *
    * Scale: fitting shuffles O(k × dim) aggregates per round; assignment
    * is the map-only literal-centroid fold; the write is the one-time
    * ingest cost. The baseline sizes are one count aggregate over the
    * partition column only (zero data columns read). */
  def writeIvfIndex(corpus: DataFrame, kCells: Int, rounds: Int, path: String,
                    idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = corpus.sparkSession
    val cents = fitCentroids(corpus, kCells, rounds, idCol, vecCol)
    assignCellsBroadcast(corpus, cents, vecCol)
      .select(col(idCol), col(vecCol), col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    val aCents = IndexManifest.writeArtifact(spark, path, "centroids", cents)
    val sizes = spark.read.parquet(path)
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_build"))
    val aSizes = IndexManifest.writeArtifact(spark, path, "cellsizes", sizes)
    IndexManifest.commit(spark, path, Snapshot.Empty,
      Delta(IndexManifest.listDataFiles(spark, path),
        artifacts = Map(aCents, aSizes))): Unit
  }

  /** MAINTAIN the stored IVF index: assign an ingest batch with the
    * STORED centroids — no refit, so every existing cell directory and
    * every already-served result stays valid — and append into the
    * partition layout. The production contract of every IVF engine:
    * ingest is cheap (map-only assignment against a bounded model),
    * and the quantizer retrains only when [[ivfDrift]] says the data
    * moved. Serving after an append is hash-identical to recomputing
    * the assignment of corpus∪batch from scratch with the same
    * centroids (the append query's differential), because assignment
    * is per-row and order-free.
    *
    * IDEMPOTENT like the dedup appends ([[Dedup.appendCellIndex]]'s
    * law): vectors whose id the index already holds are skipped, so an
    * at-least-once replay (the streaming ingest gate) cannot duplicate
    * index rows — duplicates would surface twice in every later top-k
    * and inflate [[ivfDrift]]. Same bounded-build discipline: already-
    * stored ids come from the streamed `index ⋈ broadcast(batch (cell,
    * id))` join — assignment is deterministic, so a replayed vector
    * lands in the SAME cell and the cell key keeps the probe
    * partition-prunable; both join builds are batch-bounded and the
    * index never shuffles. */
  def appendIvfIndex(batch: DataFrame, path: String,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     retainVersions: Int = 2): Unit = {
    val spark = batch.sparkSession
    val snap = IndexManifest.reconcileAppend(spark, path)
    val assigned = assignCellsBroadcast(batch, readIvfCentroids(spark, snap),
        vecCol)
      .select(col(idCol), col(vecCol), col("cell"))
      .localCheckpoint(true)
    // bounded (≤ kCells): literal-IN cell prune on the index read — the
    // probe read stays O(batch cells), and the staged write + known-
    // added commit never list a cell directory at all
    val cells = assigned.select(col("cell")).distinct().collect()
      .map(r => java.lang.Long.valueOf(r.getLong(0))).toSeq
    val idx = snap.data(spark)
      .where(col("cell").isin(cells: _*))
    val stored = idx.join(
        broadcast(assigned.select(col("cell"), col(idCol)).distinct()),
        Seq("cell", idCol))
      .select(col("cell"), col(idCol))
    val added = IndexManifest.stageAppend(
      assigned.join(broadcast(stored), Seq("cell", idCol), "left_anti"),
      path, "cell")
    IndexManifest.commit(spark, path, snap, Delta(added), retainVersions): Unit
  }

  /** The coarse quantizer `pin` pairs with its cells, with the
    * pre-manifest `_centroids` directory as the legacy fallback. */
  def readIvfCentroids(spark: org.apache.spark.sql.SparkSession,
                       pin: Snapshot): DataFrame =
    pin.artifact(spark, "centroids", legacyDir = Some("_centroids"))

  /** Serve queries from the MAINTAINED index (the read-back of
    * [[writeIvfIndex]] + any [[appendIvfIndex]]s): the centroids and the
    * cell files both come from `pin`, and the probe read is the usual
    * planning-time cell prune. The 100 TB side is only ever read
    * through pruned directories — never refit, never shuffled.
    *
    * A `loadAt` pin is the TIME-TRAVEL serve, and the pairing is the
    * point: a RETRAIN replaces the model outright, so serving a
    * retained pre-retrain version must route with THAT version's
    * centroids over THAT version's cell files — the current quantizer
    * would route queries to cells that did not exist under the old
    * generation (not subtly wrong scores, structurally wrong probes). */
  def ivfIndexServe(queries: DataFrame, pin: Snapshot, k: Int,
                    nprobe: Int, qId: String = "q_id",
                    qVec: String = "q_vec", cId: String = "vec_id",
                    cVec: String = "embedding"): DataFrame = {
    val spark = queries.sparkSession
    servePrunedFrom(queries, readIvfCentroids(spark, pin), pin.data(spark),
      k, nprobe, qId, qVec, cId, cVec)
  }

  /** The RETRAIN SIGNAL of the maintained index: per-cell growth since
    * build. Appends assign against frozen centroids, so a drifting
    * data distribution shows up exactly here — cells absorbing a
    * disproportionate share of new vectors stop being balanced probe
    * units (probe cost is per-cell) and the quantizer should refit.
    * Output per cell: build size, current size, added count, growth
    * ratio, current share, and `needs_retrain` (growth ≥ `growthTau`
    * while holding more than its uniform share — a cell that doubled
    * from 3 vectors is noise; a cell that doubled while holding 2× the
    * uniform share is the signal).
    *
    * Both sides read through `pin`, so the baseline and the current
    * sizes belong to one generation even while a retrain commits.
    *
    * Scale: both sides are counts over the `cell` PARTITION column —
    * zero data columns read (parquet answers from footers), so the
    * audit costs metadata, not a corpus scan. */
  def ivfDrift(spark: org.apache.spark.sql.SparkSession, pin: Snapshot,
               growthTau: Double = 2.0): DataFrame = {
    val build = pin.artifact(spark, "cellsizes",
      legacyDir = Some("_cellsizes"))
    val now = pin.data(spark)
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_now"))
    val joined = build.join(now, Seq("cell"), "full")
      .select(col("cell"),
        coalesce(col("n_build"), lit(0L)).as("n_build"),
        coalesce(col("n_now"), lit(0L)).as("n_now"))
    val total = joined.agg(sum(col("n_now")).as("__t"),
      count(lit(1)).as("__k"))
    joined.crossJoin(broadcast(total))
      .select(col("cell"), col("n_build"), col("n_now"),
        (col("n_now") - col("n_build")).as("n_added"),
        (col("n_now").cast("double") /
          greatest(col("n_build"), lit(1L)).cast("double")).as("growth"),
        (col("n_now").cast("double") / col("__t").cast("double"))
          .as("share_now"),
        ((col("n_now").cast("double") /
            greatest(col("n_build"), lit(1L)).cast("double")) >= growthTau &&
          col("n_now").cast("double") * col("__k").cast("double")
            > col("__t").cast("double")).as("needs_retrain"))
  }

  /** ANSWER the retrain signal ([[ivfDrift]]): refit the coarse
    * quantizer over everything the index currently holds (corpus ∪ all
    * appends — the PINNED manifest read), re-assign every vector, and
    * swap the new generation in with ONE atomic manifest commit — the
    * missing lifecycle step that turns a drifted index back into a
    * balanced one without ever interrupting serving.
    *
    * Result law (the `data_sim_ivf_retrain` oracle): serving after a
    * retrain is hash-identical to a FROM-SCRATCH
    * [[writeIvfIndex]]+serve over the same rows — [[fitCentroids]]
    * seeds by lowest id and aggregates in order-free quantized longs,
    * so the fit depends only on the row SET, not on which generation's
    * files or order it was read from.
    *
    * Availability law (spec'd through `preCommitHook`, a test seam
    * that runs right before the commit): every serve planned DURING
    * the rebuild — after the v2 files are fully written — still
    * returns the v1 results, because v2 becomes visible only at the
    * commit. v1's files fall to the closing [[IndexManifest.vacuum]]:
    * `retainVersions = 1` (default) deletes them immediately; ≥ 2
    * keeps the pre-retrain generation readable ([[ivfIndexServe]] on a
    * `loadAt` pin routes with its paired centroids) so an executing
    * serve never races the deletion.
    *
    * One [[IndexManifest.rewrite]] transaction: a gate append landing
    * mid-retrain wins the claim, and the retrain refits over the
    * winner's snapshot (appended rows included) — never publishing a
    * generation fit without them.
    *
    * Scale: one pinned corpus read feeds the k-means rounds (shuffles
    * O(k × dim) per round) and the map-only re-assignment; the rewrite
    * is the same one-time cost as the original build, run only when
    * drift says so; serves meanwhile touch only pruned v1 cells. The
    * new baseline `cellsizes` come from a footer-only count of the v2
    * files. */
  def retrainIvfIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String, kCells: Int, rounds: Int,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding",
                      preCommitHook: () => Unit = () => (),
                      retainVersions: Int = 1): Unit =
    IndexManifest.rewrite(spark, path, retainVersions, preCommitHook) { snap =>
      val rows = snap.data(spark)
        .select(col(idCol), col(vecCol))
      val cents = fitCentroids(rows, kCells, rounds, idCol, vecCol)
      val v2Files = IndexManifest.stageAppend(
        assignCellsBroadcast(rows, cents, vecCol)
          .select(col(idCol), col(vecCol), col("cell")),
        path, "cell")
      val sizes = IndexManifest.readFiles(spark, path, v2Files)
        .groupBy(col("cell").cast("long").as("cell"))
        .agg(count(lit(1)).as("n_build"))
      val aCents = IndexManifest.writeArtifact(spark, path, "centroids", cents)
      val aSizes = IndexManifest.writeArtifact(spark, path, "cellsizes", sizes)
      (Delta(v2Files, snap.dataFiles, Map(aCents, aSizes)), ())
    }

  /** Norm-scaled int8 quantization of a float vector: each coordinate
    * becomes `round(x · 127 / ‖v‖)` — the scalar-quantization (SQ8)
    * compression real ANN engines (faiss SQ8) apply to cut index memory
    * 4×. Unit-norm direction is preserved; magnitude folds into the scale
    * factor. Same arithmetic as the `data_embed_quantize` checksum query,
    * promoted to a reusable column op. */
  def quantizeInt8(vec: Column, norm: Column): Column =
    transform(vec, x => round(x.cast("double") * 127.0 / norm).cast("int"))

  /** Quantized-domain top-k: both sides SQ8-quantized, similarity = the
    * INTEGER dot product of the quantized vectors (a monotone estimate of
    * cosine, since quantization normalizes magnitude away). All-integer
    * scoring is exactly reproducible on any engine — no float summation
    * order to agree on — which is what lets an oracle replay it; ties on
    * the integer score break by corpus id.
    *
    * Scale: same broadcast-queries × corpus shape as [[bruteForceTopK]]
    * (corpus never shuffled, per-partition WindowGroupLimit top-k before
    * the exchange) but the scored payload is int8-scale integers — 4× less
    * memory traffic per corpus row, and the integer multiply-add
    * vectorizes better than float folds. Zero-norm corpus rows are
    * dropped (no direction to compare). */
  def sq8TopK(queries: DataFrame, corpus: DataFrame, k: Int,
              qId: String = "q_id", qVec: String = "q_vec",
              cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val d = fastDot(corpus) _
    def q8(df: DataFrame, id: String, vec: String, out: String): DataFrame =
      df.withColumn("_norm", sqrt(d(col(vec), col(vec))))
        .where(col("_norm") > 0)
        .select(col(id), quantizeInt8(col(vec), col("_norm")).as(out))
    val qn = q8(queries, qId, qVec, "_qq")
    val cn = q8(corpus, cId, cVec, "_qc")
    val scored = cn.crossJoin(broadcast(qn))
      .where(col(qId) =!= col(cId))
      .withColumn("qdot",
        aggregate(zip_with(col("_qq"), col("_qc"),
          (x, y) => x.cast("long") * y.cast("long")), lit(0L), (acc, v) => acc + v))
    val w = Window.partitionBy(col(qId)).orderBy(col("qdot").desc, col(cId))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col(qId), col("rnk"), col(cId).as("neighbor_id"), col("qdot"))
  }

  /** Product-quantization codebooks (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search" — the faiss PQ scheme):
    * the vector splits into `m` contiguous subspaces and each subspace
    * gets its own `k`-centroid codebook from the same fixed-round,
    * engine-bit-identical k-means as the IVF coarse quantizer
    * ([[fitCentroids]] — quantized-long means, deterministic seeds/ties).
    * @return (s, cell, cvec): m × k rows, `cvec` of dim/m doubles. */
  def pqCodebooks(corpus: DataFrame, m: Int, k: Int, rounds: Int,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val d = corpus.select(size(col(vecCol))).head.getInt(0)
    require(m > 0 && d % m == 0, s"dim $d must divide into m=$m subspaces")
    val sub = d / m
    (0 until m).map { s =>
      fitCentroids(
        corpus.select(col(idCol), slice(col(vecCol), s * sub + 1, sub).as("_sv")),
        k, rounds, idCol, "_sv")
        .select(lit(s).as("s"), col("cell"), col("cvec"))
    }.reduce(_.union(_))
  }

  /** PQ-encode the corpus: each row's vector becomes `m` small codes
    * (`code_0..code_{m-1}`, each the row's nearest codebook centroid in
    * that subspace) — the 4-byte-per-vector compressed index that makes
    * web-scale ANN memory-feasible (m bytes vs dim floats). Assignment
    * is the map-only literal-centroid fold per subspace
    * ([[assignCellsBroadcast]]): zero exchanges, the corpus never
    * shuffles to meet the codebooks. */
  def pqEncode(corpus: DataFrame, codebooks: DataFrame, m: Int,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val d = corpus.select(size(col(vecCol))).head.getInt(0)
    val sub = d / m
    (0 until m).foldLeft(corpus) { (df, s) =>
      assignCellsBroadcast(
        df.withColumn("_sv", slice(col(vecCol), s * sub + 1, sub)),
        codebooks.where(col("s") === s).select(col("cell"), col("cvec")),
        "_sv")
        .withColumnRenamed("cell", s"code_$s").drop("_sv")
    }
  }

  /** PQ top-k by asymmetric distance computation (ADC): per query, a
    * distance TABLE of `round(dot(q_sub, centroid) · 10⁶)` longs per
    * (subspace, centroid) is computed ONCE (m × k bounded entries,
    * inlined as literal arrays), and each corpus row's score is just m
    * array lookups summed — `Σ_s table_s[code_s]` — over its compressed
    * codes. All-integer scoring (quantized-long dots, ties by id), so an
    * oracle replays it exactly; float-sum order never matters.
    *
    * Scale: the classic PQ search shape — codebooks and query tables are
    * bounded and broadcast; the corpus side touches only its m small
    * codes per row (never the full vector), map-only until the per-query
    * top-k's WindowGroupLimit. Recall follows codebook quality like any
    * PQ index; brute force ([[bruteForceTopK]]) and SQ8 ([[sq8TopK]])
    * are the exact/cheap-exact baselines above it. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, m: Int, k: Int,
             rounds: Int, topK: Int,
             qId: String = "q_id", qVec: String = "q_vec",
             cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val d = corpus.select(size(col(cVec))).head.getInt(0)
    val sub = d / m
    val cb = pqCodebooks(corpus, m, k, rounds, cId, cVec).persist()
    val encoded = pqEncode(corpus, cb, m, cId, cVec)
      .select(col(cId) +: (0 until m).map(s => col(s"code_$s")): _*)
    // driver-side bounded collect: m × k × (d/m) doubles, like any
    // k-means barrier; inlined as literals into the query-table exprs
    val cents: Map[(Int, Long), Seq[Double]] = cb.collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Double](2)).toMap
    val qTabs = (0 until m).map { s =>
      array((0L until k.toLong).map { c =>
        round(dot(slice(col(qVec), s * sub + 1, sub),
          array(cents((s, c)).map(lit): _*)) * 1e6).cast("long")
      }: _*).as(s"_qt_$s")
    }
    val qt = queries.select(col(qId) +: qTabs: _*)
    val score = (0 until m).map(s =>
      element_at(col(s"_qt_$s"), (col(s"code_$s") + 1).cast("int")))
      .reduce(_ + _)
    val scored = encoded.crossJoin(broadcast(qt))
      .where(col(qId) =!= col(cId))
      .withColumn("score", score)
    val w = Window.partitionBy(col(qId)).orderBy(col("score").desc, col(cId))
    val out = scored.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= topK)
      .select(col(qId), col("rnk"), col(cId).as("neighbor_id"), col("score"))
    // every consumer of cb was a driver-side collect during this build
    // (pqEncode's per-subspace assignment + the query tables), so the
    // cache is dead weight once the plan is assembled — release it.
    cb.unpersist()
    out
  }

  /** Full faiss-style IVF-PQ search: a coarse quantizer ([[fitCentroids]]
    * on the full vector) prunes the corpus to the query's `nprobe`
    * nearest cells, then PQ asymmetric-distance scoring ([[pqTopK]]'s
    * table-lookup arithmetic) ranks ONLY the probed cells' codes — the
    * shape that serves billion-vector indexes: coarse cells bound the
    * candidate set, PQ codes bound the memory per candidate, and neither
    * step touches a full-precision corpus vector at query time.
    *
    * Scale: the assigned+encoded corpus is written once at ingest
    * (bucketed/partitioned by coarse cell → each probe is a
    * partition-pruned scan); codebooks, coarse centroids, and per-query
    * distance tables are all bounded broadcasts. Scoring is map-only to
    * the per-query WindowGroupLimit top-k. All-integer ADC scores, so
    * the oracle replays ranking exactly. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, kCells: Int,
                coarseRounds: Int, m: Int, k: Int, rounds: Int, topK: Int,
                nprobe: Int = 1,
                qId: String = "q_id", qVec: String = "q_vec",
                cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val d = corpus.select(size(col(cVec))).head.getInt(0)
    require(m > 0 && d % m == 0, s"dim $d must divide into m=$m subspaces")
    val sub = d / m
    val coarse = fitCentroids(corpus, kCells, coarseRounds, cId, cVec)
    val cb = pqCodebooks(corpus, m, k, rounds, cId, cVec).persist()
    // the per-subspace assignment inside pqEncode writes its own "cell"
    // column — stash the coarse cell under a reserved name around it
    val encoded = pqEncode(
      assignCellsBroadcast(corpus, coarse, cVec)
        .withColumnRenamed("cell", "_coarse"), cb, m, cId, cVec)
      .select(col(cId) +: col("_coarse").as("cell") +:
        (0 until m).map(s => col(s"code_$s")): _*)
    // route each query to its nprobe nearest coarse cells
    val routed = queries.crossJoin(broadcast(coarse))
      .withColumn("_d2", fastSqDist(queries)(col(qVec), col("cvec")))
    val wr = Window.partitionBy(col(qId)).orderBy(col("_d2"), col("cell"))
    val probes = routed.withColumn("_rn", row_number().over(wr))
      .where(col("_rn") <= nprobe)
      .select(col(qId), col(qVec), col("cell"))
    val cents: Map[(Int, Long), Seq[Double]] = cb.collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Double](2)).toMap
    val qTabs = (0 until m).map { s =>
      array((0L until k.toLong).map { c =>
        round(dot(slice(col(qVec), s * sub + 1, sub),
          array(cents((s, c)).map(lit): _*)) * 1e6).cast("long")
      }: _*).as(s"_qt_$s")
    }
    val qt = probes.select(col(qId) +: col("cell") +: qTabs: _*)
    val score = (0 until m).map(s =>
      element_at(col(s"_qt_$s"), (col(s"code_$s") + 1).cast("int")))
      .reduce(_ + _)
    val scored = encoded.join(broadcast(qt), Seq("cell"))
      .where(col(qId) =!= col(cId))
      .withColumn("score", score)
    val w = Window.partitionBy(col(qId)).orderBy(col("score").desc, col(cId))
    val out = scored.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= topK)
      .select(col(qId), col("cell"), col("rnk"), col(cId).as("neighbor_id"),
        col("score"))
    // cb fully consumed by driver-side collects during this build — release
    // (same rationale as pqTopK).
    cb.unpersist()
    out
  }

  /** Residual-encoded IVFADC — the textbook faiss `IndexIVFPQ` (Jégou et
    * al. 2011 §IV): PQ codebooks are fitted on RESIDUALS `x − c(x)`
    * (each vector minus its coarse centroid), and search approximates
    * the **L2 distance** `‖q − x‖² ≈ Σ_s ‖qr_sub − codebook_s[code_s]‖²`
    * where `qr = q − c(cell)` is the query's residual against each
    * probed cell — so the distance tables are PER (query, probed cell),
    * not per query. Residuals concentrate near zero, so the same m×k
    * codebook budget quantizes them with far less error than raw
    * vectors — the measured recall gap vs [[ivfPqTopK]] (raw-vector IP
    * ADC) is the point of the `data_sim_recall` comparison.
    *
    * Determinism/oracle contract: coarse + codebook k-means are the
    * bit-identical [[fitCentroids]]; residuals are per-coordinate
    * double subtractions (exact); distance-table entries are
    * `round(‖·‖²·10⁶)` longs; ranking is ascending integer distance,
    * ties by id.
    *
    * Scale: identical shape to [[ivfPqTopK]] — centroid/codebook
    * collects are bounded model pulls, residual computation is a
    * map-only literal-lookup projection (the corpus never shuffles),
    * tables ride the broadcast probe set (nq × nprobe rows), scoring is
    * m array lookups per code row, per-query top-k via
    * WindowGroupLimit. */
  def ivfAdcTopK(queries: DataFrame, corpus: DataFrame, kCells: Int,
                 coarseRounds: Int, m: Int, k: Int, rounds: Int, topK: Int,
                 nprobe: Int = 1,
                 qId: String = "q_id", qVec: String = "q_vec",
                 cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val d = corpus.select(size(col(cVec))).head.getInt(0)
    require(m > 0 && d % m == 0, s"dim $d must divide into m=$m subspaces")
    val sub = d / m
    val coarse = fitCentroids(corpus, kCells, coarseRounds, cId, cVec)
    // bounded model pull; cells are 0..kCells-1 by construction, so an
    // array literal indexed by cell+1 is the residual lookup table
    val coarseArr = coarse.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
    require(coarseArr.map(_._1).toSeq == (0L until coarseArr.length),
      "coarse cells must be contiguous 0..k-1")
    val cvecLit = array(coarseArr.map { case (_, v) =>
      array(v.map(lit): _*)
    }: _*)
    def residualOf(vec: Column, cell: Column): Column =
      zip_with(vec, element_at(cvecLit, (cell + 1).cast("int")),
        (x, y) => x.cast("double") - y)
    val assigned = assignCellsBroadcast(corpus, coarse, cVec)
      .where(col("cell") >= 0)
      .withColumn("_res", residualOf(col(cVec), col("cell")))
    val cb = pqCodebooks(assigned.select(col(cId), col("_res")),
      m, k, rounds, cId, "_res").persist()
    // pqEncode's per-subspace assignment writes its own "cell" column —
    // stash the coarse cell under a reserved name around it (same
    // contract as ivfPqTopK)
    val encoded = pqEncode(
      assigned.withColumnRenamed("cell", "_coarse"), cb, m, cId, "_res")
      .select(col(cId) +: col("_coarse").as("cell") +:
        (0 until m).map(s => col(s"code_$s")): _*)
    // route queries to nprobe nearest coarse cells (same as ivfPqTopK)
    val routed = queries.crossJoin(broadcast(coarse))
      .withColumn("_d2", fastSqDist(queries)(col(qVec), col("cvec")))
    val wr = Window.partitionBy(col(qId)).orderBy(col("_d2"), col("cell"))
    val probes = routed.withColumn("_rn", row_number().over(wr))
      .where(col("_rn") <= nprobe)
      .select(col(qId), col(qVec), col("cell"))
    val cents: Map[(Int, Long), Seq[Double]] = cb.collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Double](2)).toMap
    // per-(query, probed cell) L2 distance tables over the QUERY RESIDUAL
    // (sqDist's cast("double") is a no-op on the already-double residuals)
    val qrCol = residualOf(col(qVec), col("cell"))
    val qTabs = (0 until m).map { s =>
      array((0L until k.toLong).map { c =>
        round(fastSqDist(queries)(slice(qrCol, s * sub + 1, sub),
          array(cents((s, c)).map(lit): _*)) * 1e6).cast("long")
      }: _*).as(s"_qt_$s")
    }
    val qt = probes.select(col(qId) +: col("cell") +: qTabs: _*)
    val dist = (0 until m).map(s =>
      element_at(col(s"_qt_$s"), (col(s"code_$s") + 1).cast("int")))
      .reduce(_ + _)
    val scored = encoded.join(broadcast(qt), Seq("cell"))
      .where(col(qId) =!= col(cId))
      .withColumn("dist", dist)
    val w = Window.partitionBy(col(qId)).orderBy(col("dist"), col(cId))
    val out = scored.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= topK)
      .select(col(qId), col("cell"), col("rnk"), col(cId).as("neighbor_id"),
        col("dist"))
    cb.unpersist() // consumed by driver-side collects during the build
    out
  }

  /** Exact cosine re-rank of an ANN shortlist — the faiss `IndexRefine`
    * stage: the compressed index proposes `shortK` candidates per query
    * (cheap, lossy), then ONLY those candidates are re-scored against
    * their full-precision vectors and cut to `topK`. Recall approaches
    * the shortlist's candidate recall while the exact-scoring cost stays
    * O(queries × shortK), never O(corpus).
    *
    * Scale: the shortlist (queries × shortK rows + query vectors) is a
    * bounded broadcast; the full-precision fetch is one broadcast-hash
    * join against the corpus on id — the corpus is never shuffled and
    * only shortlisted rows' vectors are touched. Same left-fold cosine
    * as [[bruteForceTopK]], so ties and bits match any engine. */
  def refineTopK(shortlist: DataFrame, queries: DataFrame, corpus: DataFrame,
                 topK: Int,
                 qId: String = "q_id", qVec: String = "q_vec",
                 cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val d = fastDot(corpus) _
    val qn = queries.withColumn("q_norm", sqrt(d(col(qVec), col(qVec))))
    val cand = shortlist.select(col(qId), col("neighbor_id"))
      .join(qn, Seq(qId))
    val scored = corpus.join(broadcast(cand), col(cId) === col("neighbor_id"))
      .withColumn("cos_sim",
        d(col(qVec), col(cVec)) / (col("q_norm") * sqrt(d(col(cVec), col(cVec)))))
    val w = Window.partitionBy(col(qId)).orderBy(col("cos_sim").desc, col(cId))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= topK)
      .select(col(qId), col("rnk"), col("neighbor_id"), col("cos_sim"))
  }

  /** Two-stage IVF-PQ search with exact refine: [[ivfPqTopK]] proposes a
    * `shortK`-deep ADC shortlist, [[refineTopK]] re-scores it exactly and
    * cuts to `topK` — the standard production ladder (coarse cells bound
    * the candidates, PQ codes bound memory, refine recovers exact-metric
    * ordering among survivors). */
  def ivfPqRefineTopK(queries: DataFrame, corpus: DataFrame, kCells: Int,
                      coarseRounds: Int, m: Int, k: Int, rounds: Int,
                      shortK: Int, topK: Int, nprobe: Int = 1,
                      qId: String = "q_id", qVec: String = "q_vec",
                      cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val shortlist = ivfPqTopK(queries, corpus, kCells, coarseRounds, m, k,
      rounds, shortK, nprobe, qId, qVec, cId, cVec)
    refineTopK(shortlist, queries, corpus, topK, qId, qVec, cId, cVec)
  }

  /** Element-wise difference (a - b) in doubles — centering helper. */
  def vecSub(a: Column, b: Column): Column =
    zip_with(a, b, (x, y) => x.cast("double") - y)

  private def dotDD(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** Top principal component of the embedding column by FIXED-ROUND power
    * iteration — the whitening/outlier-scoring step of an embedding
    * curation pipeline, in the same cross-engine-deterministic arithmetic
    * as [[fitCentroids]]: the mean and every matrix-vector product
    * `C·v = Σ x̄ (x̄ᵀv)` accumulate as sums of 1e-3-quantized LONGS
    * (order-independent), while per-row dot products and the final
    * normalization are index-ordered left folds. Deterministic init
    * (v₀ = e₁) and a fixed round budget, so an oracle can replay the
    * exact rounds in SQL.
    *
    * Scale: each round is one broadcast of the (mean, v) row, a map-only
    * pass over the corpus, and an aggregation keyed by coordinate —
    * shuffle O(dim) after map-side combine; the corpus is never shuffled.
    *
    * @return a 1-row DataFrame (mean: array<double>, v: array<double>)
    *         with v the unit-norm PC1 estimate after `rounds` iterations. */
  def pc1(corpus: DataFrame, rounds: Int,
          vecCol: String = "embedding"): DataFrame = {
    require(rounds >= 1, s"need rounds >= 1, got $rounds")
    val mean = corpus.select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(sum(round(col("x").cast("double") * 1000).cast("long")).as("s"),
        count(lit(1)).as("n"))
      .withColumn("mv", col("s").cast("double") / (col("n") * 1000).cast("double"))
      .groupBy()
      .agg(array_sort(collect_list(struct(col("pos"), col("mv")))).as("pm"))
      .select(transform(col("pm"), _.getField("mv")).as("mean"))
    var comp = mean.select(col("mean"),
      transform(col("mean"), (_, i) => when(i === 0, 1.0).otherwise(0.0)).as("v"))
    for (_ <- 1 to rounds) {
      val w = corpus.crossJoin(broadcast(comp))
        .withColumn("cx", vecSub(col(vecCol), col("mean")))
        .withColumn("d", dotDD(col("cx"), col("v")))
        .select(col("d"), posexplode(col("cx")).as(Seq("pos", "cxj")))
        .groupBy(col("pos"))
        .agg(sum(round(col("d") * col("cxj") * 1000).cast("long")).as("sw"))
        .groupBy()
        .agg(array_sort(collect_list(struct(col("pos"), col("sw")))).as("ps"))
        .select(transform(col("ps"), _.getField("sw").cast("double")).as("w"))
      val norm = sqrt(aggregate(col("w"), lit(0.0), (a, x) => a + x * x))
      comp = mean.crossJoin(w)
        .select(col("mean"), transform(col("w"), x => x / norm).as("v"))
    }
    comp
  }

  /** OPQ-style learned orthogonal rotation (Ge et al. 2013, "Optimized
    * Product Quantization" — the parametric family, which derives the
    * rotation from the data's principal structure instead of the
    * non-parametric SVD alternation): a Householder reflection
    * `H = I − 2uuᵀ` with `u = normalize(v₁ − e₁)` maps the corpus's top
    * principal direction `v₁` onto the first coordinate axis, so the
    * dominant variance lands whole inside subspace 0's codebook instead
    * of smearing across subspace boundaries. Trained with the same
    * bounded budget as every other fitted index ([[pc1]]'s fixed-round
    * power iteration); the returned `u` is the bounded model artifact.
    *
    * Orthogonality means `dot(Hq, Hx) = dot(q, x)`: the downstream ADC
    * ranking arithmetic is untouched — only the QUANTIZATION cells
    * change, which is the entire point of OPQ. On a corpus with a flat
    * covariance spectrum (this testdata: PC1 carries 2.8% of total
    * variance) the rotation is measured recall-NEUTRAL vs plain PQ —
    * the textbook OPQ result that gains concentrate on anisotropic
    * embeddings (DataOpsSpec proves the gain on a constructed
    * anisotropic corpus).
    *
    * Determinism: `v₁` is the bit-identical [[pc1]]; the subtraction,
    * index-ordered square fold and normalization below are plain double
    * arithmetic an oracle replays operation-for-operation. A degenerate
    * `v₁ ≈ e₁` (norm under 1e-12) returns the zero vector — H = I. */
  def opqHouseholder(corpus: DataFrame, rounds: Int,
                     vecCol: String = "embedding"): Array[Double] = {
    val v = pc1(corpus, rounds, vecCol).head.getSeq[Double](1).toArray
    val vm = v.clone(); vm(0) -= 1.0
    var s = 0.0
    var i = 0
    while (i < vm.length) { s += vm(i) * vm(i); i += 1 }
    val nrm = math.sqrt(s)
    if (nrm < 1e-12) vm.map(_ => 0.0) else vm.map(_ / nrm)
  }

  /** Apply the [[opqHouseholder]] reflection to a vector column:
    * `x ↦ x − 2(u·x)u`, output doubles. Map-only with `u` inlined as a
    * literal — the corpus never shuffles to meet the rotation. Callers
    * on a hot path should MATERIALIZE the rotated corpus (memo/persist):
    * the reflected coordinates all reference the shared `u·x` fold, and
    * an inlined projection would re-evaluate it per coordinate. */
  def opqRotate(df: DataFrame, vecCol: String,
                u: Array[Double]): DataFrame = {
    val uLit = array(u.map(lit): _*)
    // collision-resistant staging name: never clobber a caller column
    val ud = Iterator.from(0).map(i => s"_graft_opq_ud$i")
      .find(n => !df.columns.contains(n)).get
    df.withColumn(ud,
        aggregate(zip_with(col(vecCol), uLit, (x, y) => x.cast("double") * y),
          lit(0.0), (a, x) => a + x))
      .withColumn(vecCol, zip_with(col(vecCol), uLit,
        (x, uu) => x.cast("double") - lit(2.0) * col(ud) * uu))
      .drop(ud)
  }

  /** Per-vector projection onto [[pc1]]: the scalar whitening feature
    * (outlier score) — `(x - mean) · v`. */
  def pc1Scores(corpus: DataFrame, rounds: Int, idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame =
    corpus.crossJoin(broadcast(pc1(corpus, rounds, vecCol)))
      .select(col(idCol),
        dotDD(vecSub(col(vecCol), col("mean")), col("v")).as("pc1_score"))

  /** Deterministic cell representatives: the min-id member per cell. */
  def representatives(corpus: DataFrame, cellCol: String, idCol: String,
                      vecCol: String): DataFrame = {
    val minIds = corpus.groupBy(col(cellCol)).agg(min(col(idCol)).as(idCol))
    corpus.join(minIds, Seq(cellCol, idCol))
      .select(col(cellCol).as("cell"), col(vecCol).as("rep_vec"))
  }

  /** IVF-style search: route each query to its `nprobe` nearest
    * representatives' cells, then brute-force only within those cells.
    * `nprobe` is the standard IVF recall/cost knob — 1 probes a single
    * cell (fastest, lowest recall); raising it approaches brute force.
    * Probed cells are disjoint, so each corpus row scores at most once
    * and the final per-query rank is global across probes. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, cellCol: String, k: Int,
              nprobe: Int = 1,
              qId: String = "q_id", qVec: String = "q_vec",
              cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val reps = representatives(corpus, cellCol, cId, cVec)
    val scored = queries.crossJoin(broadcast(reps))
      .withColumn("rep_sim", cosineFast(corpus)(col(qVec), col("rep_vec")))
    val wAssign = Window.partitionBy(col(qId))
      .orderBy(col("rep_sim").desc, col("cell"))
    val assigned = scored.withColumn("rn", row_number().over(wAssign))
      .where(col("rn") <= nprobe)
      .select(col(qId), col(qVec), col("cell"))
    val inCell = corpus.join(broadcast(assigned), corpus(cellCol) === col("cell"))
      .where(col(qId) =!= col(cId))
      .withColumn("cos_sim", cosineFast(corpus)(col(qVec), col(cVec)))
    val wTop = Window.partitionBy(col(qId)).orderBy(col("cos_sim").desc, col(cId))
    inCell.withColumn("rnk", row_number().over(wTop).cast("long"))
      .where(col("rnk") <= k)
      .select(col(qId), col("cell"), col("rnk"), col(cId).as("neighbor_id"),
        col("cos_sim"))
  }
}
