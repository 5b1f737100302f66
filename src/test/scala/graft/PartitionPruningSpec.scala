package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The 100 TB layout for the reference's P2 time-range filter: the fact
  * table written partitioned by month, so the range predicate prunes whole
  * directories at planning time (`PartitionFilters` in the scan, only the
  * matching partitions listed).
  */
class PartitionPruningSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def pin(p: String) = graft.data.IndexManifest.load(spark, p).get

  test("month-partitioned write + range filter prunes partitions") {
    val dir = Files.createTempDirectory("graft_part").toString + "/orders_by_month"
    val o = Tables.orders(spark, TestSpark.sf)
      .withColumn("month", date_format(col("o_orderdate"), "yyyy-MM"))
    o.write.partitionBy("month").mode("overwrite").parquet(dir)

    val filtered = spark.read.parquet(dir)
      .where(col("month") >= "1997-01" && col("month") < "1997-04")
    val scan = filtered.queryExecution.executedPlan.toString

    assert(scan.contains("PartitionFilters"), scan)
    // data filters must NOT be needed for month — it's a partition column
    assert(!scan.contains("PushedFilters: [IsNotNull(month)"), scan)

    val expected = o.where(col("month") >= "1997-01" && col("month") < "1997-04")
      .count()
    assert(filtered.count() == expected && expected > 0)

    // the scan's file listing only covers the 3 matching month directories
    val matched = filtered.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.partitionCount
      }
    assert(matched.contains(3), s"expected 3 partitions, got $matched")
  }

  test("cell-partitioned ANN corpus: an nprobe probe scans only its cell dirs") {
    import spark.implicits._
    // The fitted-IVF 100 TB layout: assignment written partitionBy(cell),
    // so a probe of nprobe cells is a planning-time directory prune — the
    // claim in Similarity.ivfTopKFitted's doc, locked here.
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val cents = graft.data.Similarity.fitCentroids(emb, k = 4, rounds = 1)
    val assigned = graft.data.Similarity.assignCells(emb, cents)
    val dir = Files.createTempDirectory("graft_ivf").toString + "/corpus_by_cell"
    assigned.write.partitionBy("cell").mode("overwrite").parquet(dir)

    val nCells = assigned.select($"cell").distinct().count()
    assert(nCells >= 3, s"fixture degenerate: only $nCells cells")
    val probe = spark.read.parquet(dir).where($"cell".isin(0L, 1L))
    val scanned = probe.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.partitionCount
      }
    assert(scanned.contains(2), s"expected 2 of $nCells cell dirs, got $scanned")
    assert(probe.count() ==
      assigned.where($"cell".isin(0L, 1L)).count())
  }

  test("indexedCellScreen plan: index streamed through a BroadcastHashJoin " +
      "with dynamic partition pruning on the shard key") {
    import spark.implicits._
    import graft.data.Dedup
    // the maintained-index serve's plan contract (PLANS.md audit note,
    // locked here): the stored index side must never shuffle (BHJ with
    // the batch broadcast) and the shard directory key must carry a
    // dynamicpruning expression fed by that broadcast. The corpus is the
    // real documents table — DPP's benefit heuristic (pruning ratio ×
    // scan size) correctly declines on a few-KB toy index, so the spec
    // pins the real-fixture scale the shipped query runs at.
    val docs = Tables.documents(spark, TestSpark.sf)
      .select($"doc_id", $"text")
    // the real query's split shape: DPP's planner additionally requires a
    // SELECTIVE predicate on the filtering (batch) side — a bare literal
    // relation would decline the pruning even when beneficial
    val corpus = docs.where($"doc_id" < 480)
    val batch = docs.where($"doc_id" >= 480)
    val dir = Files.createTempDirectory("graft_idx_plan").toString + "/cells"
    Dedup.writeCellIndex(corpus, "doc_id", "text", 2, dir)
    // AQE off, like the bench/ScaleBench sessions whose plan PLANS.md
    // audits: under AQE the pruning filter is planned adaptively and the
    // static sparkPlan would not show it
    val aqePrev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
    val served = Dedup.indexedCellScreen(
      Dedup.cellHashes(batch, "doc_id", "text", 2),
      graft.data.IndexManifest.readData(spark, dir), "doc_id")
    val plan = served.queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the real never-shuffle-the-index contract: no ShuffleExchange may
    // sit ABOVE the stored index's scan (the totals⋈hits join shuffles
    // batch-sized aggregates — that one is fine and expected)
    val indexShuffled = served.queryExecution.sparkPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.exists(_.collectLeaves().exists {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metadata.get("Location").exists(_.contains("graft_idx_plan"))
      case _ => false
    })
    assert(!indexShuffled, "the stored index must never sit below a shuffle")
    val idxScan = served.queryExecution.sparkPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.metadata.get("Location").exists(_.contains("graft_idx_plan")) =>
          f.metadata.getOrElse("PartitionFilters", "")
      }
    assert(idxScan.nonEmpty, "no file scan over the stored index found")
    assert(idxScan.get.contains("dynamicpruning"),
      s"shard key carries no dynamic pruning: ${idxScan.get}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqePrev)
  }

  test("indexedBandScreen plan: band index streamed through a " +
      "BroadcastHashJoin with dynamic partition pruning on the shard key") {
    import spark.implicits._
    import graft.data.Dedup
    // the near-dup serve must keep the cell serve's exact plan contract:
    // index never below a shuffle, batch broadcast builds the join, and
    // the bucket-shard directory key carries a dynamicpruning expression
    val docs = Tables.documents(spark, TestSpark.sf)
      .select($"doc_id", $"text")
    val corpus = docs.where($"doc_id" < 480)
    val batch = docs.where($"doc_id" >= 480)
    val dir = Files.createTempDirectory("graft_band_plan").toString + "/bands"
    Dedup.writeBandIndex(Dedup.bandRows(corpus, "doc_id", "text", 12, 4, 3),
      "doc_id", cap = 256, dir)
    val aqePrev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val served = Dedup.indexedBandScreen(
        Dedup.bandRows(batch, "doc_id", "text", 12, 4, 3),
        graft.data.IndexManifest.readData(spark, dir), "doc_id")
      val plan = served.queryExecution.sparkPlan.toString
      assert(plan.contains("BroadcastHashJoin"), plan)
      val indexShuffled = served.queryExecution.sparkPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.exists(_.collectLeaves().exists {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metadata.get("Location").exists(_.contains("graft_band_plan"))
        case _ => false
      })
      assert(!indexShuffled, "the stored band index must never sit below a shuffle")
      val idxScan = served.queryExecution.sparkPlan.collectLeaves()
        .collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec
              if f.metadata.get("Location").exists(_.contains("graft_band_plan")) =>
            f.metadata.getOrElse("PartitionFilters", "")
        }
      assert(idxScan.nonEmpty, "no file scan over the stored band index found")
      assert(idxScan.get.contains("dynamicpruning"),
        s"shard key carries no dynamic pruning: ${idxScan.get}")
      // no Expand: Spark's rewrite of several distinct aggregates orders
      // its projections differently from run to run
      val optimized = served.queryExecution.optimizedPlan
      assert(optimized.collect {
        case e: org.apache.spark.sql.catalyst.plans.logical.Expand => e
      }.isEmpty, s"the band screen plans an Expand:\n$optimized")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqePrev)
  }

  test("maintained IVF index: serve-after-append equals a from-scratch " +
      "recompute with the stored centroids, probe read still prunes") {
    import spark.implicits._
    import graft.data.Similarity
    val all = Tables.embeddings(spark, TestSpark.sf)
      .select($"vec_id", $"embedding")
    val corpus = all.where($"vec_id" < 480)
    val batch = all.where($"vec_id" >= 480)
    val dir = Files.createTempDirectory("graft_ivf_idx").toString + "/at"
    Similarity.writeIvfIndex(corpus, kCells = 4, rounds = 1, dir)
    // model artifacts persist as versioned, manifest-pinned subdirs the
    // corpus scan skips
    assert(Similarity.readIvfCentroids(spark, pin(dir)).count() == 4L)
    assert(graft.data.IndexManifest.readArtifact(spark, dir, "cellsizes")
      .count() > 0L)
    val nBuild = spark.read.parquet(dir).count()
    Similarity.appendIvfIndex(batch, dir)
    assert(spark.read.parquet(dir).count() == nBuild + batch.count())
    // idempotent like the dedup appends: an at-least-once replay of the
    // same batch must not duplicate index rows
    Similarity.appendIvfIndex(batch, dir)
    assert(spark.read.parquet(dir).count() == nBuild + batch.count(),
      "re-append must be a no-op")
    val q = all.where($"vec_id" < 2)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val served = Similarity.ivfIndexServe(q, pin(dir), k = 3, nprobe = 2)
    val got = served.orderBy("q_id", "rnk")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    // from-scratch recompute with the SAME (stored) centroids: fit on
    // the corpus slice, assign corpus∪batch, score the probed cells —
    // frozen-centroid ingest must be invisible to the result
    val cents = Similarity.readIvfCentroids(spark, pin(dir))
    val assigned = Similarity.assignCellsBroadcast(all, cents)
    val routed = q.crossJoin(broadcast(cents))
      .withColumn("d2", Similarity.sqDist($"q_vec", $"cvec"))
    val wA = org.apache.spark.sql.expressions.Window
      .partitionBy($"q_id").orderBy($"d2", $"cell")
    val probes = routed.withColumn("rn", row_number().over(wA))
      .where($"rn" <= 2).select($"q_id", $"q_vec", $"cell")
    val wT = org.apache.spark.sql.expressions.Window
      .partitionBy($"q_id").orderBy($"cos_sim".desc, $"vec_id")
    val want = assigned.join(broadcast(probes), Seq("cell"))
      .where($"q_id" =!= $"vec_id")
      .withColumn("cos_sim", Similarity.cosine($"q_vec", $"embedding"))
      .withColumn("rnk", row_number().over(wT).cast("long"))
      .where($"rnk" <= 3)
      .select($"q_id", $"cell", $"rnk", $"vec_id", $"cos_sim")
      .orderBy("q_id", "rnk")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(got.nonEmpty && got == want)
    // the probe scan prunes: fewer cell directories listed than exist
    val scan = served.queryExecution.sparkPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.metadata.get("Location").exists(_.contains("graft_ivf_idx")) =>
          (f.selectedPartitions.partitionCount,
            f.metadata.getOrElse("PartitionFilters", ""))
      }
    assert(scan.nonEmpty, "no file scan over the maintained index found")
    val nCells = spark.read.parquet(dir).select($"cell").distinct().count()
    assert(scan.get._1 < nCells && scan.get._2.contains("cell"),
      s"expected a pruned probe read, got $scan of $nCells cells")
    // drift accounting: the appended batch is exactly the added mass,
    // and n_now == n_build + n_added per cell
    val drift = Similarity.ivfDrift(spark, pin(dir))
    val rows = drift.select($"n_build", $"n_now", $"n_added")
      .as[(Long, Long, Long)].collect().toSeq
    assert(rows.map(_._3).sum == batch.count())
    assert(rows.forall(r => r._2 == r._1 + r._3))
    // compaction works on the cell-partitioned layout too (the append
    // above left 2 files in every touched cell dir): files collapse,
    // the model artifacts survive, and the serve is bit-identical
    val (nComp, fb, fa) = graft.data.Dedup.compactIndex(
      spark, dir, maxFilesPerShard = 1, partitionCol = "cell")
    assert(nComp > 0 && fb > fa, s"no cell compaction: $nComp, $fb -> $fa")
    assert(Similarity.readIvfCentroids(spark, pin(dir)).count() == 4L)
    assert(graft.data.IndexManifest.readArtifact(spark, dir, "cellsizes")
      .count() > 0L)
    val got2 = Similarity.ivfIndexServe(q, pin(dir), k = 3, nprobe = 2)
      .orderBy("q_id", "rnk")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(got2 == got, "serve must be identical after cell compaction")
  }

  test("retrainIvfIndex: serve-after-retrain equals a fresh build; v1 " +
      "serves during the v2 build; drift baseline resets") {
    import spark.implicits._
    import graft.data.{IndexManifest, Similarity}
    val all = Tables.embeddings(spark, TestSpark.sf)
      .select($"vec_id", $"embedding")
    val corpus = all.where($"vec_id" < 480)
    val batch = all.where($"vec_id" >= 480)
    val dir = Files.createTempDirectory("graft_ivf_retrain").toString + "/at"
    Similarity.writeIvfIndex(corpus, kCells = 4, rounds = 1, dir)
    Similarity.appendIvfIndex(batch, dir)
    val q = all.where($"vec_id" < 2)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    def serve(p: String) = Similarity.ivfIndexServe(q, pin(p), k = 3, nprobe = 2)
      .orderBy("q_id", "rnk")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    val v1 = serve(dir)
    // availability law: a serve planned DURING the rebuild — after the
    // v2 files are fully written, right before the commit — still
    // returns v1 (the commit is the only visibility point)
    var during: Seq[(Long, Long, Long, Long, Double)] = null
    Similarity.retrainIvfIndex(spark, dir, kCells = 4, rounds = 1,
      preCommitHook = () => { during = serve(dir) })
    assert(during == v1, "a serve during the v2 build must still see v1")
    // result law: indistinguishable from a fresh build over the same rows
    val fresh = Files.createTempDirectory("graft_ivf_fresh").toString + "/at"
    Similarity.writeIvfIndex(all, kCells = 4, rounds = 1, fresh)
    assert(serve(dir) == serve(fresh))
    // the old generation is gone (no row inflation), baseline is reset
    assert(IndexManifest.readData(spark, dir).count() == all.count())
    assert(spark.read.parquet(dir).count() == all.count())
    val drift = Similarity.ivfDrift(spark, pin(dir))
      .select($"n_build", $"n_now", $"needs_retrain")
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(drift.nonEmpty && drift.forall(r => r._1 == r._2 && !r._3),
      s"retrain must reset the drift baseline: $drift")
  }

  test("retrain vs gate concurrency: an append landing inside the " +
      "retrain's claim window wins the version; the retrain reloads and " +
      "REFITS over the winner's rows — nothing is silently dropped") {
    import spark.implicits._
    import graft.data.{IndexManifest, Similarity}
    val all = Tables.embeddings(spark, TestSpark.sf)
      .select($"vec_id", $"embedding")
    val corpus = all.where($"vec_id" < 470)
    val batch1 = all.where($"vec_id" >= 470 && $"vec_id" < 480)
    val batch2 = all.where($"vec_id" >= 480)
    val dir = Files.createTempDirectory("graft_ivf_race").toString + "/at"
    Similarity.writeIvfIndex(corpus, kCells = 4, rounds = 1, dir)
    Similarity.appendIvfIndex(batch1, dir)
    // the gate's append commits INSIDE the retrain's claim window: the
    // retrain's CAS at snapshot.version + 1 must lose loudly and refit
    // over the winner's snapshot — an unpinned commit would publish a
    // generation FIT WITHOUT batch2, silently dropping its rows
    var interleaved = false
    Similarity.retrainIvfIndex(spark, dir, kCells = 4, rounds = 1,
      preCommitHook = () => if (!interleaved) {
        interleaved = true
        Similarity.appendIvfIndex(batch2, dir)
      })
    assert(interleaved, "the seam must have run")
    // every row — corpus, batch1, AND the interleaved batch2 — is in
    // the new generation, exactly once
    assert(IndexManifest.readData(spark, dir).count() == all.count())
    // and serving equals a fresh build over the full row set (the
    // result law survives the retry)
    val q = all.where($"vec_id" < 2)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val fresh = Files.createTempDirectory("graft_ivf_race_fresh")
      .toString + "/at"
    Similarity.writeIvfIndex(all, kCells = 4, rounds = 1, fresh)
    def serve(p: String) = Similarity.ivfIndexServe(q, pin(p), k = 3, nprobe = 2)
      .orderBy("q_id", "rnk")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(serve(dir) == serve(fresh),
      "serve after the raced retrain must equal a fresh full build")
  }

  test("ivfTopKFittedPruned: pruned-read result == unpruned, plan prunes") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, TestSpark.sf)
    // 2 queries x nprobe 2 <= 4 of 8 cells: the probe union must NOT
    // saturate the cell set, or there is nothing left to prune
    val q = emb.where($"vec_id" < 2)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val dir = Files.createTempDirectory("graft_ivf_pruned_spec").toString + "/at"
    val pruned = graft.data.Similarity.ivfTopKFittedPruned(
      q, emb, kCells = 8, rounds = 2, k = 3, nprobe = 2, outDir = dir)
    val unpruned = graft.data.Similarity.ivfTopKFitted(
      q, emb, kCells = 8, rounds = 2, k = 3, nprobe = 2)
    val a = pruned.orderBy("q_id", "rnk")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    val b = unpruned.orderBy("q_id", "rnk")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(a.nonEmpty && a == b, "pruned probe must lose nothing")
    // the probe scan must prune at planning time: fewer partitions listed
    // than cells exist, and the IN filter in PartitionFilters. (sparkPlan,
    // not executedPlan: AQE wraps the joined query in AdaptiveSparkPlanExec
    // whose leaves are not the file scans.)
    val scan = pruned.queryExecution.sparkPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.metadata.get("Location").exists(_.contains("graft_ivf_pruned_spec")) =>
          (f.selectedPartitions.partitionCount,
            f.metadata.getOrElse("PartitionFilters", ""))
      }
    assert(scan.nonEmpty, "no file scan over the partitioned corpus found")
    val (nParts, pf) = scan.get
    assert(pf.contains("cell"), s"partition filter missing: $pf")
    val nCells = spark.read.parquet(dir).select($"cell").distinct().count()
    assert(nParts < nCells, s"scanned $nParts of $nCells cells — no pruning")
  }
}
