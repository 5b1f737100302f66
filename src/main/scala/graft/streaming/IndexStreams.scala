package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.data.{Dedup, IndexManifest, Indexing, Similarity}

/** Streaming ingest gates of the MAINTAINED indexes — exact cells
  * ([[screenStream]]), MinHash bands ([[bandScreenStream]]), IVF
  * vectors ([[vectorIngestStream]]), tokenized shards
  * ([[shardIngestStream]]), component edges ([[edgeIngestStream]]) and
  * TF-IDF postings ([[postingsIngestStream]]). Every gate screens and/or
  * appends each micro-batch against its index with the same serve and
  * append the batch pipeline uses, so a page re-crawled in a LATER batch
  * screens as duplicate without any state-store state: the state-store
  * approaches (MediaStreams' keeper gate, CurationStreams' TTL'd hash
  * set) keep state in memory per key; these keep it at rest, the shape
  * an incremental crawl actually runs. All six run one skeleton
  * ([[gate]]), which holds the contract they share.
  */
object IndexStreams {

  /** THE GATE CONTRACT — the one skeleton all six gates run. A gate
    * supplies only its per-batch `step`: screen and/or append the batch,
    * and return its receipt rows (the gate's own columns) with the
    * maintenance to run after them. The skeleton owns the rest:
    *
    *   - The index is the state: durable, at rest, shared with the batch
    *     pipeline and unbounded by executor memory. Nothing accumulates
    *     in memory across batches.
    *   - Each batch is planned again. foreachBatch rather than a stateful
    *     operator, deliberately: the screen is a JOIN against a mutable
    *     at-rest table, which Structured Streaming's stream-static joins
    *     would plan once and never re-list; a step plans against the
    *     manifest head it loads, so it sees every earlier batch's
    *     appends. A screen pins the PRE-append snapshot at construction,
    *     so running the append before the receipt write leaves the
    *     verdicts pre-batch (one self-consistent set), and append vacuums
    *     delete zero data files (superset property), so the pinned plan
    *     never races them.
    *   - Static literal-IN shard pruning: a checkpointed micro-batch is a
    *     bare relation, so the DPP planner declines (the
    *     selective-predicate rule [[graft.data.Dedup.indexedCellScreen]]
    *     documents); a screen prunes STATICALLY instead — the batch's
    *     distinct shard ids are a bounded driver pull (≤ the shard
    *     universe) and the literal IN lands in PartitionFilters at
    *     planning time ([[prunedIndex]]).
    *   - Dynamic overwrite: the receipt OVERWRITES its `batch_id`
    *     partition of `outPath`, so foreachBatch's at-least-once replays
    *     REPLACE a batch's rows (a replay after a committed append
    *     re-screens against the appended index — one self-consistent
    *     verdict set per batch, never contradictory duplicates). The
    *     appends are idempotent by construction (novel = anti-join
    *     against the current index; a replay adds — and commits —
    *     nothing).
    *   - The receipt carries the retention state after the step's
    *     append: `manifest_version`, `n_retained_versions` and
    *     `oldest_retained_version` (everything below it has been
    *     physically pruned) from one listing of the manifest directory,
    *     then `batch_id`.
    *   - Maintenance (compaction, fold, retrain) runs only after the
    *     receipt is on disk: it DELETES superseded files the pinned
    *     receipt plan may still reference. It is safe at all because
    *     foreachBatch serializes batches, making the gate the index's
    *     single writer (the rewrite contract). A receipt therefore shows
    *     the pre-maintenance horizon.
    *
    * `retainVersions` is each gate's retention window
    * ([[graft.data.IndexManifest.vacuum]]), enforced on EVERY mutation:
    * each append's commit ends with `vacuum(retainVersions)`, so a
    * long-lived gate keeps a BOUNDED manifest horizon — maintenance cost
    * per batch is O(retainVersions), not O(stream age) — and maintenance
    * vacuums to the same window. A continuously-serving pipeline sets
    * ≥ 2 so a serve EXECUTING against the pre-mutation snapshot never
    * races a superseded file's deletion; an append-only stretch is safe
    * even at 1 (append manifests reference supersets, so pruning them
    * deletes zero data files). */
  private def gate(input: DataFrame, indexPath: String, outPath: String,
                   checkpoint: String)(
      step: (DataFrame, Long) => (DataFrame, () => Unit)): StreamingQuery =
    input.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        val (receipt, maintenance) = step(batch.toDF(), id)
        val vs = IndexManifest.versions(batch.sparkSession, indexPath)
        receipt
          .withColumn("manifest_version", lit(vs.lastOption.getOrElse(0L)))
          .withColumn("n_retained_versions", lit(vs.length.toLong))
          .withColumn("oldest_retained_version",
            lit(vs.headOption.getOrElse(0L)))
          .withColumn("batch_id", lit(id))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(outPath)
        maintenance()
      }
      .start()

  /** Whether batch `id` closes a `compactEvery` period (0 disables). */
  private def due(id: Long, compactEvery: Int): Boolean =
    compactEvery > 0 && (id + 1) % compactEvery == 0

  /** The head of a shard-partitioned index pruned to the shards of
    * `keys`' hash column — the static literal-IN prune. */
  private def prunedIndex(indexPath: String, keys: DataFrame,
                          hashCol: String): DataFrame = {
    val shards = keys.select(Dedup.cellShard(col(hashCol)).as("shard"))
      .distinct().collect().map(r => Integer.valueOf(r.getInt(0))).toSeq
    IndexManifest.readData(keys.sparkSession, indexPath)
      .where(col("shard").isin(shards: _*))
  }

  /** The exact-cell gate: each batch's cells are screened by
    * [[graft.data.Dedup.indexedCellScreen]] and, under `maintain`,
    * their novel cells appended ([[graft.data.Dedup.appendCellIndex]]);
    * every `compactEvery` batches the index is compacted to
    * `maxFilesPerShard` ([[graft.data.Dedup.compactIndex]]). */
  def screenStream(docs: DataFrame, indexPath: String, outPath: String,
                   cellWords: Int, maintain: Boolean,
                   checkpoint: String, compactEvery: Int = 0,
                   maxFilesPerShard: Int = 4,
                   retainVersions: Int = 1): StreamingQuery =
    gate(docs, indexPath, outPath, checkpoint) { (batch, id) =>
      // one cell build feeds both the screen and the append
      val cells = Dedup.cellHashes(batch, "doc_id", "text", cellWords)
        .localCheckpoint(true)
      val screened = Dedup.indexedCellScreen(cells,
        prunedIndex(indexPath, cells, "cell_hash"), "doc_id")
      if (maintain)
        Dedup.appendCellIndex(cells, indexPath, retainVersions = retainVersions)
      (screened, () =>
        if (maintain && due(id, compactEvery))
          Dedup.compactIndex(batch.sparkSession, indexPath, maxFilesPerShard,
            retainVersions = retainVersions): Unit)
    }

  /** The NEAR-dup gate: each batch's LSH band rows are screened against
    * the stored band index ([[graft.data.Dedup.indexedBandScreen]]) and,
    * under `maintain`, appended ([[graft.data.Dedup.appendBandIndex]],
    * the build-time hot-bucket cap enforced on every append) — so a
    * PARAPHRASE of a document first seen in an earlier batch flags as a
    * candidate in every later batch (the cross-batch first-seen law, one
    * similarity notch over [[screenStream]]). Compaction as there. */
  def bandScreenStream(docs: DataFrame, indexPath: String, outPath: String,
                       k: Int, b: Int, r: Int, cap: Int, maintain: Boolean,
                       checkpoint: String, compactEvery: Int = 0,
                       maxFilesPerShard: Int = 4,
                       retainVersions: Int = 1): StreamingQuery =
    gate(docs, indexPath, outPath, checkpoint) { (batch, id) =>
      // one signature build feeds both the screen and the append
      val bands = Dedup.bandRows(batch, "doc_id", "text", k, b, r)
        .localCheckpoint(true)
      val screened = Dedup.indexedBandScreen(bands,
        prunedIndex(indexPath, bands, "bucket"), "doc_id")
      if (maintain)
        Dedup.appendBandIndex(bands, "doc_id", cap, indexPath,
          retainVersions = retainVersions)
      (screened, () =>
        if (maintain && due(id, compactEvery))
          Dedup.compactIndex(batch.sparkSession, indexPath, maxFilesPerShard,
            retainVersions = retainVersions): Unit)
    }

  /** The SEMANTIC-dup gate — streaming SemDeDup served from the
    * maintained IVF index: each batch of (vec_id, embedding) rows is
    * routed through the stored centroids to its probed cells, its
    * nearest STORED neighbor's cosine decides `is_semantic_dup` (`tau`
    * = the SemDeDup threshold), and under `maintain` the batch is
    * appended with the frozen centroids — so a near-identical embedding
    * in any LATER batch flags against this one. On a replay, a vector's
    * own stored row is invisible through the serve's self-id exclusion,
    * though an intra-batch near-dup PAIR both flag where only the later
    * id flagged the first time.
    *
    * The receipt adds `n_cells_need_retrain`: the POST-append
    * [[graft.data.Similarity.ivfDrift]] audit (footer-only counts), so a
    * skewed batch flips the receipt ON THE BATCH THAT CAUSED IT. With
    * `retrainRounds > 0` the gate answers that signal as its
    * maintenance ([[graft.data.Similarity.retrainIvfIndex]], same cell
    * count, `retrainRounds` k-means rounds — serving-invisible, one
    * atomic commit); otherwise it compacts the cell directories every
    * `compactEvery` batches. */
  def vectorIngestStream(vecs: DataFrame, indexPath: String, outPath: String,
                         nprobe: Int, tau: Double, maintain: Boolean,
                         checkpoint: String, compactEvery: Int = 0,
                         maxFilesPerShard: Int = 4,
                         retrainRounds: Int = 0,
                         retainVersions: Int = 1): StreamingQuery =
    gate(vecs, indexPath, outPath, checkpoint) { (batch, id) =>
      val spark = batch.sparkSession
      val b = batch.localCheckpoint(true)
      val q = b.select(col("vec_id").as("q_id"),
        col("embedding").as("q_vec"))
      val top = Similarity.ivfIndexServe(q,
          IndexManifest.load(spark, indexPath).get, k = 1, nprobe = nprobe)
        .where(col("rnk") === 1)
        .select(col("q_id").as("vec_id"), col("neighbor_id"),
          col("cos_sim"))
      val verdicts = b.select(col("vec_id"))
        .join(top, Seq("vec_id"), "left")
        .select(col("vec_id"), col("neighbor_id"), col("cos_sim"),
          coalesce(col("cos_sim") >= tau, lit(false))
            .as("is_semantic_dup"))
      if (maintain)
        Similarity.appendIvfIndex(b.select(col("vec_id"), col("embedding")),
          indexPath, retainVersions = retainVersions)
      val post = IndexManifest.load(spark, indexPath).get
      val needsRetrain = Similarity.ivfDrift(spark, post)
        .where(col("needs_retrain")).count()
      (verdicts.withColumn("n_cells_need_retrain", lit(needsRetrain)), () =>
        if (maintain) {
          if (retrainRounds > 0 && needsRetrain > 0)
            Similarity.retrainIvfIndex(spark, indexPath,
              kCells = Similarity.readIvfCentroids(spark, post).count().toInt,
              rounds = retrainRounds, retainVersions = retainVersions)
          else if (due(id, compactEvery))
            Dedup.compactIndex(spark, indexPath, maxFilesPerShard,
              partitionCol = "cell", retainVersions = retainVersions): Unit
        })
    }

  /** The TOKENIZED-SHARD gate ([[graft.TrainQueries.appendTokenizedShards]]
    * lifecycle): each batch is encoded with the FROZEN vocabulary of
    * `vocabDir`, its novel docs packed into CONTINUATION bins appended
    * to the shard layout, and the reproducibility-manifest artifact
    * incremented exactly. The artifact can start EMPTY: the first
    * append bootstraps it. The receipt carries the batch doc count and
    * the artifact-side sequence/doc/token totals (a shard-count-bounded
    * pull). Compaction rewrites files, never rows, so checksums are
    * untouched.
    *
    * `tfrPath` additionally maintains the WIRE-FORMAT mirror: after each
    * append the at-rest `.tfrecord` artifact rolls forward
    * ([[graft.TrainQueries.appendTfRecordShards]] — continuation files
    * for only the new bins; bootstrap is one full export once the first
    * rows exist), and receipts carry its file count (-1 without a
    * mirror). While a mirror is attached the SOURCE retains ≥ 2 versions
    * whatever `retainVersions` says: the roll reads the file delta
    * against the version it last synced — one batch behind the append
    * this batch just committed — and a retention of 1 would prune that
    * sync point on EVERY batch, turning the roll's full-scan fallback
    * into the every-batch path (spec-pinned via
    * [[graft.TrainQueries.tfrSourceFilesRead]]). The fallback fires only
    * on crash recovery or on the batch after a compaction. */
  def shardIngestStream(docs: DataFrame, vocabDir: String,
                        shardPath: String, outPath: String,
                        maintain: Boolean, checkpoint: String,
                        compactEvery: Int = 0, maxFilesPerShard: Int = 4,
                        retainVersions: Int = 1,
                        tfrPath: Option[String] = None): StreamingQuery =
    gate(docs, shardPath, outPath, checkpoint) { (batch, id) =>
      val spark = batch.sparkSession
      val b = batch.localCheckpoint(true)
      val srcRetain =
        if (tfrPath.isDefined) math.max(2, retainVersions)
        else retainVersions
      if (maintain) {
        graft.TrainQueries.appendTokenizedShards(spark, vocabDir, b,
          shardPath, retainVersions = srcRetain)
        tfrPath.foreach { tp =>
          if (IndexManifest.load(spark, shardPath)
              .exists(_.dataFiles.nonEmpty)) {
            if (IndexManifest.load(spark, tp).isEmpty)
              graft.TrainQueries.writeTfRecordShards(spark, shardPath, tp)
            else
              graft.TrainQueries.appendTfRecordShards(spark, shardPath,
                tp, retainVersions = retainVersions)
          }
        }
      }
      // artifact totals (absent only while the artifact is still
      // empty — pre-bootstrap, or an all-duplicate first batch)
      val totals = IndexManifest.load(spark, shardPath)
        .filter(_.artifacts.contains("manifest"))
        .map { _ =>
          val r = graft.TrainQueries.readShardManifest(spark, shardPath)
            .agg(coalesce(sum(col("n_seqs")), lit(0L)),
              coalesce(sum(col("n_docs")), lit(0L)),
              coalesce(sum(col("sum_tokens")), lit(0L)))
            .head()
          (r.getLong(0), r.getLong(1), r.getLong(2))
        }.getOrElse((0L, 0L, 0L))
      val tfrFiles = tfrPath
        .flatMap(tp => IndexManifest.load(spark, tp))
        .map(_.dataFiles.size.toLong).getOrElse(-1L)
      (spark.range(1).toDF("one")
        .select(lit(b.count()).as("batch_docs"),
          lit(totals._1).as("indexed_seqs"),
          lit(totals._2).as("indexed_docs"),
          lit(totals._3).as("indexed_tokens"),
          lit(tfrFiles).as("tfr_files")), () =>
        if (maintain && due(id, compactEvery))
          Dedup.compactIndex(spark, shardPath, maxFilesPerShard,
            retainVersions = srcRetain): Unit)
    }

  /** The NEAR-DUP EDGE gate, the cluster family's lifecycle: each batch
    * of similarity EDGES (src, dst — the LSH candidate pairs an upstream
    * band gate confirms) is absorbed into the maintained components
    * index ([[graft.data.Dedup.appendComponentsEdges]]: new nodes enter
    * labeled, merges of existing clusters update only the bounded
    * forwarding artifact, stored rows never rewrite). The receipt
    * carries the COMPONENT COUNT from the exact-maintained stats
    * artifact — a 1-row pull, never an index aggregate — or -1 when the
    * index has no stats artifact and the gate does not maintain (a
    * pre-stats index nobody adopts). Maintenance every `compactEvery`
    * batches is the FORWARDING FOLD
    * ([[graft.data.Dedup.compactComponentsIndex]]): the growth this
    * family must bound is merge history in the table every serve
    * broadcasts, not just file counts. */
  def edgeIngestStream(edges: DataFrame, indexPath: String, outPath: String,
                       maintain: Boolean, checkpoint: String,
                       compactEvery: Int = 0,
                       retainVersions: Int = 1): StreamingQuery =
    gate(edges, indexPath, outPath, checkpoint) { (batch, id) =>
      val spark = batch.sparkSession
      val b = batch.localCheckpoint(true)
      if (maintain)
        Dedup.appendComponentsEdges(b, "src", "dst", indexPath,
          retainVersions = retainVersions)
      val nComp = IndexManifest.load(spark, indexPath)
        .filter(_.artifacts.contains("stats"))
        .map(Dedup.readComponentsStats(spark, _).head().getLong(0))
        .getOrElse(-1L)
      (spark.range(1).toDF("one")
        .select(lit(b.count()).as("batch_edges"),
          lit(nComp).as("n_components")), () =>
        if (maintain && due(id, compactEvery))
          Dedup.compactComponentsIndex(spark, indexPath,
            retainVersions = retainVersions): Unit)
    }

  /** The RETRIEVAL-index gate ([[graft.data.Indexing.writePostingsIndex]]
    * lifecycle): each batch lands in the term-sharded postings with the
    * df/N artifacts updated by exact increments
    * ([[graft.data.Indexing.appendPostingsIndex]]), and the receipt
    * carries the batch doc count and the docs indexed so far (the N
    * artifact, a 1-row pull). Any query served between batches sees
    * every PREVIOUS batch with recompute-identical integer scores.
    * Compaction as in [[screenStream]]. */
  def postingsIngestStream(docs: DataFrame, indexPath: String,
                           outPath: String, maintain: Boolean,
                           checkpoint: String, compactEvery: Int = 0,
                           maxFilesPerShard: Int = 4,
                           retainVersions: Int = 1): StreamingQuery =
    gate(docs, indexPath, outPath, checkpoint) { (batch, id) =>
      val spark = batch.sparkSession
      val b = batch.localCheckpoint(true)
      if (maintain)
        Indexing.appendPostingsIndex(b, "doc_id", "text", indexPath,
          retainVersions = retainVersions)
      val nDocs = Indexing.readPostingsStats(spark,
        IndexManifest.load(spark, indexPath).get).head().getLong(0)
      (spark.range(1).toDF("one")
        .select(lit(b.count()).as("batch_docs"),
          lit(nDocs).as("indexed_docs")), () =>
        if (maintain && due(id, compactEvery))
          Dedup.compactIndex(spark, indexPath, maxFilesPerShard,
            retainVersions = retainVersions): Unit)
    }
}
