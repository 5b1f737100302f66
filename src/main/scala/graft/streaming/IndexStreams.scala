package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.data.Dedup

/** Streaming ingest against the MAINTAINED dedup index: every
  * micro-batch of documents is screened by the same partition-pruned
  * broadcast serve the batch pipeline uses
  * ([[graft.data.Dedup.indexedCellScreen]]) and, when `maintain` is on,
  * its novel cells are APPENDED to the index
  * ([[graft.data.Dedup.appendCellIndex]]) — so a page re-crawled in a
  * LATER batch screens as duplicate without any state-store state: the
  * INDEX IS THE STATE, durable, shared with the batch pipeline, and
  * unbounded by executor memory (the state-store approaches —
  * MediaStreams' keeper gate, CurationStreams' TTL'd hash set — keep
  * state in memory per key; this keeps it at rest, the shape an
  * incremental crawl actually runs).
  *
  * foreachBatch rather than a stateful operator, deliberately: the
  * screen is a JOIN against a mutable at-rest table, which Structured
  * Streaming's stream-static joins would plan once and never re-list —
  * per-batch re-planning inside foreachBatch picks up the appended
  * shard files. Verdicts OVERWRITE their batch-id partition of
  * `outPath` (dynamic partition overwrite), so foreachBatch's
  * at-least-once replays replace rather than duplicate a batch's rows.
  *
  * Scale: per batch, exactly the batch pipeline's serve cost (index
  * streamed, batch broadcast, shard directories pruned) plus, under
  * `maintain`, the batch-bounded anti-join append. Nothing accumulates
  * in memory across batches.
  */
object IndexStreams {

  /** Per-batch compaction knob shared by the streams: every append adds
    * files into the touched partition directories without bound, so a
    * maintained stream compacts its own index every `compactEvery`
    * batches ([[graft.data.Dedup.compactIndex]]) — safe HERE precisely
    * because foreachBatch is the index's single writer (the compaction
    * contract) and batches serialize. 0 disables.
    *
    * `retainVersions` is the gate's retention window
    * ([[graft.data.IndexManifest.vacuum]]), enforced on EVERY
    * mutation: each per-batch append's commit ends with
    * `vacuum(retainVersions)` (the [[graft.data.IndexManifest.commit]]
    * contract), so a long-lived gate retains a BOUNDED
    * manifest horizon — maintenance cost per batch is
    * O(retainVersions), not O(stream age) — and compaction vacuums to
    * the same window. A continuously-serving pipeline sets ≥ 2 so a
    * serve EXECUTING against the pre-mutation snapshot never races a
    * superseded file's deletion; an append-only stretch is safe even
    * at 1 (append manifests reference supersets, so pruning them
    * deletes zero data files). */
  private def maybeCompact(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, batchId: Long, compactEvery: Int,
      maxFilesPerShard: Int, partitionCol: String = "shard",
      retainVersions: Int = 1): Unit =
    if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
      Dedup.compactIndex(spark, indexPath, maxFilesPerShard,
        partitionCol = partitionCol, retainVersions = retainVersions): Unit
    }

  /** Retention state for the batch receipt — the operational
    * visibility the `needs_retrain` signal set the precedent for:
    * current manifest version, retained-version count, and the
    * last-vacuum watermark (the OLDEST retained version — everything
    * below it has been physically pruned). A one-listing driver pull
    * of the manifest directory, appended to every gate's per-batch
    * output so an operator can see the horizon advance (version grows,
    * count stays ≤ the knob, watermark trails by exactly the window). */
  private def retentionFields(spark: org.apache.spark.sql.SparkSession,
                              indexPath: String): (Long, Long, Long) = {
    val vs = graft.data.IndexManifest.versions(spark, indexPath)
    (vs.lastOption.getOrElse(0L), vs.length.toLong,
      vs.headOption.getOrElse(0L))
  }

  private def withRetention(df: DataFrame, spark: org.apache.spark.sql
      .SparkSession, indexPath: String): DataFrame = {
    val (v, n, oldest) = retentionFields(spark, indexPath)
    df.withColumn("manifest_version", lit(v))
      .withColumn("n_retained_versions", lit(n))
      .withColumn("oldest_retained_version", lit(oldest))
  }

  def screenStream(docs: DataFrame, indexPath: String, outPath: String,
                   cellWords: Int, maintain: Boolean,
                   checkpoint: String, compactEvery: Int = 0,
                   maxFilesPerShard: Int = 4,
                   retainVersions: Int = 1): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], id: Long) =>
        val spark = batch.sparkSession
        // one cell build feeds both the screen and the append
        val cells = Dedup.cellHashes(batch.toDF(), "doc_id", "text", cellWords)
          .localCheckpoint(true)
        // a checkpointed micro-batch is a bare relation, so the DPP
        // planner declines (the selective-predicate rule Dedup's
        // scaladoc documents) — prune STATICALLY instead: the batch's
        // distinct shard ids are a bounded driver pull (≤ the shard
        // universe) and the literal IN lands in PartitionFilters at
        // planning time, the ivfTopKFittedPruned pattern
        val shards = cells
          .select(Dedup.cellShard(col("cell_hash")).as("shard"))
          .distinct().collect().map(r => Integer.valueOf(r.getInt(0))).toSeq
        val idx = Dedup.readIndex(spark, indexPath)
          .where(col("shard").isin(shards: _*))
        val screened = Dedup.indexedCellScreen(cells, idx, "doc_id")
        // the screen plan PINS the pre-append manifest at construction,
        // so running the append first leaves the verdicts pre-batch
        // (one self-consistent set) while the receipt's retention
        // fields report the POST-append horizon — the state an operator
        // must see advance. Append vacuums delete zero data files
        // (superset property), so the pinned plan never races them.
        if (maintain) {
          Dedup.appendCellIndex(cells, indexPath,
            retainVersions = retainVersions)
        }
        // verdicts land OVERWRITING this batch id's partition, not
        // appending: foreachBatch is at-least-once, and a replayed batch
        // must REPLACE its rows (a replay after a committed index append
        // re-screens against the appended index — one self-consistent
        // verdict set per batch, never contradictory duplicates). The
        // append side is idempotent by construction (novel = anti-join
        // against the current index; re-appending adds — and commits —
        // nothing).
        withRetention(screened, spark, indexPath)
          .withColumn("batch_id", lit(id))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(outPath)
        // compaction DELETES superseded data files, so it runs only
        // after the pinned verdict plan above has executed
        if (maintain) {
          maybeCompact(spark, indexPath, id, compactEvery, maxFilesPerShard,
            retainVersions = retainVersions)
        }
        ()
      }
      .start()

  /** The NEAR-dup gate at ingest: every micro-batch's LSH band rows are
    * screened against the STORED band index
    * ([[graft.data.Dedup.indexedBandScreen]]) and, under `maintain`,
    * appended ([[graft.data.Dedup.appendBandIndex]]) — so a PARAPHRASE
    * of a document first seen in an earlier batch flags as a candidate
    * in every later batch (the cross-batch first-seen law, one
    * similarity notch over [[screenStream]]'s exact-cell gate). Same
    * architecture throughout: the index IS the cross-batch state
    * (durable, at rest, shared with the batch pipeline), foreachBatch
    * re-plans per batch to see appended shard files, static literal-IN
    * shard pruning (DPP declines on checkpointed bare relations),
    * dynamic partition OVERWRITE of the batch's verdict partition so
    * at-least-once replays converge, and the build-time hot-bucket cap
    * enforced on every append. */
  def bandScreenStream(docs: DataFrame, indexPath: String, outPath: String,
                       k: Int, b: Int, r: Int, cap: Int, maintain: Boolean,
                       checkpoint: String, compactEvery: Int = 0,
                       maxFilesPerShard: Int = 4,
                       retainVersions: Int = 1): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], id: Long) =>
        val spark = batch.sparkSession
        // one signature build feeds both the screen and the append
        val bands = Dedup.bandRows(batch.toDF(), "doc_id", "text", k, b, r)
          .localCheckpoint(true)
        val shards = bands
          .select(Dedup.cellShard(col("bucket")).as("shard"))
          .distinct().collect().map(row => Integer.valueOf(row.getInt(0)))
          .toSeq
        val idx = Dedup.readIndex(spark, indexPath)
          .where(col("shard").isin(shards: _*))
        val screened = Dedup.indexedBandScreen(bands, idx, "doc_id")
        // append before the verdict write (plan pinned pre-append; the
        // receipt's retention fields report the post-append horizon —
        // the screenStream ordering contract); compaction last
        if (maintain) {
          Dedup.appendBandIndex(bands, "doc_id", cap, indexPath,
            retainVersions = retainVersions)
        }
        withRetention(screened, spark, indexPath)
          .withColumn("batch_id", lit(id))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(outPath)
        if (maintain) {
          maybeCompact(spark, indexPath, id, compactEvery, maxFilesPerShard,
            retainVersions = retainVersions)
        }
        ()
      }
      .start()

  /** The SEMANTIC-dup gate at ingest — streaming SemDeDup served from
    * the MAINTAINED IVF index ([[graft.data.Similarity.writeIvfIndex]]
    * lifecycle): every micro-batch of (vec_id, embedding) rows is
    * routed through the stored centroids to its probed cells, its
    * nearest STORED neighbor's cosine decides the `is_semantic_dup`
    * verdict (`tau` = the SemDeDup threshold), and under `maintain` the
    * batch is appended with the frozen centroids — so a near-identical
    * embedding arriving in any LATER batch flags against this one (the
    * cross-batch first-seen law, embedding edition). Completes the
    * at-ingest gate trio: exact cells ([[screenStream]]), MinHash bands
    * ([[bandScreenStream]]), embeddings (here) — all with the same
    * architecture: the durable index IS the cross-batch state,
    * foreachBatch re-plans per batch to see appended cell files,
    * verdicts overwrite their batch-id partition so at-least-once
    * replays converge by REPLACEMENT (the [[screenStream]] contract: a
    * replay after a committed append re-screens against the appended
    * index — a vector's own stored row is invisible through the serve's
    * self-id exclusion, though an intra-batch near-dup PAIR both flag
    * on replay where only the later id flagged first time; one
    * self-consistent verdict set per batch, never contradictory
    * duplicates), and appends stay map-only against the bounded stored
    * model.
    *
    * Scale: per batch, one bounded centroid broadcast + a
    * partition-pruned probe read of only the cells the batch routes to
    * + the batch-bounded append. Nothing accumulates in memory; the
    * retrain signal ([[graft.data.Similarity.ivfDrift]]) rides every
    * batch receipt, and with `retrainRounds > 0` the gate ANSWERS it:
    * when the post-append audit flags any cell, the batch closes with
    * [[graft.data.Similarity.retrainIvfIndex]] (same cell count as the
    * stored quantizer, `retrainRounds` k-means rounds) — safe exactly
    * because foreachBatch is the index's single writer, and
    * serving-invisible because the swap is one atomic manifest commit
    * (concurrent serves keep the old generation until it lands). The
    * receipt still reports the PRE-retrain count, so the batch that
    * caused the drift is the batch whose receipt shows it. */
  def vectorIngestStream(vecs: DataFrame, indexPath: String, outPath: String,
                         nprobe: Int, tau: Double, maintain: Boolean,
                         checkpoint: String, compactEvery: Int = 0,
                         maxFilesPerShard: Int = 4,
                         retrainRounds: Int = 0,
                         retainVersions: Int = 1): StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], id: Long) =>
        val spark = batch.sparkSession
        val b = batch.toDF().localCheckpoint(true)
        val q = b.select(col("vec_id").as("q_id"),
          col("embedding").as("q_vec"))
        // the serve plan PINS the pre-append manifest at construction
        // (IndexManifest.readData), so the verdict write below — which
        // runs after the append — still screens against the pre-batch
        // index: one self-consistent verdict set per batch
        val top = graft.data.Similarity.ivfIndexServe(
            q, indexPath, k = 1, nprobe = nprobe)
          .where(col("rnk") === 1)
          .select(col("q_id").as("vec_id"), col("neighbor_id"),
            col("cos_sim"))
        val verdicts = b.select(col("vec_id"))
          .join(top, Seq("vec_id"), "left")
          .select(col("vec_id"), col("neighbor_id"), col("cos_sim"),
            coalesce(col("cos_sim") >= tau, lit(false))
              .as("is_semantic_dup"))
        if (maintain) {
          graft.data.Similarity.appendIvfIndex(
            b.select(col("vec_id"), col("embedding")), indexPath,
            retainVersions = retainVersions)
        }
        // the RETRAIN SIGNAL rides the batch receipt: post-append drift
        // (footer-only counts over the partition column) — the
        // operational bell [[graft.data.Similarity.retrainIvfIndex]]
        // answers. Computed after the append so a skewed batch flips
        // the receipt ON THE BATCH THAT CAUSED IT.
        val needsRetrain = graft.data.Similarity.ivfDrift(spark, indexPath)
          .where(col("needs_retrain")).count()
        withRetention(verdicts, spark, indexPath)
          .withColumn("n_cells_need_retrain", lit(needsRetrain))
          .withColumn("batch_id", lit(id))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(outPath)
        // generation changes LAST: retrain and compaction delete
        // superseded files the pinned verdict plan above may still
        // reference, so they run only after the verdicts are on disk
        if (maintain) {
          if (retrainRounds > 0 && needsRetrain > 0) {
            val kCells = graft.data.Similarity
              .readIvfCentroids(spark, indexPath).count().toInt
            graft.data.Similarity.retrainIvfIndex(spark, indexPath,
              kCells = kCells, rounds = retrainRounds,
              retainVersions = retainVersions)
          } else {
            maybeCompact(spark, indexPath, id, compactEvery,
              maxFilesPerShard, partitionCol = "cell",
              retainVersions = retainVersions)
          }
        }
        ()
      }
      .start()

  /** Streaming TOKENIZED-SHARD ingest — the FIFTH maintained artifact's
    * gate ([[graft.TrainQueries.appendTokenizedShards]] lifecycle):
    * every micro-batch of documents is encoded with the FROZEN
    * vocabulary of `vocabDir`, its novel docs packed into CONTINUATION
    * bins appended to the shard layout, and the reproducibility-manifest
    * artifact incremented exactly — so the training-data deliverable
    * itself is maintained at ingest, not rebuilt per run. A per-batch
    * receipt (batch doc count + artifact-side sequence/doc/token totals,
    * a shard-count-bounded pull) overwrites its batch-id partition.
    *
    * Same architecture as the four index gates: the durable artifact IS
    * the cross-batch state; appends are idempotent (a re-delivered doc
    * id packs nothing — the stored `doc_ids` novelty screen), so
    * at-least-once replays converge; foreachBatch serializes the
    * single-writer window; the artifact can start EMPTY (a stream
    * bootstraps shards from zero — the first append's increment becomes
    * the manifest). `compactEvery`/`maxFilesPerShard`/`retainVersions`
    * bound per-shard file counts exactly as elsewhere — compaction
    * rewrites files, never rows, so checksums are untouched.
    *
    * `tfrPath` additionally maintains the WIRE-FORMAT mirror at ingest:
    * after each parquet append the at-rest `.tfrecord` artifact rolls
    * forward ([[graft.TrainQueries.appendTfRecordShards]] — continuation
    * files for only the new bins; bootstrap is one full export once the
    * first rows exist), so what the trainer's `tf.data.TFRecordDataset`
    * opens is batch-fresh without any re-export job; receipts carry the
    * mirror's file count. While a mirror is attached the SOURCE retains
    * ≥ 2 manifest versions whatever `retainVersions` says, so the
    * roll's delta scan reads O(batch) source files in steady state —
    * at a retention of 1 the gate's own parquet append would vacuum the
    * mirror's sync point before every roll, degrading the scan to
    * O(corpus) per micro-batch (spec-pinned via
    * [[graft.TrainQueries.tfrSourceFilesRead]]). */
  def shardIngestStream(docs: DataFrame, vocabDir: String,
                        shardPath: String, outPath: String,
                        maintain: Boolean, checkpoint: String,
                        compactEvery: Int = 0, maxFilesPerShard: Int = 4,
                        retainVersions: Int = 1,
                        tfrPath: Option[String] = None): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], id: Long) =>
        val spark = batch.sparkSession
        val b = batch.toDF().localCheckpoint(true)
        // with a wire mirror attached, the SOURCE retains ≥ 2 versions
        // regardless of the gate's knob: the mirror's next roll reads
        // the file delta against the version it last synced — one batch
        // behind the append this batch just committed — and a
        // retainVersions=1 vacuum would prune that sync point on EVERY
        // batch, turning the roll's "fallback: one full source scan"
        // into the every-batch path (O(corpus) per micro-batch). Append
        // retention is manifest text only (superset property — no data
        // file lives longer), so the wider window costs bytes, not data.
        val srcRetain =
          if (tfrPath.isDefined) math.max(2, retainVersions)
          else retainVersions
        if (maintain) {
          graft.TrainQueries.appendTokenizedShards(spark, vocabDir, b,
            shardPath, retainVersions = srcRetain)
          maybeCompact(spark, shardPath, id, compactEvery, maxFilesPerShard,
            retainVersions = srcRetain)
          // the WIRE-FORMAT deliverable maintained at ingest too: roll
          // the at-rest .tfrecord artifact forward to the parquet state
          // this batch just committed — continuation files for only the
          // new bins, a replay rolls nothing. Bootstraps with a full
          // export once the first rows exist. The roll's scan is the
          // O(batch) file delta in steady state (source retention ≥ 2
          // above keeps the sync point retained); the full-scan
          // fallback fires only on crash recovery or right after a
          // compaction batch replaced the source files.
          tfrPath.foreach { tp =>
            if (graft.data.IndexManifest.load(spark, shardPath)
                .exists(_.dataFiles.nonEmpty)) {
              if (graft.data.IndexManifest.load(spark, tp).isEmpty)
                graft.TrainQueries.writeTfRecordShards(spark, shardPath, tp)
              else
                graft.TrainQueries.appendTfRecordShards(spark, shardPath,
                  tp, retainVersions = retainVersions)
            }
          }
        }
        // artifact totals (absent only while the artifact is still
        // empty — pre-bootstrap, or an all-duplicate first batch)
        val totals = graft.data.IndexManifest.load(spark, shardPath)
          .filter(_.artifacts.contains("manifest"))
          .map { _ =>
            val r = graft.TrainQueries.readShardManifest(spark, shardPath)
              .agg(coalesce(sum(col("n_seqs")), lit(0L)),
                coalesce(sum(col("n_docs")), lit(0L)),
                coalesce(sum(col("sum_tokens")), lit(0L)))
              .head()
            (r.getLong(0), r.getLong(1), r.getLong(2))
          }.getOrElse((0L, 0L, 0L))
        // wire-format artifact state in the receipt: file count from one
        // manifest load (-1 when the gate maintains no tfrecord mirror)
        val tfrFiles = tfrPath
          .flatMap(tp => graft.data.IndexManifest.load(spark, tp))
          .map(_.dataFiles.size.toLong).getOrElse(-1L)
        withRetention(spark.range(1).toDF("one")
            .select(lit(b.count()).as("batch_docs"),
              lit(totals._1).as("indexed_seqs"),
              lit(totals._2).as("indexed_docs"),
              lit(totals._3).as("indexed_tokens"),
              lit(tfrFiles).as("tfr_files")), spark, shardPath)
          .withColumn("batch_id", lit(id))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(outPath)
        ()
      }
      .start()

  /** Streaming NEAR-DUP EDGE ingest — the SIXTH maintained-index gate,
    * completing the cluster family's lifecycle: every micro-batch of
    * similarity EDGES (src, dst — the LSH candidate pairs an upstream
    * band gate confirms) is absorbed into the maintained components
    * index ([[graft.data.Dedup.appendComponentsEdges]]: new nodes enter
    * labeled, merges of existing clusters update only the bounded
    * forwarding artifact, stored rows never rewrite), and the per-batch
    * receipt carries the COMPONENT COUNT from the exact-maintained
    * stats artifact — a 1-row pull, never an index aggregate — plus the
    * retention fields every gate reports.
    *
    * Same architecture as the five sibling gates: the durable index IS
    * the cross-batch state; appends are idempotent (a replayed edge
    * set finds every merge applied, commits nothing), so at-least-once
    * redeliveries converge; foreachBatch serializes the writer window.
    * `compactEvery` here runs the FORWARDING FOLD
    * ([[graft.data.Dedup.compactComponentsIndex]]) rather than a file
    * compaction — the growth THIS family must bound is merge history
    * in the table every serve broadcasts, not just file counts. */
  def edgeIngestStream(edges: DataFrame, indexPath: String, outPath: String,
                       maintain: Boolean, checkpoint: String,
                       compactEvery: Int = 0,
                       retainVersions: Int = 1): StreamingQuery =
    edges.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], id: Long) =>
        val spark = batch.sparkSession
        val b = batch.toDF().localCheckpoint(true)
        if (maintain) {
          Dedup.appendComponentsEdges(b, "src", "dst", indexPath,
            retainVersions = retainVersions)
        }
        // guarded stats pull: with maintain on, the append just adopted
        // or incremented the stats artifact; a maintain=false gate over
        // a PRE-stats index (built before the artifact existed) has no
        // one to adopt it — report -1 rather than falling through
        // readArtifact's legacy-directory path and killing the stream
        val nComp =
          if (graft.data.IndexManifest.load(spark, indexPath)
              .exists(_.artifacts.contains("stats")))
            Dedup.readComponentsStats(spark, indexPath).head().getLong(0)
          else -1L
        withRetention(spark.range(1).toDF("one")
            .select(lit(b.count()).as("batch_edges"),
              lit(nComp).as("n_components")), spark, indexPath)
          .withColumn("batch_id", lit(id))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(outPath)
        if (maintain && compactEvery > 0 && (id + 1) % compactEvery == 0) {
          Dedup.compactComponentsIndex(spark, indexPath,
            retainVersions = retainVersions): Unit
        }
        ()
      }
      .start()

  /** Streaming RETRIEVAL-index ingest — the maintenance side of the
    * fourth index family ([[graft.data.Indexing.writePostingsIndex]]
    * lifecycle): every micro-batch of documents lands in the
    * term-sharded postings with the df/N artifacts updated by exact
    * increments ([[graft.data.Indexing.appendPostingsIndex]] —
    * idempotent, so at-least-once replays add and increment nothing),
    * and a per-batch ingest receipt (docs and postings indexed so far —
    * read from the artifacts, a 1-row pull) overwrites its batch-id
    * partition. Any query served between batches sees every PREVIOUS
    * batch with recompute-identical integer scores — the law
    * StreamingSpec pins by serving after each batch.
    *
    * Same architecture as the three gates: the durable index IS the
    * cross-batch state; foreachBatch serializes the appends (the
    * single-writer window the artifact updates and `compactEvery`
    * require). */
  def postingsIngestStream(docs: DataFrame, indexPath: String,
                           outPath: String, maintain: Boolean,
                           checkpoint: String, compactEvery: Int = 0,
                           maxFilesPerShard: Int = 4,
                           retainVersions: Int = 1): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], id: Long) =>
        val spark = batch.sparkSession
        val b = batch.toDF().localCheckpoint(true)
        if (maintain) {
          graft.data.Indexing.appendPostingsIndex(b, "doc_id", "text",
            indexPath, retainVersions = retainVersions)
          maybeCompact(spark, indexPath, id, compactEvery, maxFilesPerShard,
            retainVersions = retainVersions)
        }
        val nDocs = graft.data.Indexing.readPostingsStats(spark, indexPath)
          .head().getLong(0)
        withRetention(b.sparkSession.range(1).toDF("one")
            .select(lit(b.count()).as("batch_docs"),
              lit(nDocs).as("indexed_docs")), spark, indexPath)
          .withColumn("batch_id", lit(id))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(outPath)
        ()
      }
      .start()
}
