package graft.data

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import IndexManifest.{Delta, Snapshot}

/** Deduplication operators for a training-data pipeline: exact
  * (hash-groupBy), MinHash+LSH (shingle → minhash → band → bucket-join),
  * SimHash, and exact n-gram Jaccard.
  *
  * Portability: content hashes are md5 hex STRINGS and minhash takes
  * lexicographic minima of md5 strings — both engines (and any oracle)
  * produce identical values, unlike engine-private hash functions
  * (xxhash64 vs DuckDB's hash()).
  *
  * Scale: every operator is a hash-aggregate + equi-join — no windows over
  * whole partitions, no driver-side loops. The keeper-per-group joins use
  * the group hash as join key (shuffle-hash/SMJ territory at 100 TB; the
  * group table is the same cardinality as the input, so it is NOT
  * broadcast). LSH turns the quadratic all-pairs problem into an equi-join
  * on (band, bucket) — the only pairs materialized are real candidates.
  */
object Dedup {

  /** Exact dedup: md5 content hash, keeper = min(id) per hash group. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hashed = df.withColumn("content_hash", md5(col(textCol)))
    val groups = hashed.groupBy(col("content_hash"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("group_size"))
    hashed.join(groups, Seq("content_hash"))
      .withColumn("is_dup", col(idCol) =!= col("keeper_id"))
  }

  /** C4-style corpus-level repeated-span removal over any (id, text)
    * table: non-overlapping `cellWords`-word cells keyed by md5, one
    * occurrence kept corpus-wide (the lexicographically first
    * (id, chunk_id)), each row reassembled from its surviving cells in
    * chunk order. Keeper election is a map-side-combinable `min(struct)`
    * hash aggregate — skew-immune for boilerplate cells (see the
    * data_chunk_dedup scaladoc for the full scale argument).
    *
    * Tokenization is [[graft.data.TextAnalysis.tokens]] — the corpus-wide
    * definition, so a tokenizer change can never desynchronize dedup from
    * the rest of the pipeline. Rows with NULL `textCol` produce no cells
    * and are DROPPED from the output (explode of a null sequence), like
    * every other text operator's explode path — filter or coalesce
    * upstream if null docs must survive. */
  def chunkDedup(docs: DataFrame, idCol: String, textCol: String,
      cellWords: Int): DataFrame = {
    // compiled one-pass cell build (empty/NULL token arrays yield the
    // empty array — zero rows after the explode, matching the oracle)
    graft.functions.WordCellFunctions.register(docs.sparkSession)
    import graft.functions.WordCellFunctions.word_cells
    val cells = docs
      .withColumn("toks", TextAnalysis.tokens(col(textCol)))
      .withColumn("ch", explode(word_cells(col("toks"), cellWords)))
      .select(col(idCol), col("ch.chunk_id"), col("ch.chunk"),
        md5(col("ch.chunk")).as("h"))
    val keepers = cells.groupBy(col("h"))
      .agg(min(struct(col(idCol), col("chunk_id"))).as("keeper"))
    cells.join(keepers, Seq("h"))
      .withColumn("kept", col(s"keeper.$idCol") === col(idCol) &&
        col("keeper.chunk_id") === col("chunk_id"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        array_sort(collect_list(when(col("kept"),
          struct(col("chunk_id"), col("chunk"))))).as("kc"))
      .select(col(idCol), col("n_chunks"), col("n_kept"),
        array_join(transform(col("kc"), x => x("chunk")), " ").as("kept_text"))
  }

  /** MinHash signature: k lexicographic-min md5("<seed>|<shingle>") strings.
    * Evaluated by the one-pass compiled
    * [[graft.functions.MinHashSig]] expression (registered on the active
    * session on first use) — bit-identical to [[minhashSigHof]], several
    * times cheaper per row (see the expression's scaladoc). */
  def minhashSig(shingles: Column, k: Int): Column = {
    graft.functions.MinHashFunctions.register(
      org.apache.spark.sql.SparkSession.active)
    graft.functions.MinHashFunctions.minhash_sig(shingles, k)
  }

  /** Composable-HOF form of [[minhashSig]]: the semantic definition, kept
    * as the parity reference (DataOpsSpec asserts bit-identical output)
    * and for sessions where registering functions is undesirable. ~3
    * interpreted lambda dispatches per (seed, shingle) — use the
    * expression form on hot paths. */
  def minhashSigHof(shingles: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)),
      i => array_min(transform(shingles, s => md5(concat(i.cast("string"), lit("|"), s)))))

  /** [[minhashSig]] as an exploded aggregation: identical signature
    * VALUES (bit-parity-spec'd in DataOpsSpec), with the md5s in a
    * codegen'd projection and the minima as per-key aggregates. NOT the
    * default path: aggregating STRING minima has no mutable fixed-width
    * buffer, so Spark plans SortAggregate — measured 22 s vs the HOF
    * form's 4 s on the bands query at sf0.1. Use this form only when a
    * single row's shingle array cannot be materialized (document too
    * large for one row buffer); otherwise prefer [[minhashSig]], whose
    * per-row evaluation shuffles nothing. Keys with EMPTY shingle arrays
    * keep the HOF form's all-null signature via the left join back to
    * the key universe. */
  def minhashSigAgg(docs: DataFrame, idCol: String, shCol: String,
      k: Int): DataFrame = {
    val hashed = docs.select(col(idCol), explode(col(shCol)).as("__s"))
      .select(Seq(col(idCol)) ++ (0 until k).map(i =>
        md5(concat(lit(s"$i|"), col("__s"))).as(s"__h$i")): _*)
    val mins = hashed.groupBy(col(idCol))
      .agg(min(col("__h0")).as("__m0"), (1 until k).map(i =>
        min(col(s"__h$i")).as(s"__m$i")): _*)
      .select(col(idCol),
        array((0 until k).map(i => col(s"__m$i")): _*).as("sig"))
    docs.select(col(idCol)).join(mins, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("sig"),
        array((0 until k).map(_ => lit(null).cast("string")): _*)).as("sig"))
  }

  /** LSH band buckets: b bands of r signature rows, bucket = md5 of the
    * joined slice. Returns array of (band, bucket) structs. */
  def bandBuckets(sig: Column, b: Int, r: Int): Column =
    transform(sequence(lit(0), lit(b - 1)),
      j => struct(j.as("band"),
        md5(concat_ws("|", slice(sig, j * r + 1, lit(r)))).as("bucket")))

  /** Drop oversized LSH buckets before the candidate self-join. A
    * degenerate bucket of size s contributes s(s-1)/2 candidate pairs, so
    * ONE hot bucket (e.g. every sub-3-word document sharing the
    * empty-shingle signature) makes the (band, bucket) self-join quadratic
    * within that bucket at corpus scale. Buckets above `cap` are
    * non-discriminative by definition — they collide a constant fraction
    * of the corpus, so membership carries almost no similarity signal, and
    * any truly-similar pair still collides in some other, selective band
    * w.h.p. Dropping them bounds the join output at
    * O(buckets × cap²) with no meaningful recall loss.
    *
    * Scale shape: one extra hash aggregation over the bucket table plus an
    * equi-join on the same `keyCols` the candidate join uses, so the
    * bucket rows are already co-partitioned for the join that follows.
    *
    * @param keyCols the bucket identity, e.g. (band, bucket) or
    *                (label, band, bucket). */
  def capHotBuckets(buckets: DataFrame, keyCols: Seq[String], cap: Int): DataFrame = {
    require(cap > 1, s"cap must exceed 1, got $cap")
    val keep = buckets.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("_bucket_n"))
      .where(col("_bucket_n") <= cap)
      .select(keyCols.map(col): _*)
    buckets.join(keep, keyCols)
  }

  /** Non-overlapping `cellWords`-word cell hashes per row: (id, chunk_id,
    * cell_hash) — the span-granular content key shared by [[chunkDedup]]
    * (which also carries the chunk text for reassembly) and
    * [[incrementalCellScreen]]. Empty/NULL token arrays yield zero cells
    * (the compiled [[graft.functions.WordCells]] returns the empty
    * array, which the explode drops). */
  def cellHashes(docs: DataFrame, idCol: String, textCol: String,
                 cellWords: Int): DataFrame = {
    graft.functions.WordCellFunctions.register(docs.sparkSession)
    import graft.functions.WordCellFunctions.word_cells
    docs
      .withColumn("toks", TextAnalysis.tokens(col(textCol)))
      .withColumn("ch", explode(word_cells(col("toks"), cellWords)))
      .select(col(idCol), col("ch.chunk_id"),
        md5(col("ch.chunk")).as("cell_hash"))
  }

  /** Content-defined chunk hashes per row: chunk boundaries fall where a
    * token's hash satisfies `hash % divisor == 0` (the rolling-hash
    * boundary rule of CDC dedup à la LBFS/FastCDC), so an insertion
    * shifts only its OWN chunk's boundaries — unlike [[cellHashes]]'
    * fixed-width cells, where one inserted token re-keys every later
    * cell of the document. Token hash is the portable first-4-hex-digits
    * md5 integer ([[TextAnalysis.hashBucket]]'s arithmetic), expected
    * chunk length ≈ `divisor` tokens. Output: (id, chunk_idx,
    * chunk_hash) — one row per chunk, chunk 0 starts at the first token.
    * Map-only per row (HOFs over the token array), no shuffle. */
  def cdcChunkHashes(docs: DataFrame, idCol: String, textCol: String,
                     divisor: Int): DataFrame = {
    require(divisor >= 2, s"divisor must be >= 2, got $divisor")
    val chunks = docs
      .withColumn("toks", TextAnalysis.tokens(col(textCol)))
      .withColumn("n", size(col("toks")))
      // boundary positions (1-based, from token 2 on): a new chunk starts
      // AT each position whose token hashes to 0 mod divisor
      .withColumn("starts", concat(array(lit(1)),
        when(col("n") >= 2,
          filter(sequence(lit(2), greatest(col("n"), lit(2))),
            p => p <= col("n") &&
              TextAnalysis.hashBucket(element_at(col("toks"), p), divisor) === 0))
          .otherwise(array().cast("array<int>"))))
    // Same n=0/null gate as cellHashes: an empty (or null-text) document
    // yields ZERO chunks — not a phantom md5("") chunk that every empty
    // doc would collide on. posexplode drops the NULL the `when` emits.
    chunks.select(col(idCol), posexplode(when(col("n") > 0, transform(
        sequence(lit(0), size(col("starts")) - 1), c => {
          val s = element_at(col("starts"), c + 1)
          val e = when(c < size(col("starts")) - 1,
            element_at(col("starts"), c + 2) - 1).otherwise(col("n"))
          md5(concat_ws(" ", slice(col("toks"), s, e - s + 1)))
        }))).as(Seq("chunk_idx", "chunk_hash")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        col("chunk_hash"))
  }

  /** Incremental (snapshot-delta) span dedup: screen an INGEST BATCH
    * against an existing corpus snapshot at `cellWords`-word span
    * granularity — the production shape of C4-style dedup once the corpus
    * is no longer rebuilt from scratch: the snapshot's cell-hash set is a
    * persisted index, each new batch is scored against it, and only the
    * batch (≪ corpus) is reprocessed. Per batch row: total cells, cells
    * already present anywhere in the corpus, their fraction, and a
    * majority-dup flag.
    *
    * Scale: one `distinct` over corpus cells (in production: a maintained
    * bucketed table, built once, not recomputed per batch — bucket it by
    * `cell_hash` and the batch-side join co-locates without shuffling the
    * index) + one equi-join keyed on the hash + one per-doc aggregate.
    * The corpus index is far too large to broadcast at 100 TB — this is
    * deliberately a shuffle equi-join (with AQE free to pick SMJ), and a
    * Bloom-filter pushdown on `cell_hash` would cut the batch-side
    * shuffle further. No quadratic step anywhere. */
  def incrementalCellScreen(batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, cellWords: Int): DataFrame = {
    val bc = cellHashes(batch, idCol, textCol, cellWords)
    val idx = cellHashes(corpus, idCol, textCol, cellWords)
      .select(col("cell_hash")).distinct().withColumn("_hit", lit(true))
    bc.join(idx, Seq("cell_hash"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_cells"), count(col("_hit")).as("n_dup_cells"))
      .withColumn("dup_cell_frac",
        col("n_dup_cells").cast("double") / col("n_cells").cast("double"))
      .withColumn("is_mostly_dup", col("dup_cell_frac") >= 0.5)
  }

  /** Shard key of a cell hash: its first hex nibble as an int — the
    * layout key of the MAINTAINED index ([[writeCellIndex]]). 16 shards
    * keeps the toy-scale directory count sane while exercising the same
    * partition-pruning machinery; production widens to two nibbles (256)
    * by raising the substring length, nothing else changes. Hash-derived,
    * so shards are uniform by construction — no skew surface. */
  def cellShard(h: Column): Column =
    conv(substring(h, 1, 1), 16, 10).cast("int")

  /** Build the maintained corpus cell-hash index ONCE: distinct cell
    * hashes written as parquet partitioned by [[cellShard]], published
    * under an [[IndexManifest]] snapshot (every maintained index here
    * is manifest-pinned — readers plan from the committed file list,
    * never a directory listing). This is the production shape
    * [[incrementalCellScreen]]'s scaladoc promises — the index is a
    * persisted table a crawl pipeline maintains across batches, not a
    * per-batch recompute of the whole corpus.
    *
    * `repartition(shard)` before the partitioned write: without it every
    * task writes a file into every shard directory (tasks × shards tiny
    * files); with it each shard is one writer's output. At 100 TB the
    * same layout holds with more shards and multiple files per shard
    * (`repartition(n, shard)`); appending a new batch's novel hashes is
    * a partitioned INSERT into the same directories. */
  def writeCellIndex(corpus: DataFrame, idCol: String, textCol: String,
      cellWords: Int, path: String): Unit = {
    cellHashes(corpus, idCol, textCol, cellWords)
      .select(col("cell_hash")).distinct()
      .withColumn("shard", cellShard(col("cell_hash")))
      .repartition(col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)
    IndexManifest.commit(corpus.sparkSession, path, Snapshot.Empty,
      Delta(IndexManifest.listDataFiles(corpus.sparkSession, path))): Unit
  }

  /** MAINTAIN the stored index: append an ingest batch's NOVEL cell
    * hashes — batch distinct cells anti-joined against the index — as a
    * partitioned APPEND into the same shard directories, exactly the
    * incremental INSERT [[writeCellIndex]]'s layout exists for. After
    * the append, re-serving the same batch reports every cell as a
    * duplicate (the law the spec and the `data_dedup_index_append`
    * oracle pin).
    *
    * Scale shape: a naive `batch ANTI JOIN index` would hash-build the
    * INDEX side — the 100 TB side. Instead the known hashes come from
    * the same streamed inner join the serve path uses (index ⋈
    * broadcast(batch distinct), partition-pruned, output bounded by the
    * BATCH), and the novel set is `batch ANTI broadcast(hits)` — both
    * joins build only batch-bounded sides, the index never shuffles,
    * and the write touches only the shard directories holding novel
    * hashes.
    *
    * Mutation protocol ([[IndexManifest]]): reconcile (crash repair) →
    * novelty against the PINNED pre-state → append files → one atomic
    * manifest commit, closing with the retention vacuum
    * (`retainVersions`, default 2 — the pre-append version stays
    * time-travel-readable). A reader planned at any point sees exactly
    * the pre- or post-state; a crash before the commit leaves
    * invisible orphans the next reconcile removes (and the replay,
    * whose novelty check reads the pinned pre-state, re-appends them
    * correctly — committing NOTHING when nothing is novel, the
    * [[IndexManifest.commit]] no-op skip).
    *
    * Filesystem cost: the batch's distinct shard set is a bounded
    * driver pull (≤ the shard universe) feeding a literal-IN partition
    * prune on the index read, the write stages under a writer-unique
    * directory and moves files in ([[IndexManifest.stageAppend]] — the
    * added set is known by construction), and the commit never lists a
    * partition directory at all: an append performs ZERO
    * O(index)-shaped filesystem walks. */
  def appendCellIndex(batchCells: DataFrame, indexPath: String,
                      retainVersions: Int = 2,
                      preCommitHook: () => Unit = () => ()): Unit = {
    val spark = batchCells.sparkSession
    val bd = batchCells.select(col("cell_hash")).distinct()
      .withColumn("shard", cellShard(col("cell_hash")))
      .localCheckpoint(true)
    val shards = bd.select(col("shard")).distinct().collect()
      .map(r => Integer.valueOf(r.getInt(0))).toSeq
    val snap = IndexManifest.reconcileAppend(spark, indexPath)
    // an index with zero data files (legal: a fully-capped band build's
    // sibling case) has nothing to read — type the empty relation off
    // the batch instead of asking parquet to infer a schema from nothing
    val idx =
      if (snap.dataFiles.isEmpty) bd.limit(0)
      else snap.data(spark)
        .where(col("shard").isin(shards: _*))
    val hits = idx.join(broadcast(bd), Seq("shard", "cell_hash"))
      .select(col("shard"), col("cell_hash"))
    // staged write: `added` is exactly this writer's files — a listing
    // commit would resurrect retained superseded files, and a listing
    // DIFF could mis-attribute a crashed or concurrent writer's output
    val added = IndexManifest.stageAppend(
      bd.join(broadcast(hits), Seq("shard", "cell_hash"), "left_anti")
        .repartition(col("shard")),
      indexPath, "shard")
    IndexManifest.commit(spark, indexPath, snap, Delta(added),
      retainVersions, preCommitHook): Unit
  }

  /** Serve an ingest batch against the STORED index (the read-back of
    * [[writeCellIndex]]): same output contract as
    * [[incrementalCellScreen]] — (id, n_cells, n_dup_cells,
    * dup_cell_frac, is_mostly_dup) — but the corpus side is never
    * recomputed and never shuffled.
    *
    * Join orientation is the scale argument: the index is the 100 TB
    * side, the batch is small by definition (one ingest increment), so
    * the hit count runs as `index INNER JOIN broadcast(batch cells)` —
    * a BroadcastHashJoin that STREAMS the index scan (zero exchange on
    * the big side) and feeds dynamic partition pruning on the `shard`
    * directory key, so only the shard directories the batch actually
    * touches are read. Per-doc totals come from the batch alone; docs
    * with zero index hits re-enter through the left join with a 0.
    *
    * DPP caveat (PartitionPruningSpec pins it): Spark's planner inserts
    * the pruning subquery only when the filtering side carries a
    * SELECTIVE predicate — batch relations should arrive as a filtered
    * slice (the natural ingest shape), not a bare literal relation. */
  def indexedCellScreen(batchCells: DataFrame, index: DataFrame,
      idCol: String): DataFrame = {
    val bc = batchCells.withColumn("shard", cellShard(col("cell_hash")))
    val totals = bc.groupBy(col(idCol)).agg(count(lit(1)).as("n_cells"))
    val hits = index.join(broadcast(bc), Seq("shard", "cell_hash"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_dup_cells"))
    totals.join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_cells"),
        coalesce(col("n_dup_cells"), lit(0L)).as("n_dup_cells"))
      .withColumn("dup_cell_frac",
        col("n_dup_cells").cast("double") / col("n_cells").cast("double"))
      .withColumn("is_mostly_dup", col("dup_cell_frac") >= 0.5)
  }

  /** Per-document LSH band rows — (id, band, bucket) — the NEAR-dup
    * analog of [[cellHashes]]' exact content keys: tokens → `shingleN`
    * shingles → k-min md5 signature ([[minhashSig]], compiled) → b
    * bands of r rows ([[bandBuckets]]). One row per (doc, band); a
    * document with too little text for one shingle still emits its b
    * degenerate-bucket rows (the all-null signature hashes like any
    * other — both engines agree, the minhash-bands oracle pins it).
    * Map-only per row: the signature and band hashes are projections,
    * the only "shuffle" is the explode's row fan-out. */
  def bandRows(docs: DataFrame, idCol: String, textCol: String,
               k: Int, b: Int, r: Int, shingleN: Int = 3): DataFrame =
    docs
      .withColumn("__toks", TextAnalysis.tokens(col(textCol)))
      .withColumn("__sh", TextAnalysis.shingles(col("__toks"), shingleN))
      .withColumn("__sig", minhashSig(col("__sh"), k))
      .select(col(idCol),
        explode(bandBuckets(col("__sig"), b, r)).as("__bb"))
      .select(col(idCol), col("__bb.band").as("band"),
        col("__bb.bucket").as("bucket"))

  /** Build the maintained NEAR-dup (MinHash band) index ONCE: the
    * corpus's (band, bucket → ref_id) rows written as parquet
    * partitioned by [[cellShard]] of the bucket hash — the
    * [[writeCellIndex]] lifecycle one similarity notch over, so
    * incremental paraphrase screening stops recomputing corpus
    * signatures per run. Unlike the cell index (distinct hashes only),
    * band rows KEEP the owning document id: a serve needs to report
    * which corpus documents collide, not just that something does.
    *
    * The hot-bucket guard runs AT BUILD ([[capHotBuckets]]' rule on
    * (band, bucket) at distinct-doc granularity): a degenerate bucket —
    * every sub-shingle-length document shares the empty-signature
    * bucket — would otherwise fan every future batch doc out to a
    * constant fraction of the corpus at serve time. Dropping it at
    * build bounds EVERY later serve and append; non-discriminative
    * buckets carry no similarity signal by definition (the
    * [[capHotBuckets]] recall argument). The dropped buckets persist
    * as a TOMBSTONE artifact (`capped` — bounded: one row per
    * degenerate bucket), so the build's drop decision is durable:
    * [[appendBandIndex]] refuses their rows forever, instead of
    * silently re-admitting a dropped bucket once its stored count
    * reads as zero.
    *
    * Same layout discipline as [[writeCellIndex]]: `repartition(shard)`
    * so each shard directory is one writer's output; production widens
    * the shard universe via [[cellShard]]'s nibble count. Published
    * under one [[IndexManifest]] commit (data + tombstones together). */
  def writeBandIndex(bands: DataFrame, idCol: String, cap: Int,
                     path: String): Unit = {
    // cap = 1 is legal here (keep only singleton buckets — the most
    // aggressive discriminativeness rule, used by the tombstone
    // differential); capHotBuckets' cap > 1 guard protects the
    // CANDIDATE-JOIN use, where cap = 1 would yield no pairs at all
    require(cap >= 1, s"cap must be positive, got $cap")
    val spark = bands.sparkSession
    val rows = bands
      .select(col(idCol).as("ref_id"), col("band"), col("bucket"))
      .distinct()
    // bounded (one row per degenerate bucket); eager so the anti-join
    // below and the artifact write share one materialization
    val capped = rows.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("_bucket_n"))
      .where(col("_bucket_n") > cap)
      .select(col("band"), col("bucket"))
      .localCheckpoint(true)
    // the append's column order (ref_id, band, bucket): the anti-join
    // puts its keys first, and files of two orders would make the
    // pinned read's schema depend on which file it meets first
    rows.join(broadcast(capped), Seq("band", "bucket"), "left_anti")
      .select(col("ref_id"), col("band"), col("bucket"))
      .withColumn("shard", cellShard(col("bucket")))
      .repartition(col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)
    val ptr = IndexManifest.writeArtifact(spark, path, "capped", capped)
    IndexManifest.commit(spark, path, Snapshot.Empty,
      Delta(IndexManifest.listDataFiles(spark, path), artifacts = Map(ptr))): Unit
  }

  /** The tombstone set `pin` carries — empty for legacy (pre-manifest)
    * fixtures. Bounded; broadcast by every consumer. */
  private def cappedBuckets(spark: org.apache.spark.sql.SparkSession,
                            pin: Snapshot): DataFrame =
    if (pin.artifacts.contains("capped")) pin.artifact(spark, "capped")
    else {
      import spark.implicits._
      Seq.empty[(Int, String)].toDF("band", "bucket")
    }

  /** Serve an ingest batch's NEAR-dup screen from the STORED band index
    * (the read-back of [[writeBandIndex]]): per batch document —
    * total band rows, bands that collided with any stored bucket,
    * distinct corpus documents collided with anywhere, and the
    * candidate flag. A flagged document proceeds to exact signature
    * comparison against its (bounded, by the build-time cap) candidate
    * set; an unflagged one provably collides with nothing stored.
    *
    * Join orientation mirrors [[indexedCellScreen]] — the scale
    * argument: `index INNER JOIN broadcast(batch bands)` STREAMS the
    * 100 TB index scan (zero exchange on the big side), feeds dynamic
    * partition pruning on the bucket-shard directory key, and the
    * output is bounded by batch × cap. Docs with zero hits re-enter
    * through the left join. Self-collisions (a batch doc already
    * appended) count like any other — the append law depends on it.
    * The two distinct counts are set sizes, not two `countDistinct`s:
    * Spark plans several distinct aggregates as an Expand whose
    * projection order is not stable between runs, so the plan could not
    * be compared across runs. */
  def indexedBandScreen(batchBands: DataFrame, index: DataFrame,
      idCol: String): DataFrame = {
    val bb = batchBands.withColumn("shard", cellShard(col("bucket")))
    val totals = bb.groupBy(col(idCol)).agg(count(lit(1)).as("n_bands"))
    val hits = index.join(broadcast(bb), Seq("shard", "band", "bucket"))
      .groupBy(col(idCol))
      .agg(size(collect_set(col("band"))).cast("long").as("n_hit_bands"),
        size(collect_set(col("ref_id"))).cast("long").as("n_candidates"))
    totals.join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_bands"),
        coalesce(col("n_hit_bands"), lit(0L)).as("n_hit_bands"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"))
      .withColumn("is_near_dup_candidate", col("n_hit_bands") > 0)
  }

  /** MAINTAIN the stored band index: append an ingest batch's NOVEL
    * (band, bucket, ref_id) rows — so later batches screen against this
    * batch's signatures too. Same bounded-build discipline as
    * [[appendCellIndex]]: known rows come from the streamed
    * `index ⋈ broadcast(batch rows)` join (output bounded by the
    * batch), novel = batch ANTI broadcast(known) — the index never
    * shuffles, and the write touches only the shard directories holding
    * novel rows. Idempotent: re-appending the same batch adds nothing.
    *
    * The build-time hot-bucket cap is enforced on APPENDS two ways:
    * rows in a TOMBSTONED bucket (dropped at build, or by an earlier
    * append — the `capped` artifact) are refused outright, and a
    * surviving bucket whose stored refs plus this batch's novel refs
    * would exceed `cap` takes NONE of them (the [[capHotBuckets]]
    * drop-the-bucket semantics — so neither a saturated stored bucket
    * nor a brand-new degenerate bucket arriving in one bursty batch
    * can break the serve's batch × cap fan-out bound). A rejected
    * bucket with ZERO stored refs is added to the tombstones — the
    * drop decision is durable in both directions, never silently
    * un-made by a later small batch. Bucket sizes come from the same
    * streamed join, so the checks cost no extra index pass.
    *
    * Same [[IndexManifest]] mutation protocol as [[appendCellIndex]]:
    * reconcile → pinned pre-state → append + tombstone version → one
    * atomic commit publishing both, closing with the retention vacuum
    * and listing no partition directory (staged write); a full replay
    * commits nothing at all. */
  def appendBandIndex(batchBands: DataFrame, idCol: String, cap: Int,
                      indexPath: String, retainVersions: Int = 2): Unit = {
    val spark = batchBands.sparkSession
    val snap = IndexManifest.reconcileAppend(spark, indexPath)
    val tombs = cappedBuckets(spark, snap)
    val bd = batchBands
      .select(col(idCol).as("ref_id"), col("band"), col("bucket"))
      .distinct()
      .join(broadcast(tombs), Seq("band", "bucket"), "left_anti")
      .withColumn("shard", cellShard(col("bucket")))
      .localCheckpoint(true)
    // bounded (≤ the shard universe), feeding the literal-IN index prune
    val shards = bd.select(col("shard")).distinct().collect()
      .map(r => Integer.valueOf(r.getInt(0))).toSeq
    // a fully-capped build stores ZERO rows (every bucket tombstoned) —
    // type the empty pre-state off the batch, don't infer from nothing
    val idx =
      if (snap.dataFiles.isEmpty)
        bd.select(col("ref_id"), col("band"), col("bucket"), col("shard"))
          .limit(0)
      else snap.data(spark)
        .where(col("shard").isin(shards: _*))
    val stored = idx.join(
        broadcast(bd.select(col("shard"), col("band"), col("bucket"))
          .distinct()),
        Seq("shard", "band", "bucket"))
      .select(col("shard"), col("band"), col("bucket"), col("ref_id"))
    val known = stored.groupBy(col("shard"), col("band"), col("bucket"))
      .agg(count(lit(1)).as("__n"))
    val novel = bd.join(broadcast(stored),
      Seq("shard", "band", "bucket", "ref_id"), "left_anti")
    val novelCounts = novel.groupBy(col("shard"), col("band"), col("bucket"))
      .agg(count(lit(1)).as("__nb"))
    val judged = novel
      .join(broadcast(known), Seq("shard", "band", "bucket"), "left")
      .join(broadcast(novelCounts), Seq("shard", "band", "bucket"))
    val added = IndexManifest.stageAppend(
      judged
        .where(coalesce(col("__n"), lit(0L)) + col("__nb") <= cap)
        .select(col("ref_id"), col("band"), col("bucket"), col("shard"))
        .repartition(col("shard")),
      indexPath, "shard")
    // a rejected bucket nothing is stored for is degenerate BY THIS
    // BATCH alone — tombstone it so it stays dropped (bounded set,
    // eager so isEmpty and the artifact write share one evaluation)
    val newTombs = judged
      .where(coalesce(col("__n"), lit(0L)) === 0L && col("__nb") > cap)
      .select(col("band"), col("bucket")).distinct()
      .localCheckpoint(true)
    val arts =
      if (newTombs.isEmpty) Map.empty[String, String]
      else Map(IndexManifest.writeArtifact(spark, indexPath, "capped",
        tombs.unionByName(newTombs)))
    IndexManifest.commit(spark, indexPath, snap, Delta(added, artifacts = arts),
      retainVersions): Unit
  }

  /** COMPACT a maintained shard-partitioned index: every
    * [[appendCellIndex]]/[[appendBandIndex]] (and every streaming
    * micro-batch append) adds parquet files into shard directories
    * without bound — after N appends each shard holds N small files and
    * serve-side scan tasks grow forever. This rewrites every shard
    * directory whose file count exceeds `maxFilesPerShard` down to ONE
    * file, preserving the partition layout (and therefore every serve
    * plan: partition pruning, broadcast orientation, schema — the spec
    * pins serve-identical-before/after).
    *
    * One [[IndexManifest.rewrite]] transaction: one pinned read of every
    * over-full shard's files, `repartition(partitionCol)` so each shard
    * is one task's output, and [[IndexManifest.stageAppend]] — ONE write
    * job whatever the shard count — then one commit that lists the fresh
    * files and drops the old. A reader planned at ANY point sees exactly
    * the pre- or post-manifest file set; a crash before the commit
    * leaves invisible orphans for the next reconcile, a crash after it
    * leaves the superseded files to the closing vacuum. `retainVersions`
    * sets that vacuum's window: the default 1 deletes superseded files
    * immediately (the single-machine economy); ≥ 2 keeps the
    * pre-compaction snapshot readable ([[IndexManifest.readDataAt]]) so
    * a reader EXECUTING against it never races the deletion. A gate's
    * append landing mid-compaction wins the claim and the compaction
    * re-plans over the winner's snapshot (the spec drives an append into
    * the `preCommitHook` seam and both land).
    *
    * At 100 TB the same shuffle carries only the over-full shards, each
    * landing in its own task — never a whole-index shuffle.
    *
    * Returns (shardsCompacted, filesBefore, filesAfter) across the
    * shards it touched (untouched shards excluded).
    *
    * `partitionCol` names the directory key — `shard` for the dedup
    * indexes, `cell` for the maintained IVF layout
    * ([[Similarity.appendIvfIndex]] grows cell directories the same
    * way); underscore-prefixed subdirectories (manifests, artifacts)
    * are never partition dirs and are left untouched. */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      maxFilesPerShard: Int, partitionCol: String = "shard",
      retainVersions: Int = 1,
      preCommitHook: () => Unit = () => ()): (Int, Int, Int) = {
    require(maxFilesPerShard >= 1, "file bounds must be positive")
    IndexManifest.rewrite(spark, path, retainVersions, preCommitHook) { snap =>
      val over = snap.dataFiles.groupBy(_.takeWhile(_ != '/'))
        .filter { case (d, fls) =>
          d.startsWith(s"$partitionCol=") && fls.length > maxFilesPerShard }
      if (over.isEmpty) (Delta(), (0, 0, 0))
      else {
        val old = over.values.flatten.toSeq
        val fresh = IndexManifest.stageAppend(
          IndexManifest.readFiles(spark, path, old)
            .repartition(col(partitionCol)),
          path, partitionCol)
        (Delta(fresh, old), (over.size, old.length, fresh.length))
      }
    }
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic deduplication"):
    * cluster the embedding column with the fixed-round deterministic
    * k-means ([[Similarity.fitCentroids]]), then compare pairs ONLY within
    * a cluster — a vector is a semantic duplicate when some LOWER-id
    * vector in its cluster has cosine ≥ `tau` (keep-lowest-id, the same
    * deterministic keeper rule as [[exact]]).
    *
    * Output: every input row's (id, cell) plus `n_prior` (lower-id
    * same-cell peers), `max_prior_sim` (highest cosine against any of
    * them; NULL when none), `is_semantic_dup`.
    *
    * Scale: the clustering bounds the candidate set exactly like LSH bands
    * bound MinHash — the corpus is never all-pairs joined, only
    * within-cell. Cell assignment is the map-only literal-centroid fold
    * ([[Similarity.assignCellsBroadcast]], zero exchanges), so the only
    * shuffles are the O(k × dim) k-means updates and the within-cell
    * self-join on `cell`. Cell population stays bounded because k SCALES
    * WITH THE CORPUS (SemDeDup runs ~100k clusters at web scale; expected
    * cell size = corpus / k), making the per-cell pairwise cost
    * O(corpus × cell) — a degenerate cell at production scale would be
    * guarded with [[capHotBuckets]] on `cell`, not modeled here because
    * the oracle twin replays the exact uncapped math. */
  def semanticDedup(corpus: DataFrame, kCells: Int, rounds: Int, tau: Double,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    graft.functions.VectorFunctions.register(corpus.sparkSession)
    import graft.functions.VectorFunctions.vec_dot
    val cents = Similarity.fitCentroids(corpus, kCells, rounds, idCol, vecCol)
    // MATERIALIZE the assigned corpus before the self-join: both join
    // sides would otherwise re-evaluate the k-cell argmin fold (k × dim
    // interpreted HOF ops per row) through the join, and at k beyond
    // toy sizes that dominates (measured 14 s → 1.2 s at sf0.1, k=8).
    // This mirrors the production shape, where assignment runs once at
    // ingest and the assigned table is WRITTEN (bucketed by cell) —
    // assignment is never recomputed per query, let alone per join side.
    // Memoized per (session, corpus plan, params): repeated query builds
    // (probe re-runs, bench reps) reuse ONE cache entry instead of
    // stacking a fresh persist() per build — the returned plan references
    // the cached DF, so it cannot be unpersisted here.
    val assigned = graft.Tables.memoBy(corpus.sparkSession,
      s"semdedup:${corpus.semanticHash()}:$kCells:$rounds:$idCol:$vecCol") {
      Similarity.assignCellsBroadcast(corpus, cents, vecCol)
        .select(col(idCol), col(vecCol), col("cell"),
          sqrt(vec_dot(col(vecCol), col(vecCol))).as("_norm"))
        .persist()
    }
    val a = assigned.select(col("cell"), col(idCol).as("_id_a"),
      col(vecCol).as("_va"), col("_norm").as("_na"))
    val b = assigned.select(col("cell"), col(idCol).as("_id_b"),
      col(vecCol).as("_vb"), col("_norm").as("_nb"))
    val prior = a.join(b, Seq("cell"))
      .where(col("_id_a") < col("_id_b"))
      .select(col("_id_b").as(idCol),
        (vec_dot(col("_va"), col("_vb")) / (col("_na") * col("_nb"))).as("_cos"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_prior"), max(col("_cos")).as("max_prior_sim"))
    assigned.select(col(idCol), col("cell"))
      .join(prior, Seq(idCol), "left")
      .select(col(idCol), col("cell"),
        coalesce(col("n_prior"), lit(0L)).as("n_prior"),
        col("max_prior_sim"),
        coalesce(col("max_prior_sim") >= tau, lit(false)).as("is_semantic_dup"))
  }

  /** SemDeDup SERVED from the maintained IVF index — the incremental
    * form of [[semanticDedup]], closing the same recompute-per-run gap
    * the cell/band serves closed for exact/near dedup: the stored
    * centroids ([[Similarity.writeIvfIndex]]'s artifact) assign the
    * ingest batch map-only, and each batch vector compares ONLY
    * against the stored vectors of its own cell, read through a
    * planning-time-pruned scan of the cell directories the batch
    * actually routes to. Per batch vector: its cell, how many stored
    * same-cell candidates it met, the highest cosine among them
    * (NULL when the cell holds nothing), and the `tau` verdict.
    *
    * Scale: centroid pull and batch are bounded (the batch is
    * localCheckpoint'ed — it feeds the probed-cell pull and the join);
    * the index side streams through a BroadcastHashJoin of the batch
    * and never shuffles ([[indexedCellScreen]]'s orientation); output
    * is bounded by batch × cell population, which [[semanticDedup]]'s
    * corpus-sized-k contract keeps at batch × targetCellSize. Pair
    * [[Similarity.appendIvfIndex]] behind it for the cross-batch
    * first-seen law (a near-copy in a later batch flags against this
    * one) — the `data_dedup_semantic_index_append` differential.
    * Centroids and cells both read through `pin`. */
  def semanticIndexScreen(batch: DataFrame, pin: Snapshot, tau: Double,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    graft.functions.VectorFunctions.register(batch.sparkSession)
    import graft.functions.VectorFunctions.vec_dot
    val spark = batch.sparkSession
    val cents = Similarity.readIvfCentroids(spark, pin)
    val assigned = Similarity.assignCellsBroadcast(batch, cents, vecCol)
      .select(col(idCol), col(vecCol), col("cell"),
        sqrt(vec_dot(col(vecCol), col(vecCol))).as("_bnorm"))
      .localCheckpoint(true)
    val probeCells: Seq[Long] = assigned.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    val idx = pin.data(spark)
      .where(col("cell").isin(probeCells: _*))
      .withColumn("cell", col("cell").cast("long"))
    val b = assigned.select(col("cell"), col(idCol).as("_bid"),
      col(vecCol).as("_bvec"), col("_bnorm"))
    val prior = idx.join(broadcast(b), Seq("cell"))
      .where(col(idCol) =!= col("_bid"))
      .select(col("_bid"),
        (vec_dot(col(vecCol), col("_bvec")) /
          (sqrt(vec_dot(col(vecCol), col(vecCol))) * col("_bnorm")))
          .as("_cos"))
      .groupBy(col("_bid"))
      .agg(count(lit(1)).as("n_candidates"),
        max(col("_cos")).as("max_stored_sim"))
      .withColumnRenamed("_bid", idCol)
    assigned.select(col(idCol), col("cell"))
      // explicit hint: `prior` is batch-bounded by construction, but it
      // hangs off a checkpointed relation with no size statistics, so
      // the planner would SMJ two batch-sized tables
      .join(broadcast(prior), Seq(idCol), "left")
      .select(col(idCol), col("cell"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("max_stored_sim"),
        coalesce(col("max_stored_sim") >= tau, lit(false))
          .as("is_semantic_dup"))
  }

  /** [[semanticDedup]] with the cell count sized to the CORPUS — the
    * production entry point. SemDeDup's within-cell pairwise cosine is
    * quadratic in cell size, so a CONSTANT kCells turns linear corpus
    * growth into quadratic work (measured: the oracle query's fixed 8
    * cells cost 109 s at sf10 where 40 right-sized cells cost a few
    * seconds); the published SemDeDup setup scales cluster count with
    * the corpus for exactly this reason. `kCells = ceil(n /
    * targetCellSize)` bounds per-cell work at targetCellSize²/2
    * comparisons regardless of corpus size; the count is one cheap
    * aggregate at build time (production would read it from table
    * stats). The verify query keeps the oracle-fixed kCells=8 — same
    * plan, deterministic k. */
  def semanticDedupScaled(corpus: DataFrame, rounds: Int, tau: Double,
                          targetCellSize: Int = 2000,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    require(targetCellSize > 1, s"targetCellSize must exceed 1, got $targetCellSize")
    val n = corpus.count()
    val k = math.max(1L, (n + targetCellSize - 1) / targetCellSize).toInt
    semanticDedup(corpus, k, rounds, tau, idCol, vecCol)
  }

  /** Estimated Jaccard from two equal-length signatures: matching fraction. */
  def estJaccard(sigA: Column, sigB: Column, k: Int): Column =
    size(filter(zip_with(sigA, sigB, (x, y) => x === y), b => b)).cast("double") / k

  /** 16-bit SimHash as a '0'/'1' string: per bit position p, each word
    * votes ±1 by the high bit of hex digit p of its md5; bit = votes > 0. */
  def simhash16(words: Column): Column =
    array_join(
      transform(sequence(lit(1), lit(16)), p =>
        when(aggregate(words, lit(0), (acc, w) =>
          acc + when(lit("89abcdef").contains(md5(w).substr(p, lit(1))), 1).otherwise(-1)
        ) > 0, "1").otherwise("0")),
      "")

  /** Exact Jaccard over distinct shingle sets (int/int division — identical
    * doubles in every engine). */
  def jaccard(shA: Column, shB: Column): Column =
    size(array_intersect(shA, shB)).cast("double") /
      size(array_union(shA, shB)).cast("double")

  /** Connected components over an undirected edge list by iterative
    * min-label propagation: every node repeatedly adopts the minimum label
    * among itself and its neighbors until fixpoint; the component id is the
    * minimum node id in the component. This is the step that turns
    * near-dup CANDIDATE PAIRS into dedup GROUPS (pick one keeper per
    * component), i.e. the transitive closure the pairwise queries alone
    * don't give.
    *
    * Scale shape: a Pregel-style fixpoint — each iteration is ONE shuffle
    * (messages grouped by node) over O(edges) rows, and the iteration
    * count is the component DIAMETER, which for near-dup clusters is small
    * (dup groups are dense). The driver loop holds only the convergence
    * counter (one long per iteration), never data; intermediate label
    * tables are persisted and released generation-by-generation. For
    * web-scale graphs with long chains the same loop takes the
    * large-star/small-star contraction, which this formulation is the
    * degenerate (star-free) case of.
    *
    * Determinism: min() is order-free, so labels are independent of
    * partitioning and iteration interleaving.
    *
    * @return one row per node appearing in `edges`: (id, component). */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 50): DataFrame = {
    require(maxIter > 0, s"maxIter must be positive, got $maxIter")
    val bi = edges.select(col(srcCol).as("s"), col(dstCol).as("d"))
      .union(edges.select(col(dstCol).as("s"), col(srcCol).as("d")))
      .persist()
    var labels = bi.select(col("s").as("id")).distinct()
      .withColumn("component", col("id")).persist()
    // Convergence check: labels are MONOTONE (next = min(own, neighbors')
    // can only decrease per id, and the id set is fixed), so the fixpoint
    // is reached exactly when sum(component) stops strictly decreasing —
    // one tiny aggregate over the table that must materialize anyway,
    // instead of a join back against the previous generation.
    def labelSum(df: DataFrame): Option[java.math.BigDecimal] =
      Option(df.agg(sum(col("component").cast("decimal(38,0)"))).head.getDecimal(0))
    var prevSum = labelSum(labels)
    var changed = prevSum.nonEmpty // empty graph is converged at iteration 0
    var iter = 0
    while (changed && iter < maxIter) {
      val msgs = bi.join(labels, bi("s") === labels("id"))
        .select(col("d").as("id"), col("component"))
      // localCheckpoint, NOT persist: persist short-circuits EXECUTION
      // but the logical plan still doubles per generation, so a
      // high-iteration run OOMs the driver in ANALYSIS long before data
      // size matters. Checkpointing truncates the lineage each generation,
      // keeping plan size constant across iterations. (A production
      // cluster run would use reliable checkpoint() with a configured
      // checkpoint dir to also survive executor loss.) LAZY: the
      // convergence aggregate right below scans every partition, so it
      // doubles as the materializing action — ONE Spark job per
      // iteration instead of a standalone checkpoint job plus the
      // aggregate, the Pregel action floor without a custom accumulator.
      val next = labels.select(col("id"), col("component")).union(msgs)
        .groupBy(col("id")).agg(min(col("component")).as("component"))
        .localCheckpoint(false)
      val nextSum = labelSum(next)
      changed = nextSum != prevSum
      prevSum = nextSum
      labels.unpersist()
      labels = next
      iter += 1
    }
    bi.unpersist()
    // Loud failure beats silently-split components. Exiting on the
    // iteration cap with changed > 0 leaves the result UNPROVEN — the last
    // permitted iteration may or may not have reached the fixpoint (a
    // converged run always exits via a final zero-change iteration, so the
    // usable propagation depth is maxIter - 1) — and an unproven component
    // labeling can silently diverge from any transitive-closure oracle.
    if (changed)
      throw new IllegalStateException(
        s"connectedComponents did not provably converge within $maxIter " +
          "iterations (labels were still changing in the last permitted " +
          "one); raise maxIter above the expected component diameter + 1, " +
          "or use connectedComponentsStar for long-chain graphs")
    labels
  }

  /** Connected components by alternating LARGE-STAR / SMALL-STAR
    * contraction (the MapReduce-native formulation from the published
    * "Connected Components in MapReduce and Beyond" line of work): each
    * round rewires every node's strictly-larger neighbors (large-star),
    * then its smaller-or-self neighbors (small-star), onto the minimum of
    * its closed neighborhood. The edge set contracts toward a star forest
    * whose centers are the component minima in O(log² n) rounds REGARDLESS
    * OF DIAMETER — the variant for long-chain graphs, where
    * [[connectedComponents]]'s label propagation needs diameter+1
    * iterations. Prefer min-label for near-dup clusters (dense, tiny
    * diameter: fewer shuffles per round); prefer this for arbitrary graph
    * shapes.
    *
    * Scale shape: each round is two groupBy-min aggregations and two
    * equi-joins over O(edges) rows — no driver-side data, intermediate
    * generations persisted and released one-by-one. Convergence is
    * edge-set stability (`next ≡ prev`), checked distributively.
    *
    * Same contract as [[connectedComponents]]: one row per node appearing
    * in `edges`, (id, component = min node id of the component), loud
    * failure if the round budget is exhausted before provable convergence.
    */
  def connectedComponentsStar(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 25): DataFrame = {
    require(maxIter > 0, s"maxIter must be positive, got $maxIter")
    val nodes = edges.select(col(srcCol).as("id"))
      .union(edges.select(col(dstCol).as("id"))).distinct().persist()
    // Canonical undirected form: hi > lo, self-loops dropped (their nodes
    // stay in `nodes` and label themselves).
    var e = edges
      .select(greatest(col(srcCol), col(dstCol)).as("hi"),
        least(col(srcCol), col(dstCol)).as("lo"))
      .where(col("hi") =!= col("lo")).distinct().persist()

    // One star operation over the canonical edge set. For each center u of
    // the symmetrized neighborhood: m = min(Γ(u) ∪ {u}); large-star emits
    // (v, m) for the neighbors v > u, small-star emits (v, m) for v < u
    // plus (u, m). Every emitted pair has v >= m, so canonical form is
    // preserved by construction.
    def star(cur: DataFrame, large: Boolean): DataFrame = {
      val nb = cur.select(col("hi").as("u"), col("lo").as("v"))
        .union(cur.select(col("lo").as("u"), col("hi").as("v")))
      val mins = nb.groupBy(col("u")).agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      val sel = if (large) nb.where(col("v") > col("u"))
                else nb.where(col("v") < col("u"))
      val emitted = sel.join(mins, "u").select(col("v"), col("m"))
      val all = if (large) emitted
                else emitted.union(mins.select(col("u").as("v"), col("m")))
      all.where(col("v") =!= col("m"))
        .select(col("v").as("hi"), col("m").as("lo")).distinct()
    }

    var converged = false
    var iter = 0
    // the previous round's |next| is this round's |e| — carried instead
    // of re-counting the same set every round (one fewer job per round;
    // -1 = not yet counted, resolved lazily on the first round)
    var eCount = -1L
    while (!converged && iter < maxIter) {
      val lg = star(e, large = true).persist()
      // localCheckpoint truncates lineage each round — same rationale as
      // in [[connectedComponents]]: without it the plan doubles per round
      // and planning cost, not data, becomes the bound. LAZY: the
      // count() right below scans every partition and doubles as the
      // materializing action — one job per round, not two.
      val next = star(lg, large = false).localCheckpoint(false)
      val nextCount = next.count()
      if (eCount < 0) eCount = e.count()
      // Edge-set stability: equal cardinality + next ⊆ prev ⟺ next ≡ prev
      // (both sides are distinct sets).
      converged = nextCount == eCount && next.except(e).isEmpty
      lg.unpersist()
      e.unpersist()
      e = next
      eCount = nextCount
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar did not provably converge within $maxIter " +
          "rounds; raise maxIter (rounds needed grow ~log² of the largest " +
          "component)")
    // Fixpoint is a star forest: every non-center node carries exactly one
    // (node, center) edge; centers and isolated nodes label themselves.
    val labels = nodes
      .join(e.select(col("hi").as("id"), col("lo").as("root")), Seq("id"), "left")
      .select(col("id"), coalesce(col("root"), col("id")).as("component"))
    e.unpersist()
    nodes.unpersist()
    labels
  }

  // ------------------------------------------------- maintained components

  /** Shard key of a node id in the MAINTAINED components index: id mod 16
    * (ids are already uniform keys; the [[cellShard]] convention without
    * the hash, so the oracle can replay it trivially). */
  def nodeShard(id: Column): Column = pmod(id, lit(16L)).cast("int")

  /** Build the MAINTAINED near-dup CLUSTER index ONCE — the cluster-level
    * member of the maintained-dedup family (exact cells → bands →
    * vectors → components): every node's component label (= min node id,
    * the [[connectedComponentsStar]] contract) persists as
    * `(node_id, rep)` partitioned by [[nodeShard]], under one
    * [[IndexManifest]] commit together with the (initially empty)
    * REP-FORWARDING artifact.
    *
    * The forwarding table is the design's load-bearing piece: DATA FILES
    * ARE IMMUTABLE. When a later batch's edges merge stored clusters, no
    * stored row is rewritten — the superseded representatives forward to
    * the new canonical through the bounded artifact (one row per rep
    * ever superseded — merges only ever shrink the rep universe), and
    * every serve resolves `rep → canonical` through a broadcast of it.
    * The table is kept FLAT (every target is a current canonical), so
    * resolution is one join, never a chain walk. */
  def writeComponentsIndex(edges: DataFrame, srcCol: String, dstCol: String,
                           path: String): Unit = {
    val spark = edges.sparkSession
    val labels = connectedComponentsStar(edges, srcCol, dstCol)
      .select(col("id").as("node_id"), col("component").as("rep"))
      .localCheckpoint(true)
    labels
      .withColumn("shard", nodeShard(col("node_id")))
      .repartition(col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)
    val fw = IndexManifest.writeArtifact(spark, path, "forward",
      spark.range(0).select(col("id").as("old_rep"),
        col("id").as("canonical")))
    // the component COUNT as a 1-row stats artifact, maintained by
    // exact increments on every append ([[appendComponentsEdges]]) so
    // gate receipts never pay a full-index aggregate — the postings
    // df/N precedent at cluster granularity
    val st = IndexManifest.writeArtifact(spark, path, "stats",
      labels.agg(countDistinct(col("rep")).as("n_components")))
    IndexManifest.commit(spark, path, Snapshot.Empty,
      Delta(IndexManifest.listDataFiles(spark, path), artifacts = Map(fw, st))): Unit
  }

  /** The rep-forwarding table `pin` pairs with its rows — bounded by
    * the count of ever-superseded representatives; broadcast by every
    * consumer. */
  def readComponentsForward(spark: org.apache.spark.sql.SparkSession,
                            pin: Snapshot): DataFrame =
    pin.artifact(spark, "forward")

  /** The maintained component COUNT — a 1-row artifact read, never an
    * index scan: built once, exact-incremented per append
    * ([[appendComponentsEdges]]'s bounded merge-graph arithmetic). The
    * gate-receipt and monitoring handle. */
  def readComponentsStats(spark: org.apache.spark.sql.SparkSession,
                          pin: Snapshot): DataFrame =
    pin.artifact(spark, "stats")

  /** Every stored node's CURRENT component: `(id, component)` — the
    * stored write-time rep resolved through the forwarding broadcast,
    * both read through `pin`. Scale: one streamed scan of the index
    * (map-only against the broadcast), no shuffle.
    *
    * A `loadAt` pin is the TIME-TRAVEL serve — artifact pairing at
    * cluster granularity: version v's stored rows resolved through
    * version v's FORWARDING table. The pairing is the law: a later
    * forwarding version knows merges that had not happened at v, so
    * mixing it with v's rows would "predict" components no v-time
    * reader ever saw (and after a compaction folded the table, the
    * CURRENT artifact is empty — old rows served with it would
    * resurrect pre-merge labels). */
  def componentsIndexServe(spark: org.apache.spark.sql.SparkSession,
                           pin: Snapshot): DataFrame =
    pin.data(spark)
      .join(broadcast(readComponentsForward(spark, pin)),
        col("rep") === col("old_rep"), "left")
      .select(col("node_id").as("id"),
        coalesce(col("canonical"), col("rep")).as("component"))

  /** MAINTAIN the cluster index: absorb an ingest batch's near-dup
    * EDGES — new nodes enter with their component's canonical label,
    * and edges that connect EXISTING clusters merge them by updating
    * the forwarding artifact only (stored rows never rewrite; the
    * incremental transitive-closure step a per-run
    * [[connectedComponentsStar]] recompute cannot give you).
    *
    * Mechanics, all batch- or artifact-bounded except one streamed
    * pruned index scan:
    *   1. touched = the batch edges' endpoints (bounded); their stored
    *      labels come from `index ⋈ broadcast(touched)` with literal-IN
    *      shard pruning, resolved through the forwarding broadcast.
    *   2. The MERGE GRAPH maps every endpoint to its current canonical
    *      (or itself when new) — a graph over ≤ 2·|batch edges| nodes —
    *      and [[connectedComponentsStar]] on it yields each group's new
    *      canonical (min over member canonicals and new ids, which is
    *      exactly the from-scratch min: component minima are preserved
    *      under union).
    *   3. New nodes append into the shard layout labeled with their
    *      group canonical; superseded canonicals gain forwarding rows,
    *      and EXISTING forwarding entries whose target was superseded
    *      re-point (the table stays flat).
    *   4. One [[IndexManifest.commit]] publishes the appended rows
    *      and the new forwarding version atomically.
    *
    * Idempotent: a full replay finds every endpoint stored, every merge
    * already applied (the merge graph degenerates to self-loops), and
    * commits no new rows and an unchanged forwarding set — the law the
    * `data_dedup_components_append` oracle pins by appending twice.
    *
    * Serve-equals-rebuild: after any append sequence,
    * [[componentsIndexServe]] is row-identical to a from-scratch
    * [[connectedComponentsStar]] over the UNION of all edges ever
    * absorbed — the differential the oracle replays. */
  def appendComponentsEdges(batchEdges: DataFrame, srcCol: String,
                            dstCol: String, path: String,
                            retainVersions: Int = 2): Unit = {
    val spark = batchEdges.sparkSession
    val be = batchEdges
      .select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"))
      .distinct().localCheckpoint(true)
    val touched = be.select(explode(array(col("s"), col("d"))).as("node_id"))
      .distinct().localCheckpoint(true)
    val shards = touched.select(nodeShard(col("node_id")).as("shard"))
      .distinct().collect().map(r => Integer.valueOf(r.getInt(0))).toSeq
    val snap = IndexManifest.reconcileAppend(spark, path)
    val idx = snap.data(spark)
      .where(col("shard").isin(shards: _*))
    val fw = readComponentsForward(spark, snap).localCheckpoint(true)
    // stored endpoints' CURRENT canonical (forward-resolved)
    val resolved = idx.join(broadcast(touched), Seq("node_id"))
      .join(broadcast(fw), col("rep") === col("old_rep"), "left")
      .select(col("node_id"),
        coalesce(col("canonical"), col("rep")).as("cur"))
      .localCheckpoint(true)
    // the merge graph: endpoints mapped to canonical-or-self
    def mapped(end: String) = be
      .join(broadcast(resolved).withColumnRenamed("node_id", end)
        .withColumnRenamed("cur", s"__c_$end"), Seq(end), "left")
    val eg = mapped("s")
      .join(broadcast(resolved).withColumnRenamed("node_id", "d")
        .withColumnRenamed("cur", "__c_d"), Seq("d"), "left")
      .select(coalesce(col("__c_s"), col("s")).as("gs"),
        coalesce(col("__c_d"), col("d")).as("gd"))
      .localCheckpoint(true)
    // groups over the bounded merge graph (self-loops label themselves
    // through the star contract); every merge-graph node gets a canonical
    val groups = connectedComponentsStar(eg, "gs", "gd")
      .select(col("id").as("g_node"), col("component").as("g_canon"))
      .localCheckpoint(true)
    // 3a. new nodes -> labeled with their group canonical
    val newNodes = touched
      .join(broadcast(resolved.select(col("node_id"))), Seq("node_id"),
        "left_anti")
    val added = IndexManifest.stageAppend(
      newNodes
        .join(broadcast(groups), col("node_id") === col("g_node"), "left")
        .select(col("node_id"),
          coalesce(col("g_canon"), col("node_id")).as("rep"))
        .withColumn("shard", nodeShard(col("node_id")))
        .repartition(col("shard")),
      path, "shard")
    // 3b. forwarding updates: superseded canonicals + re-pointed entries.
    // All bounded tables; collected comparison decides the no-op case.
    val superseded = resolved.select(col("cur").as("old_rep")).distinct()
      .join(groups, col("old_rep") === col("g_node"))
      .where(col("g_canon") =!= col("old_rep"))
      .select(col("old_rep"), col("g_canon").as("canonical"))
    val repointed = fw
      .join(broadcast(groups), col("canonical") === col("g_node"), "left")
      .select(col("old_rep"),
        coalesce(col("g_canon"), col("canonical")).as("canonical"))
    val newFw = repointed.unionByName(superseded).distinct()
    // no-op detection in ONE job: both exceptAll directions (the
    // symmetric difference of two distinct sets) union'd under a single
    // limit(1) — a replay must not pay two passes over the forwarding
    // sets to learn nothing changed
    val changed = newFw.exceptAll(fw)
      .unionByName(fw.exceptAll(newFw))
      .limit(1).count() > 0
    val fwArts =
      if (!changed) Map.empty[String, String]
      else Map(IndexManifest.writeArtifact(spark, path, "forward", newFw))
    // component-count maintenance from the BOUNDED merge-graph tables
    // alone: the e engaged existing components collapse into their
    // merge-graph groups (g distinct canonicals over engaged ∪ new
    // nodes), so the count moves by exactly g − e — the receipt's
    // n_components never costs an index aggregate
    val e = resolved.select(col("cur")).distinct().count()
    val g = groups.select(col("g_canon")).distinct().count()
    val hasStats = snap.artifacts.contains("stats")
    val stArts =
      if (g == e && hasStats) Map.empty[String, String]
      else {
        val before =
          if (hasStats) readComponentsStats(spark, snap).head().getLong(0)
          else // one-time adoption of a pre-stats index, served from
               // the PRE-append snapshot
            componentsIndexServe(spark, snap)
              .agg(countDistinct(col("component"))).head().getLong(0)
        Map(IndexManifest.writeArtifact(spark, path, "stats",
          spark.range(1)
            .select(lit(before + g - e).as("n_components"))))
      }
    // an idempotent replay (no new nodes, unchanged forwarding, zero
    // count delta) commits NOTHING — the commit's no-op skip, so
    // replays stop minting byte-identical manifest versions into the
    // retention horizon
    IndexManifest.commit(spark, path, snap,
      Delta(added, artifacts = fwArts ++ stArts), retainVersions): Unit
  }

  /** COMPACT the cluster index — fold the rep-forwarding artifact into
    * the stored rows and TRUNCATE it: every shard that holds a
    * superseded rep rewrites with `rep := canonical`, and the new
    * (empty) forwarding version publishes with the fresh files in ONE
    * atomic commit, so the serve is bit-identical before and after
    * (the [[compactIndex]] law, content edition) while the table every
    * serve BROADCASTS stops growing with merge history — the missing
    * bound on a years-long stream of cluster merges.
    *
    * Mechanics are [[compactIndex]]'s — one [[IndexManifest.rewrite]]:
    * one pinned read of the AFFECTED shards (found by one streamed scan
    * against the broadcast forwarding table), resolved and
    * `repartition(shard)`ed into one [[IndexManifest.stageAppend]]
    * write, one commit, vacuum to `retainVersions` (≥ 2 keeps the
    * pre-fold snapshot serving time-travel — whose OLD forwarding
    * version stays paired with the old rows in a
    * [[componentsIndexServe]] on a `loadAt` pin). A racing gate append wins the claim
    * and the fold re-plans over the winner's rows AND artifacts — both
    * land.
    *
    * Returns (shardsRewritten, filesFolded). */
  def compactComponentsIndex(spark: org.apache.spark.sql.SparkSession,
                             path: String,
                             retainVersions: Int = 1,
                             preCommitHook: () => Unit = () => ()): (Int, Long) =
    IndexManifest.rewrite(spark, path, retainVersions, preCommitHook) { snap =>
      val fw = readComponentsForward(spark, snap).localCheckpoint(true)
      if (fw.isEmpty) (Delta(), (0, 0L))
      else {
        val affected = snap.data(spark)
          .join(broadcast(fw), col("rep") === col("old_rep"))
          .select(col("shard")).distinct().collect()
          .map(r => s"shard=${r.getInt(0)}").toSet
        val old = snap.dataFiles.filter(f => affected(f.takeWhile(_ != '/')))
        val fresh =
          if (old.isEmpty) Seq.empty
          else IndexManifest.stageAppend(
            IndexManifest.readFiles(spark, path, old)
              .join(broadcast(fw), col("rep") === col("old_rep"), "left")
              .select(col("node_id"),
                coalesce(col("canonical"), col("rep")).as("rep"), col("shard"))
              .repartition(col("shard")),
            path, "shard")
        val emptyFw = IndexManifest.writeArtifact(spark, path, "forward",
          spark.range(0).select(col("id").as("old_rep"),
            col("id").as("canonical")))
        (Delta(fresh, old, Map(emptyFw)), (affected.size, old.length.toLong))
      }
    }
}
