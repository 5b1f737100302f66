package graft.data

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import IndexManifest.{Delta, Snapshot}

/** Corpus indexing + membership operators for the training-data pipeline:
  * exact-substring (duplicate-span) removal, a count-min sketch for
  * heavy-hitter estimation, Bloom-filter membership for benchmark
  * decontamination, and a positional inverted index with phrase serving.
  *
  * All hashing is the repo's portable-md5 arithmetic (first 4 hex digits
  * of an md5 as an integer), so a DuckDB oracle replays every bucket and
  * bit position exactly — no engine-private hash anywhere.
  */
object Indexing {

  /** Seeded hash bucket in [0, m): the seeded twin of
    * [[TextAnalysis.hashBucket]] — first 4 md5 hex digits of
    * `"seed|value"` as an integer, mod m. m must be ≤ 65536 (the hash
    * has 16 bits); widen to more hex digits before raising m. */
  def seededBucket(x: Column, seed: Column, m: Int): Column = {
    require(m > 0 && m <= 65536, s"m must be in (0, 65536], got $m")
    conv(substring(md5(concat_ws("|", seed.cast("string"), x)), 1, 4), 16, 10)
      .cast("long") % m
  }

  // ---------------------------------------------------------------------
  // Exact-substring (duplicate-span) removal — Lee et al. 2022,
  // "Deduplicating Training Data Makes Language Models Better": token
  // spans whose n-gram occurs more than once ANYWHERE in the corpus are
  // removed from every document (we drop all occurrences; the paper
  // discusses keeping one — dropping all is deterministic under any
  // partitioning, which is what a parallel engine wants).
  // ---------------------------------------------------------------------

  /** Per-document duplicate-span removal over word n-grams.
    *
    * Scale shape: occurrences explode to one row per (doc, position) —
    * O(total tokens); the duplicated-hash set comes from ONE hash
    * aggregate on the n-gram hash (map-side combinable); occurrences
    * join that set on the hash (equi-join, output ≤ occurrence count —
    * a corpus-hot n-gram contributes k occurrence rows joining ONE hash
    * row, linear, never pairwise); the per-doc mask is a sorted
    * start-position list folded back with one HOF filter, O(len ×
    * dup-starts) per row. No self-join, no window over the corpus.
    *
    * Output: (id, n_tokens, n_removed, kept_frac, cleaned_text); all
    * NULL for NULL text.
    */
  def removeDupSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n >= 2, s"span length must be >= 2, got $n")
    val toks = docs.select(col(idCol),
        TextAnalysis.tokens(col(textCol)).as("toks"))
      .withColumn("nt", size(col("toks")).cast("long"))
    // The occurrence relation feeds BOTH the dup-hash aggregate and the
    // join-back; memo-persist it so the explode+md5 runs once (measured
    // 2× at sf1 — DuckDB materializes the twice-referenced CTE the same
    // way). At cluster scale swap the persist for a checkpoint or let
    // the two branches recompute the map-only explode — never shuffle
    // the raw occurrences by hash just to share them.
    val occ = graft.Tables.memoBy(docs.sparkSession,
        s"dupspans:${docs.semanticHash()}:$n:$idCol:$textCol") {
      toks.where(col("nt") >= n)
        .select(col(idCol), explode(transform(
          sequence(lit(0L), col("nt") - n),
          p => struct(p.as("pos"),
            md5(concat_ws(" ", slice(col("toks"), (p + 1).cast("int"), lit(n))))
              .as("h")))).as("o"))
        .select(col(idCol), col("o.pos").as("pos"), col("o.h").as("h"))
    }
    val dup = occ.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .where(col("c") >= 2).select(col("h"))
    val starts = occ.join(dup, Seq("h"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("starts"))
    toks.join(starts, Seq(idCol), "left")
      .withColumn("starts",
        coalesce(col("starts"), array().cast("array<long>")))
      .withColumn("kept", when(col("toks").isNotNull,
        filter(sequence(lit(0L), col("nt") - 1),
          i => !exists(col("starts"), s => s <= i && i < s + n))))
      .select(col(idCol),
        col("nt").as("n_tokens"),
        (col("nt") - size(col("kept"))).cast("long").as("n_removed"),
        (size(col("kept")).cast("double") / col("nt").cast("double"))
          .as("kept_frac"),
        when(col("toks").isNotNull, concat_ws(" ",
          transform(col("kept"),
            i => element_at(col("toks"), (i + 1).cast("int")))))
          .as("cleaned_text"))
  }

  // ---------------------------------------------------------------------
  // Count-min sketch (Cormode & Muthukrishnan 2005): d seeded rows of w
  // counters; point estimate = min over rows. The sketch is a TABLE of
  // (r, bucket, cnt) — built by one hash aggregate (map-side combinable,
  // shuffle O(d·w) regardless of corpus size) and merged across corpora
  // by summing counters.
  // ---------------------------------------------------------------------

  /** Build the (r, bucket, cnt) CMS table over a single value column. */
  def cmsTable(values: DataFrame, c: String, d: Int, w: Int): DataFrame =
    values.select(explode(transform(sequence(lit(0), lit(d - 1)),
        r => struct(r.cast("long").as("r"),
          seededBucket(col(c), r, w).as("bucket")))).as("cell"))
      .groupBy(col("cell.r").as("r"), col("cell.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Point estimates for a (small) query set: min over the d row
    * counters. `queries` keeps its other columns. The CMS table has d·w
    * rows — broadcast it. */
  def cmsEstimate(cms: DataFrame, queries: DataFrame, c: String,
      d: Int, w: Int): DataFrame = {
    val keyCols = queries.columns.map(col).toSeq
    queries.select(keyCols :+ explode(transform(sequence(lit(0), lit(d - 1)),
        r => struct(r.cast("long").as("r"),
          seededBucket(col(c), r, w).as("bucket")))).as("cell"): _*)
      .select(keyCols :+ col("cell.r").as("r") :+
        col("cell.bucket").as("bucket"): _*)
      .join(broadcast(cms), Seq("r", "bucket"))
      .groupBy(keyCols: _*)
      .agg(min(col("cnt")).as("est_cnt"))
  }

  // ---------------------------------------------------------------------
  // Bloom filter membership (Bloom 1970): k seeded bit positions in
  // [0, m). The filter is the DISTINCT set of set-bit positions — a
  // bounded model artifact (≤ m rows) built from the member set with one
  // aggregate, then broadcast to the corpus join. Deterministic false
  // positives (same in any engine that replays the hashes); zero false
  // negatives — the invariant the spec asserts.
  // ---------------------------------------------------------------------

  /** Set-bit positions of the Bloom filter over `members(c)`. */
  def bloomBits(members: DataFrame, c: String, k: Int, m: Int): DataFrame =
    members.select(explode(transform(sequence(lit(0), lit(k - 1)),
        r => seededBucket(col(c), r, m))).as("bit"))
      .distinct()

  /** Per-row Bloom membership of `probes(c)` against a set-bit table:
    * keeps probe columns, adds `bloom_hit` (all k bits set). The bit
    * table is broadcast; each probe explodes to k rows, joins, and a
    * count==k aggregate folds back — join output ≤ k × probes, linear. */
  def bloomMightContain(bits: DataFrame, probes: DataFrame, c: String,
      k: Int, m: Int): DataFrame = {
    val keyCols = probes.columns.map(col).toSeq
    probes.select(keyCols :+ explode(transform(sequence(lit(0), lit(k - 1)),
        r => seededBucket(col(c), r, m))).as("bit"): _*)
      .join(broadcast(bits.withColumn("__set", lit(1))), Seq("bit"), "left")
      .groupBy(keyCols: _*)
      .agg((count(col("__set")) === k).as("bloom_hit"))
  }

  /** The Bloom filter as a '0'/'1' bitmap string pulled once to the
    * driver — a bounded model artifact (m chars, like the k-means
    * centroid pulls in [[Similarity]]), for the map-only membership
    * path. */
  def bloomBitmapString(bits: DataFrame, m: Int): String = {
    val set = bits.select(col("bit")).collect()
      .map(_.getLong(0).toInt).toSet
    val sb = new StringBuilder(m)
    (0 until m).foreach(i => sb.append(if (set(i)) '1' else '0'))
    sb.toString
  }

  /** Map-only Bloom membership against a literal bitmap: the 100 TB
    * probe path — no join, no shuffle; each probe tests its k seeded
    * positions with a substr into the literal. The k tests are UNROLLED
    * into plain AND'd scalar expressions (k is a small compile-time
    * constant) — a `forall(transform(...))` form measured 3× slower at
    * sf1 because array-HOF lambdas evaluate interpreted, per element,
    * outside codegen. Equivalent to [[bloomMightContain]]
    * (spec-asserted); use the join form only when the filter itself is
    * too large to ship as one literal. */
  def bloomHitColumn(bitmap: String, x: Column, k: Int): Column =
    (0 until k).map { r =>
      lit(bitmap).substr(
        (seededBucket(x, lit(r), bitmap.length) + 1).cast("int"),
        lit(1)) === "1"
    }.reduce(_ && _)

  // ---------------------------------------------------------------------
  // Positional inverted index — the serving-side artifact a corpus
  // pipeline materializes for retrieval/inspection: term -> (doc,
  // occurrence count, sorted positions). Phrase queries resolve on the
  // index alone (positions of t2 at position+1 of t1), never rescanning
  // the corpus text.
  // ---------------------------------------------------------------------

  /** (term, id, pos) occurrence table — one row per token occurrence. */
  def occurrences(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("toks"))
      .where(col("toks").isNotNull)
      .select(col(idCol), explode(transform(
        sequence(lit(0L), size(col("toks")).cast("long") - 1),
        i => struct(i.as("pos"),
          element_at(col("toks"), (i + 1).cast("int")).as("term")))).as("o"))
      .select(col("o.term").as("term"), col(idCol), col("o.pos").as("pos"))

  /** Positional postings: (term, id, n_occ, positions sorted). Built by
    * ONE aggregate over the occurrence explode; at rest this is the
    * artifact you'd range-partition by term. */
  def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    occurrences(docs, idCol, textCol)
      .groupBy(col("term"), col(idCol))
      .agg(count(lit(1)).as("n_occ"),
        sort_array(collect_list(col("pos"))).as("positions"))

  /** Phrase hits per document from the occurrence table: positions where
    * `t1` is immediately followed by `t2`. Both sides are the SAME
    * occurrence relation filtered to one term each — two bounded slices
    * of the index joined on (id, adjacent position), never a corpus
    * self-join. */
  def phraseMatches(occ: DataFrame, idCol: String, t1: Column,
      t2: Column): DataFrame = {
    val a = occ.where(col("term") === t1)
      .select(col(idCol), col("pos"))
    val b = occ.where(col("term") === t2)
      .select(col(idCol), (col("pos") - 1).as("pos"))
    a.join(b, Seq(idCol, "pos"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_matches"))
  }

  // ---------------------------------------------------------------------
  // HyperLogLog (Flajolet, Fusy, Gandouet, Meunier 2007): m = 256
  // registers; register j = max over hashed values landing in bucket j of
  // (leading zeros of the next 48 hash bits + 1). The register table is a
  // (group, bucket, max-rank) hash aggregate — map-side combinable,
  // shuffle O(groups × m) regardless of data volume — and two sketches
  // merge by per-bucket MAX, the property that makes HLL the canonical
  // distributed distinct counter (IndexOpsSpec asserts the merge law).
  // Hashing is the portable md5 hex path (see Dedup.scala header): bucket
  // = first 2 hex digits, rank over hex digits 3–14 (48 bits), so any
  // engine replays the registers bit-for-bit. The estimator is the raw
  // HLL harmonic mean in EXACT arithmetic: S = Σ_j 2^(49 − M_j) (empty
  // buckets contribute 2^49) is an integer ≤ m·2^49 < 2^58 — BIGINT-safe
  // — and the estimate α_m·m²·2^49 / S is ONE literal-over-integer double
  // division, bit-identical on every IEEE-754 engine. The small-range
  // (linear counting) correction applies below 2.5·m via the
  // [[HllLinearTable]] literal lookup — see that constant for why a
  // table instead of runtime ln().
  // ---------------------------------------------------------------------

  /** Rank slice width in bits (md5 hex digits 3–14). */
  val HllVBits = 48

  /** 2^49 — the empty-bucket term of the harmonic sum. */
  val HllEmptyTerm = 562949953421312L

  /** α_256·256²·2^49 with α_256 = 0.7213/(1 + 1.079/256), as one
    * round-trip-exact double literal (mirrored in the oracle SQL). */
  val HllNum256 = 2.6499581405668102e19

  /** Small-range (linear counting) correction table: m·ln(m/V) for
    * V = 1..256 empty buckets. ln() itself is NOT engine-portable (libm
    * implementations round differently in the last ulp), but V can take
    * only 256 values — so the correction ships as a literal lookup table
    * shared VERBATIM with the oracle SQL (Double.toString is round-trip
    * exact and every engine parses a decimal literal to the same nearest
    * double). This is the HLL++ move: empirically-fitted constant tables
    * instead of runtime transcendentals. */
  val HllLinearTable: IndexedSeq[Double] =
    (1 to 256).map(v => 256.0 * math.log(256.0 / v))

  /** The raw-vs-linear-counting switch threshold, 2.5·m. */
  val HllSmallRange = 640.0

  /** The (bucket, rank) column pair of a value under the portable md5
    * hashing — shared by the batch register aggregate and the streaming
    * windowed registers (whose aggregate cannot carry the batch path's
    * count_distinct). */
  def hllBucketRank(c: Column): (Column, Column) = {
    val h = md5(c.cast("string"))
    val v = conv(substring(h, 3, 12), 16, 10).cast("long")
    val rank = when(v === 0L, lit(HllVBits + 1L))
      .otherwise(lit(HllVBits + 1L) - length(bin(v)).cast("long"))
    (conv(substring(h, 1, 2), 16, 10).cast("long"), rank)
  }

  /** Per-bucket HLL registers of `values(c)` under `groupCols`:
    * (groupCols…, bucket, mj, nd). One hash aggregate; rank = 49 −
    * floor_log2(v) computed in integer domain via `length(bin(v))`
    * (the same exact-floor-log2 trick as the LM fluency score).
    *
    * `nd` is the bucket's EXACT distinct count — since the bucket is a
    * function of the value's hash, buckets partition the value set and
    * per-group `nd` sums to the exact group cardinality, so a caller
    * wanting the exact/estimate comparison pays ONE scan instead of a
    * second aggregate + join. Only `mj` is a mergeable sketch component
    * (per-bucket MAX across shards); `nd` sums correctly only over
    * shards with disjoint VALUE sets — drop it when merging row-split
    * shards. */
  def hllRegisters(values: DataFrame, c: String,
      groupCols: Seq[String]): DataFrame = {
    val (bucket, rank) = hllBucketRank(col(c))
    values
      // md5(NULL) would land rows in a null bucket whose mj is NULL: the
      // shiftleft term drops out of the harmonic sum while count(*) still
      // counts the register row, biasing the estimate — NULLs are not
      // distinct values, so drop them here rather than trust callers
      .where(col(c).isNotNull)
      .withColumn("bucket", bucket)
      .withColumn("rank", rank)
      .groupBy(groupCols.map(col) :+ col("bucket"): _*)
      .agg(max(col("rank")).as("mj"), count_distinct(col(c)).as("nd"))
  }

  /** Fold a register table to (groupCols…, n_hit, n_exact, raw_est,
    * est_distinct). The harmonic sum runs in BIGINT (2^(49−mj) via
    * shiftleft — exact), the single division is the only floating-point
    * step, and the small-range branch applies the [[HllLinearTable]]
    * linear-counting correction (branch selection is deterministic: both
    * engines compare the SAME bit-identical raw estimate against the
    * same literal threshold). */
  def hllEstimate(regs: DataFrame, groupCols: Seq[String]): DataFrame =
    regs.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_hit"),
        sum(col("nd")).as("n_exact"),
        // shiftleft's Scala signature takes a literal shift only — the
        // SQL form accepts a column; 1L << (49 − mj) stays in BIGINT.
        sum(expr(s"shiftleft(1L, cast(${HllVBits + 1} - mj as int))"))
          .as("s_hit"))
      .withColumn("raw_est",
        lit(HllNum256) / (col("s_hit") +
          (lit(256L) - col("n_hit")) * lit(HllEmptyTerm)).cast("double"))
      .withColumn("est_distinct",
        when(col("raw_est") <= lit(HllSmallRange) && col("n_hit") < 256,
          element_at(lit(HllLinearTable.toArray),
            (lit(256L) - col("n_hit")).cast("int")))
          .otherwise(col("raw_est")))
      .drop("s_hit")

  // ---------------------------------------------------------------------
  // MAINTAINED retrieval (TF-IDF postings) index — the write/serve/append
  // lifecycle of the dedup cell index and the IVF index, for the search
  // family: postings persist partitioned by TERM SHARD (first hex nibble
  // of md5(term) — [[Dedup.cellShard]]), the document-frequency table and
  // the corpus size persist as model artifacts (`_df`, `_stats`) in
  // hidden subdirectories, and incremental ingest appends novel postings
  // while updating the artifacts by EXACT increments — so query serving
  // never recomputes corpus postings and never rescans the index to
  // refresh idf.

  /** (doc_id, term, tf) postings of a corpus — one map-side-combinable
    * aggregate over the exploded tokens (the TF-IDF index's row unit;
    * the POSITIONAL [[postings]] above serves the phrase family). */
  def tfPostings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))

  /** Shard key of a term (the bucket-hash convention of every
    * maintained index here). */
  def termShard(term: Column): Column = Dedup.cellShard(md5(term))

  /** Build the maintained retrieval index ONCE: sharded postings + the
    * df/corpus-size model artifacts, published under one
    * [[IndexManifest]] commit. `repartition(shard)` keeps each shard
    * directory one writer's output ([[Dedup.writeCellIndex]]'s layout
    * discipline). */
  def writePostingsIndex(docs: DataFrame, idCol: String, textCol: String,
                         path: String): Unit = {
    val spark = docs.sparkSession
    val tf = tfPostings(docs, idCol, textCol)
    tf.withColumn("shard", termShard(col("term")))
      .repartition(col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)
    val aDf = IndexManifest.writeArtifact(spark, path, "df",
      spark.read.parquet(path)
        .groupBy(col("term")).agg(count(lit(1)).as("df")))
    // index MEMBERSHIP is "documents with non-NULL text": a NULL-text
    // row yields no postings (the explode-path convention), so it
    // cannot be counted idempotently by an append — excluding it here
    // keeps build, append increments AND rebuildPostingsArtifacts on
    // the same N (every non-null doc has ≥ 1 posting; even the empty
    // string tokenizes to one empty term, so "docs with postings" IS
    // "docs with non-null text"). Coalesce upstream if null docs must
    // count.
    val aStats = IndexManifest.writeArtifact(spark, path, "stats",
      docs.where(col(textCol).isNotNull)
        .agg(count(lit(1)).as("n_docs")))
    IndexManifest.commit(spark, path, Snapshot.Empty,
      Delta(IndexManifest.listDataFiles(spark, path),
        artifacts = Map(aDf, aStats))): Unit
  }

  /** The retrieval index's model artifacts as `pin` pairs them with
    * its postings (legacy `_df`/`_stats` directories as the
    * pre-manifest fallback). */
  def readPostingsDf(spark: org.apache.spark.sql.SparkSession,
                     pin: Snapshot): DataFrame =
    pin.artifact(spark, "df", legacyDir = Some("_df"))

  def readPostingsStats(spark: org.apache.spark.sql.SparkSession,
                        pin: Snapshot): DataFrame =
    pin.artifact(spark, "stats", legacyDir = Some("_stats"))

  /** MAINTAIN the stored retrieval index: append an ingest batch's
    * NOVEL (term, doc) postings and update the model artifacts by the
    * exact increments the novel set implies — df rises by each term's
    * novel-doc count, n_docs by the count of docs contributing any
    * novel posting — so serving after an append is INTEGER-identical
    * to a from-scratch recompute over corpus∪batch (the append query's
    * differential pins the increment arithmetic, not just the
    * postings).
    *
    * Idempotent like every append here: already-stored (shard, term,
    * doc) rows are skipped via the streamed `index ⋈ broadcast(batch)`
    * join (both builds batch-bounded, the index never shuffles), and a
    * FULL replay therefore increments nothing — and commits nothing:
    * the replay returns before minting artifact versions, so
    * at-least-once redeliveries leave the manifest history untouched.
    * Artifacts update by reading the pinned current version and
    * writing a NEW version directory (never an in-place overwrite — no
    * refreshByPath hazard); they are vocabulary-sized, the scale of a
    * dictionary rewrite, never a corpus pass. The commit closes with
    * the retention vacuum (`retainVersions`, default 2) and lists no
    * partition directory (staged write).
    *
    * ATOMICITY ([[IndexManifest]]): the appended postings and both
    * artifact versions become visible in ONE manifest commit. The
    * round-11 failure mode — a crash between the postings append and
    * the artifact rewrites leaving df/N silently stale forever — is
    * structurally gone: a crash before the commit leaves every new
    * file an invisible orphan (next reconcile deletes them; the
    * replay's novelty check reads the pinned PRE-state and re-appends
    * correctly), and after the commit postings and artifacts are
    * already consistent.
    *
    * Precondition, stated plainly: ingest batches carry NEW doc ids
    * (the crawl contract — a re-crawled id with changed text would
    * re-count in n_docs; re-crawls go through a delete+insert
    * compaction, not this append). */
  def appendPostingsIndex(batch: DataFrame, idCol: String, textCol: String,
                          path: String, retainVersions: Int = 2): Unit = {
    val spark = batch.sparkSession
    val bt = tfPostings(batch, idCol, textCol)
      .withColumn("shard", termShard(col("term")))
      .localCheckpoint(true)
    // bounded (≤ the term-shard universe), feeding the literal-IN
    // index prune
    val shards = bt.select(col("shard")).distinct().collect()
      .map(r => Integer.valueOf(r.getInt(0))).toSeq
    val snap = IndexManifest.reconcileAppend(spark, path)
    val idx = snap.data(spark)
      .where(col("shard").isin(shards: _*))
    val stored = idx.join(
        broadcast(bt.select(col("shard"), col("term"), col("doc_id"))),
        Seq("shard", "term", "doc_id"))
      .select(col("shard"), col("term"), col("doc_id"))
    val novel = bt.join(broadcast(stored), Seq("shard", "term", "doc_id"),
        "left_anti")
      .localCheckpoint(true) // consumed 3× below
    // a FULL replay is a true no-op: nothing lands, no artifact version
    // is minted (df/N increments would be zero — writing them anyway
    // would force a commit the no-op skip exists to avoid)
    if (novel.isEmpty) return
    val added = IndexManifest.stageAppend(
      novel
        .select(col("doc_id"), col("term"), col("tf"), col("shard"))
        .repartition(col("shard")),
      path, "shard")
    val dfInc = novel.groupBy(col("term")).agg(count(lit(1)).as("df_inc"))
    val aDf = IndexManifest.writeArtifact(spark, path, "df",
      readPostingsDf(spark, snap)
        .join(dfInc, Seq("term"), "full")
        .select(col("term"),
          (coalesce(col("df"), lit(0L)) + coalesce(col("df_inc"), lit(0L)))
            .as("df")))
    val nNew = novel.select(col("doc_id")).distinct().count()
    val aStats = IndexManifest.writeArtifact(spark, path, "stats",
      readPostingsStats(spark, snap)
        .select((col("n_docs") + lit(nNew)).as("n_docs")))
    IndexManifest.commit(spark, path, snap,
      Delta(added, artifacts = Map(aDf, aStats)), retainVersions): Unit
  }

  /** Rebuild of the retrieval index's model artifacts FROM the postings
    * (one full index scan), as one [[IndexManifest.rewrite]] that keeps
    * its predecessor on the time-travel horizon. With manifest-atomic
    * appends this is no longer crash REPAIR — it exists for adopting an
    * externally-built postings directory, and as the differential's
    * independent derivation of df/N. */
  def rebuildPostingsArtifacts(spark: org.apache.spark.sql.SparkSession,
                               path: String): Unit =
    IndexManifest.rewrite(spark, path, retainVersions = 2) { snap =>
      val idx = snap.data(spark)
      val aDf = IndexManifest.writeArtifact(spark, path, "df",
        idx.groupBy(col("term")).agg(count(lit(1)).as("df")))
      val aStats = IndexManifest.writeArtifact(spark, path, "stats",
        idx.select(col("doc_id")).distinct()
          .agg(count(lit(1)).as("n_docs")))
      (Delta(artifacts = Map(aDf, aStats)), ())
    }

  /** Serve a query set from the STORED retrieval index: TF-IDF top-k
    * with the same integer-exact scoring as the recompute form
    * (fixed-point idf `(SCALE·(N+1)) div (df+1)` — floor division,
    * bit-identical across engines).
    *
    * The scale shape of every maintained serve here: query terms are
    * broadcast into the postings scan (the index STREAMS through a
    * BroadcastHashJoin and the term-shard directory key prunes), the
    * idf side is the stored dictionary joined to the same broadcast
    * term set (vocabulary-sized stream, never the corpus), and the
    * per-query top-k goes through WindowGroupLimit bounded heaps.
    * Postings, df and N all read through the one `pin` — one
    * consistent (postings, df, N) snapshot even mid-append, since idf
    * depends on df and N, which every append increments. A `loadAt`
    * pin is the time-travel serve: version v's postings scored with
    * v's own dictionary.
    *
    * `queries` rows are deduplicated on (query_id, term) first: the
    * scoring sum counts each posting once per QUERY TERM, so a caller
    * passing repeated terms would otherwise double-count silently
    * (vocabulary-sized distinct — negligible against the scan). */
  def postingsIndexServe(queries: DataFrame, pin: Snapshot, k: Int,
                         idfScale: Long): DataFrame = {
    val spark = queries.sparkSession
    val qs = queries.select(col("query_id"), col("term")).distinct()
      .withColumn("shard", termShard(col("term")))
    val idfq = readPostingsDf(spark, pin)
      .join(broadcast(qs.select(col("term")).distinct()), Seq("term"))
      .crossJoin(broadcast(readPostingsStats(spark, pin)))
      .select(col("term"),
        expr(s"($idfScale * (n_docs + 1)) div (df + 1)").as("idf_scaled"))
    val hits = pin.data(spark)
      .join(broadcast(qs), Seq("shard", "term"))
      .join(broadcast(idfq), Seq("term"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    hits.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("tf") * col("idf_scaled")).as("score"),
        count(lit(1)).as("n_terms"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
  }
}
