package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.data.{Indexing, TextAnalysis}
import graft.Out.OrderedOps

/** Training-run planning operators: deterministic train/val/test split,
  * per-epoch shuffle ordering, classifier threshold tuning (PR curve
  * against a weak-supervision label), and CUBE cross-margin corpus stats.
  * All hashing is the repo's portable-md5 arithmetic; every ratio is an
  * integer-count division — both engines replay the numbers exactly.
  */
object TrainQueries {

  private val duckWords = "string_split_regex(text, '\\s+')"

  /** DuckDB twin of [[Indexing.seededBucket]] — delegates to the single
    * shared template ([[DuckFrag.bucket]]). */
  private def duckBucket(arg: String, m: Int): String =
    DuckFrag.bucket(arg, m)

  // -- hash split -------------------------------------------------------

  private val SplitBuckets = 100
  private val TrainCut = 90 // buckets [0,90) -> train
  private val ValCut = 95   // [90,95) -> val, [95,100) -> test

  /** Deterministic train/val/test assignment by hash bucket of the
    * document id — the split a training pipeline must reproduce years
    * later from ids alone (no stored random state, no order dependence:
    * re-running over re-partitioned or re-ingested data yields the same
    * split, which is exactly what `rand()`-based splits cannot promise).
    *
    * Scale: one map-only projection on the scan; the split is a pure
    * function of the row. */
  private def splitAssign(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        Indexing.seededBucket(col("doc_id"), lit("split"), SplitBuckets)
          .as("split_bucket"))
      .withColumn("split",
        when(col("split_bucket") < TrainCut, "train")
          .when(col("split_bucket") < ValCut, "val")
          .otherwise("test"))
      .dumpOrdered("doc_id")

  /** LEAKAGE-SAFE split: hash the near-dup COMPONENT id, not the doc id.
    * A per-doc hash split puts near-duplicate documents on opposite
    * sides of the train/test boundary — the classic eval-contamination
    * bug (the model "generalizes" to a paraphrase of its own training
    * row). Bucketing by the transitive near-dup component id
    * ([[graft.DataQueries.similarPairs]] closed under
    * [[graft.data.Dedup.connectedComponents]]) keeps every cluster on
    * ONE side by construction; `is_regrouped` marks exactly the docs a
    * naive split would have leaked (their naive and safe buckets
    * differ) — the audit column a migration from naive splits reads.
    *
    * Scale: component labels from the banded LSH chain (never
    * all-pairs); the split itself is a pure map over (doc, component).
    * Singleton docs (no near-dup) hash their own id, so the safe split
    * equals the naive one exactly where leakage is impossible. */
  private def splitByComponent(spark: SparkSession, dir: String): DataFrame = {
    val comp = graft.data.Dedup.connectedComponents(
        DataQueries.similarPairs(spark, dir).select(col("id_a"), col("id_b")),
        "id_a", "id_b")
      .select(col("id").as("doc_id"), col("component"))
    def split(b: Column): Column =
      when(b < TrainCut, "train").when(b < ValCut, "val").otherwise("test")
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
      .select(col("doc_id"), col("component"),
        split(Indexing.seededBucket(col("doc_id"), lit("split"), SplitBuckets))
          .as("naive_split"),
        split(Indexing.seededBucket(col("component"), lit("split"),
          SplitBuckets)).as("safe_split"))
      .withColumn("is_regrouped", col("naive_split") =!= col("safe_split"))
      .dumpOrdered("doc_id")
  }

  // -- epoch shuffle ----------------------------------------------------

  private val NShards = 8
  private val NEpochs = 2

  /** Deterministic per-epoch shuffle order: each document's position
    * within its shard for each training epoch is the rank of
    * `md5(epoch|doc_id)` — a different (but fully reproducible)
    * permutation per epoch, with no `rand()` and no global sort. The
    * data-loader contract: any worker can reconstruct any epoch's order
    * for any shard independently.
    *
    * Scale: the rank window partitions by (epoch, shard) — each shard
    * sorts only its own slice (corpus/NShards rows), in parallel across
    * shards and epochs; nothing ever orders the whole corpus. */
  private def epochShuffle(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("epoch"), col("shard"))
      .orderBy(col("h"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(array((0 until NEpochs).map(e => lit(e.toLong)): _*)).as("epoch"))
      .withColumn("shard", pmod(col("doc_id"), lit(NShards.toLong)))
      .withColumn("h", md5(concat_ws("|", col("epoch"), col("doc_id"))))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("epoch"), col("shard"), col("pos"))
      .dumpOrdered("epoch", "doc_id")
  }

  // -- length curriculum -------------------------------------------------

  /** Curriculum schedule (easy-first, Bengio et al. 2009): documents are
    * staged short→long — length is the standard LM difficulty proxy — and
    * ordered for training within each stage. Stage boundaries are EXACT
    * corpus terciles of the token count, computed from an O(distinct
    * lengths) histogram cumsum (the `data_quality_threshold` pattern —
    * never a corpus-wide sort). Within a stage, documents shuffle
    * deterministically across [[NShards]] hash shards with a
    * `(stage, shard)`-partitioned position window, so the global
    * training order (stage-major, round-robin across shards) needs no
    * global sort anywhere: every window partition is corpus/24, and the
    * consumer streams stages in order exactly like `data_epoch_shuffle`'s
    * epochs. */
  private def curriculumPlan(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tok"))
    // global count derived from the bounded histogram (sum(c)) instead
    // of a second corpus aggregate — with the histogram persisted, the
    // corpus is scanned twice (histogram + final plan), not three times
    val hist = d.groupBy(col("n_tok")).agg(count(lit(1)).as("c")).persist()
    val cum = hist
      .withColumn("cum", sum(col("c")).over(Window.orderBy(col("n_tok"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(hist.agg(sum(col("c")).as("n"))))
    val b = cum.agg(
      min(when(col("cum") * 3 >= col("n"), col("n_tok"))).as("b1"),
      min(when(col("cum") * 3 >= col("n") * 2, col("n_tok"))).as("b2"))
    val h = md5(concat(lit("curr|"), col("doc_id").cast("string")))
    val w = Window.partitionBy(col("stage"), col("shard"))
      .orderBy(col("h"), col("doc_id"))
    d.crossJoin(broadcast(b))
      .withColumn("stage",
        when(col("n_tok") <= col("b1"), lit(0L))
          .when(col("n_tok") <= col("b2"), lit(1L)).otherwise(lit(2L)))
      .withColumn("shard", pmod(col("doc_id"), lit(NShards.toLong)))
      .withColumn("h", h)
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("n_tok"), col("stage"), col("shard"),
        col("pos"))
      .dumpOrdered("doc_id")
  }

  // -- classifier PR curve ----------------------------------------------

  private val Taus = Seq(-1.0, -0.5, 0.0, 0.5, 1.0)

  /** Precision/recall of the hashed linear quality classifier
    * ([[TextAnalysis.linearScoreColumns]]) against the Gopher rule set as
    * the weak-supervision label, at a sweep of decision thresholds — the
    * measured curve a user picks an operating point from (the same
    * measured-quality surface as `data_dedup_lsh_recall` and
    * `data_sim_recall`, for the quality-filter family).
    *
    * Scale: per-document score and label are one map-only pass; the
    * threshold sweep is a ×|Taus| literal expand feeding ONE map-side-
    * combinable hash aggregate — never a per-threshold rescan. */
  private def classifierPr(spark: SparkSession, dir: String): DataFrame = {
    val clf = TextAnalysis.linearScoreColumns(col("text")).toMap
    val gop = TextAnalysis.gopherColumns(col("text")).toMap
    val perDoc = Tables.documentsHot(spark, dir)
      .select(col("doc_id"), clf("score").as("score"),
        gop("passes_gopher").as("label"))
    val tp = count(when(col("score") > col("tau") && col("label"), 1))
    val fp = count(when(col("score") > col("tau") && !col("label"), 1))
    val fn = count(when(col("score") <= col("tau") && col("label"), 1))
    perDoc
      .withColumn("tau", explode(array(Taus.map(lit): _*)))
      .groupBy(col("tau"))
      .agg(tp.as("tp"), fp.as("fp"), fn.as("fn"))
      .select(col("tau"), col("tp"), col("fp"), col("fn"),
        when(col("tp") + col("fp") > 0,
          col("tp").cast("double") / (col("tp") + col("fp")).cast("double"))
          .as("prec"),
        when(col("tp") + col("fn") > 0,
          col("tp").cast("double") / (col("tp") + col("fn")).cast("double"))
          .as("rec"))
      .dumpOrderedTail("tau")
  }

  // -- sequence materialization ----------------------------------------

  private val PackBin = 512 // tokens per packed sequence (= packPlan)
  private val PackBuckets = 8

  /** MATERIALIZED packed training sequences — the step after
    * `data_pack_plan`'s offsets: documents concatenate into their
    * (bucket, bin) sequence in doc_id order, with per-sequence doc/token
    * accounting. This is the tensor-adjacent artifact a trainer maps
    * straight into a tokenizer batch.
    *
    * Scale: the running-offset window partitions by bucket (buckets pack
    * independently, in parallel); assembly is ONE hash aggregate on
    * (bucket, bin) whose `collect_list` payload is bounded by the bin's
    * token budget — never a whole-corpus collect. Deterministic order
    * inside the sequence via array_sort on (doc_id, text) structs. */
  private def packSequences(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tok"),
        (col("doc_id") % PackBuckets).as("bucket"))
      .withColumn("bin",
        expr(s"coalesce(sum(n_tok) over (partition by bucket order by doc_id" +
          s" rows between unbounded preceding and 1 preceding), 0L)" +
          s" div $PackBin"))
      .groupBy(col("bucket"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tokens"),
        array_sort(collect_list(struct(col("doc_id"), col("text")))).as("ps"))
      .select(col("bucket"), col("bin"), col("n_docs"), col("sum_tokens"),
        concat_ws(" ", transform(col("ps"), _.getField("text"))).as("seq_text"))
      .dumpOrderedTail("bucket", "bin")
  }

  // -- temperature mixing ----------------------------------------------

  private val MixTempBudget = 300L // document budget across sources

  /** Temperature-weighted source mixing (the multilingual/LLM data
    * recipe: sampling weight ∝ n^α with α = 0.5, upweighting small
    * sources relative to proportional sampling): per-source weights are
    * `floor(sqrt(n)·10⁶)` LONGS (sqrt is IEEE-correctly-rounded on both
    * engines, the quantized weight and its SUM are exact integers —
    * no float summation order anywhere), allocation is integer
    * cross-multiplication of the budget, and the final rate is one
    * long/long division.
    *
    * Scale: one map-side-combinable count per source, a 1-row weight-sum
    * broadcast back (crossJoin-of-aggregates, the W1 pattern) — the
    * corpus is scanned once. */
  /** Per-source doc counts + 16-bit-hash-bucket histogram — the ONE
    * corpus scan behind both mixture queries, memo-shared so the rate
    * query and the applied-sampling query read the same cache entry
    * and the same definition (n_docs = Σ hist.cnt by construction;
    * n_sampled = Σ hist.cnt below the rate threshold). The table is
    * BOUNDED at sources rows × ≤2¹⁶ histogram entries regardless of
    * corpus size — a model pull, like every broadcast vocab/centroid
    * table — so it caches coalesced to ONE partition: warm serves are
    * then a single one-task stage over sources-sized data (the
    * measured cost of this family was never plan work — it was the
    * per-stage scheduling floor of 3 stages × 32 tasks, flat across
    * three decades; the corpus scan + both aggregates run once, at
    * build, with full parallelism). */
  private def mixHistTable(spark: SparkSession, dir: String): DataFrame =
    Tables.memoBy(spark, s"mixhist:$dir") {
      val hb = TextAnalysis.hashBucket(
        concat(lit("mixsamp|"), col("doc_id").cast("string")), 65536)
      Tables.documents(spark, dir)
        .select(col("source"), hb.cast("long").as("hb"))
        .groupBy(col("source"), col("hb"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("source"))
        .agg(sum(col("cnt")).as("n_docs"),
          collect_list(struct(col("hb"), col("cnt"))).as("hist"))
        .coalesce(1)
    }

  /** Per-source temperature weights + the global weight sum over the
    * cached [[mixHistTable]] — the whole computation is sources-sized,
    * and the single-partition cache already satisfies the global
    * window's AllTuples distribution, so no exchange is planned. */
  private def mixRates(spark: SparkSession, dir: String): DataFrame =
    mixHistTable(spark, dir)
      .withColumn("w_temp",
        floor(sqrt(col("n_docs").cast("double")) * 1e6).cast("long"))
      .withColumn("sum_w", sum(col("w_temp")).over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .withColumn("alloc_docs", expr(s"($MixTempBudget * w_temp) div sum_w"))
      .withColumn("sample_rate",
        least(lit(1.0),
          col("alloc_docs").cast("double") / col("n_docs").cast("double")))

  private def mixtureTemperature(spark: SparkSession, dir: String): DataFrame =
    mixRates(spark, dir)
      .select(col("source"), col("n_docs"), col("w_temp"),
        (col("w_temp").cast("double") / col("sum_w").cast("double")).as("p"),
        col("alloc_docs"), col("sample_rate"))
      // the body is already one partition — coalesce collapses onto it
      .dumpOrderedTail("source")

  /** Temperature mixing APPLIED (VERDICT r10 #7 — the composed planning
    * query the per-source floor amortizes into): the
    * [[mixtureTemperature]] arithmetic computes each source's sampling
    * rate, then the CORPUS is deterministically sampled against it
    * (per-doc md5 fraction vs rate — the `data_split_assign` hash-gate
    * convention) and the realized counts come back per source. The
    * standalone rate query's cost was 95% fixed per-job floor (0.46 s
    * flat across three decades, 20-row output); here the corpus scan
    * dominates and the floor disappears into it.
    *
    * Scale: ONE corpus scan (source + one md5 per doc), the rate table
    * broadcast into it, one map-side-combinable per-source aggregate.
    * Exactness: rates are long/long divisions of exact integers, the
    * hash fraction is a 16-bit integer over 2¹⁶ — both sides compare
    * identical doubles, so the sampled set is bit-stable. */
  private def mixtureSample(spark: SparkSession, dir: String): DataFrame =
    // ZERO joins, zero corpus scans at serve (was: two corpus scans +
    // two broadcast joins, each broadcast a separate build job per
    // run): the realized count is an in-row HOF fold over the cached
    // per-source histogram in the same projection that computes the
    // rate. A doc samples iff its hash fraction (bucket/2¹⁶, exact
    // dyadic) clears its source's rate — summing bucket counts below
    // the threshold is bit-identical to the per-doc comparison.
    mixRates(spark, dir)
      .withColumn("n_sampled",
        aggregate(col("hist"), lit(0L), (acc, x) =>
          acc + when(x.getField("hb").cast("double") / 65536.0
            < col("sample_rate"), x.getField("cnt")).otherwise(0L)))
      .select(col("source"), col("n_docs"), col("w_temp"),
        col("alloc_docs"), col("sample_rate"), col("n_sampled"),
        (col("n_sampled").cast("double") / col("n_docs").cast("double"))
          .as("realized_rate"))
      // the body is already one partition — coalesce collapses onto it
      .dumpOrderedTail("source")

  // -- shard content manifest ------------------------------------------

  /** Reproducibility manifest per training shard (same md5 shard rule as
    * `data_shard_plan`): doc/token counts plus an ORDER-INDEPENDENT
    * content checksum — `bit_xor` of each document's 52-bit md5 prefix —
    * and the min/max doc hashes for spot checks. Re-running ingestion on
    * any partitioning/ordering must reproduce these rows bit-for-bit;
    * a single changed, added or dropped document flips its shard's xor.
    *
    * Scale: one map-side-combinable hash aggregate (xor and min/max all
    * combine associatively+commutatively); shuffle is NShards rows. */
  private def shardManifest(spark: SparkSession, dir: String): DataFrame = {
    val h = md5(concat(lit("shard|"), col("doc_id").cast("string")))
    val contentHash = md5(col("text"))
    Tables.documents(spark, dir)
      .select(
        (conv(substring(h, 1, 4), 16, 10).cast("long") % ManifestShards)
          .as("shard"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tok"),
        contentHash.as("ch"),
        conv(substring(contentHash, 1, 13), 16, 10).cast("long").as("h52"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tokens"),
        expr("bit_xor(h52)").as("xor_checksum"),
        min(col("ch")).as("min_hash"), max(col("ch")).as("max_hash"))
      .dumpOrderedTail("shard")
  }

  private val ManifestShards = 8

  // -- tokenizer application -------------------------------------------

  private val BpeVocabK = 64 // learned-vocab size (plus implicit chars)

  /** APPLY a subword tokenizer at corpus scale — the encode step between
    * `data_bpe_pairs` (merge learning) and `data_pack_sequences`
    * (sequence building): every word greedily segments into the longest
    * matching units of a corpus-derived top-[[BpeVocabK]] SUBWORD
    * vocabulary (the most frequent 2–4-character fragments, so words
    * genuinely split — "table" → "tabl|e", not a whole-word lookup),
    * single-character fallback, via the compiled
    * [[graft.functions.BpeApply]] expression.
    *
    * Scale: the vocabulary is a bounded model pull (top-K by count)
    * inlined as literals — model application is ONE map-only pass over
    * the words, no join, no UDF; the per-doc reassembly is a single
    * hash aggregate. The oracle replays the greedy rule with a
    * recursive CTE — longest-prefix matching is deterministic, so the
    * encodings hash-match exactly. */
  private def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.TextExprFunctions.registerBpe(spark)
    val words = Tables.documentsHot(spark, dir)
      .select(col("doc_id"),
        posexplode(TextAnalysis.tokens(col("text"))).as(Seq("wpos", "word")))
    val frags = (2 to 4).map { n =>
      words.select(explode(
        when(length(col("word")) >= n,
          transform(sequence(lit(1), length(col("word")) - n + 1),
            p => col("word").substr(p, lit(n))))
          .otherwise(array().cast("array<string>"))).as("g"))
    }.reduce(_.union(_))
    val vocab: Seq[String] = frags
      .groupBy(col("g")).agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("g")).limit(BpeVocabK)
      .collect().map(_.getString(0)).toSeq
    words
      .withColumn("subs",
        graft.functions.TextExprFunctions.bpe_apply(col("word"), vocab))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(size(col("subs"))).as("n_subtokens"),
        array_sort(collect_list(struct(col("wpos"),
          array_join(col("subs"), "|").as("w")))).as("ps"))
      .select(col("doc_id"), col("n_words"), col("n_subtokens"),
        (col("n_subtokens").cast("double") / col("n_words").cast("double"))
          .as("subtok_per_word"),
        concat_ws(" ", transform(col("ps"), _.getField("w"))).as("encoded"))
      .dumpOrderedTail("doc_id")
  }

  // -- unigram (SentencePiece-family) tokenizer ---------------------------

  private val UniMaxPiece = 4     // candidate piece length cap
  private val UniMinFreq = 2L     // multi-char candidate frequency cutoff
  private val UniMaxVocab = 4096  // multi-char vocab cap (top by frequency)
  private val UniMaxWordLen = 12  // Viterbi unroll bound (corpus max is 8)
  private val UniCostBase = 65L   // cost = 65 − length(bin(freq)) ≥ 2

  /** Distinct corpus words with frequency — the vocab-sized table both
    * tokenizer trainers run on. */
  private[graft] def uniWords(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsHot(spark, dir)
      .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
      // leading-whitespace text splits to an empty first token; a
      // zero-length word would send the Viterbi DP into element_at(acc, 0)
      .where(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** Unigram-LM piece vocabulary: every 1-char substring (the lossless
    * fallback alphabet, kept unconditionally) plus 2..[[UniMaxPiece]]-char
    * substrings above [[UniMinFreq]], capped to the top [[UniMaxVocab]]
    * by (frequency, piece) — piece frequency counts every occurrence
    * position weighted by word frequency. Piece cost is the exact-integer
    * negative log: [[UniCostBase]] − floor_log2(freq) − 1 via
    * `length(bin(freq))` (the LM-score trick), so higher-frequency pieces
    * are cheaper and every cost is a positive BIGINT both engines agree
    * on bit-for-bit. */
  private[graft] def uniVocab(words: DataFrame): DataFrame = {
    // positions × lengths: two explodes, chained selects
    val subs = words
      .select(col("word"), col("freq"),
        explode(sequence(lit(0), length(col("word")) - 1)).as("s"))
      .select(col("word"), col("freq"), col("s"),
        explode(sequence(lit(1), lit(UniMaxPiece))).as("l"))
      .where(col("s") + col("l") <= length(col("word")))
      .select(col("word").substr(col("s") + 1, col("l")).as("piece"),
        col("freq"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("total"))
    val cand = subs.where(length(col("piece")) >= 2 &&
        col("total") >= UniMinFreq)
      .orderBy(desc("total"), col("piece")).limit(UniMaxVocab)
    val chars = subs.where(length(col("piece")) === 1)
    cand.unionByName(chars)
      .select(col("piece"),
        (lit(UniCostBase) - length(bin(col("total"))).cast("long")).as("cost"))
  }

  /** Optimal (min-cost) unigram segmentation of every corpus word —
    * SentencePiece's serving half with the classic Viterbi DP, entirely
    * in exact integer domain. dp[i] = min over pieces ending at i of
    * dp[j] + cost(word[j..i)), ties broken by the SMALLEST j (longest
    * final piece), carried as min-of-struct(cost, backpointer); the
    * 1-char alphabet guarantees reachability (losslessness is spec'd).
    * Where the greedy `data_bpe_encode` commits to the longest prefix,
    * this is globally optimal under the learned piece costs — the spec
    * brute-forces all segmentations of every corpus word to prove it.
    *
    * Scale: the DP runs per DISTINCT word (vocab-sized work, like the
    * BPE trainer) with the piece table pulled once as a bounded literal
    * map ([[UniMaxVocab]] + alphabet entries — the model artifact a real
    * tokenizer ships); corpus-scale serving is then one hash join from
    * words to their segmentations, the `data_bpe_train_encode` shape.
    * The oracle unrolls the same DP as [[UniMaxWordLen]] chained CTEs
    * (the BPE-trainer oracle precedent) with arg_min tie rules matching
    * the struct ordering exactly. */
  /** Viterbi min-cost segmentation of every row of `words(word, freq)`
    * under a literal piece→cost map — the reusable DP core of both the
    * one-shot segmenter and the EM re-estimation rounds. */
  private[graft] def viterbiSegment(words: DataFrame,
      costs: Map[String, Long]): DataFrame = {
    val costMap = typedLit(costs)
    val L = length(col("word"))
    val dp = aggregate(
      sequence(lit(1), L),
      array(struct(lit(0L).as("cost"), lit(0).as("bp"))),
      (acc, i) => concat(acc, array(array_min(filter(
        transform(sequence(greatest(lit(0), i - lit(UniMaxPiece)), i - 1),
          j => {
            val c = element_at(costMap, col("word").substr(j + 1, i - j))
            when(c.isNotNull, struct(
              (element_at(acc, j + 1).getField("cost") + c).as("cost"),
              j.as("bp")))
          }),
        x => x.isNotNull)))))
    val walk = aggregate(
      sequence(lit(1), L),
      array(L),
      (acc, _) => when(element_at(acc, size(acc)) > 0,
        concat(acc, array(element_at(col("dp"),
          element_at(acc, size(acc)) + 1).getField("bp"))))
        .otherwise(acc))
    val pieces = transform(sequence(lit(1), size(col("rev")) - 1),
      k => col("word").substr(element_at(col("rev"), k) + 1,
        element_at(col("rev"), k + 1) - element_at(col("rev"), k)))
    // (the UniMaxWordLen unroll guard runs ONCE in the callers — an
    // extra copy here would re-run the corpus-scale word aggregate per
    // viterbi round)
    val out = words
      .withColumn("dp", dp)
      .withColumn("rev", reverse(walk))
      .select(col("word"), col("freq"),
        (size(col("rev")) - 1).cast("long").as("n_pieces"),
        element_at(col("dp"), L + 1).getField("cost").as("total_cost"),
        // `pieces` is the authoritative segmentation (the EM usage
        // counts explode IT — splitting the joined string back on '|'
        // would mis-credit any corpus word that itself contains '|');
        // `encoded` is its display form, dropped or aliased by callers
        pieces.as("pieces"),
        array_join(pieces, "|").as("encoded"))
    out
  }

  /** Piece→cost map pull (bounded, the model artifact). */
  private def collectCosts(vocab: DataFrame): Map[String, Long] =
    vocab.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Memoized distinct-word table (vocab-sized cache — the corpus-scale
    * tokenize+aggregate runs ONCE per session however many unigram
    * builds consume it) plus the eager DP/oracle unroll-bound guard (a
    * column guard would be pruned away; a longer-word corpus raises here
    * with the knob to turn, instead of silently truncating the oracle's
    * unrolled DP). The guard's aggregate reads the cache — trivial. */
  private def uniWordsChecked(spark: SparkSession, dir: String): DataFrame = {
    val plan = uniWords(spark, dir) // built OUTSIDE the memo (no nesting)
    val words = Tables.memoBy(spark, s"uniwords:$dir")(plan)
    val maxLen = Option(words.agg(max(length(col("word")))).head.get(0))
      .map(_.asInstanceOf[Int])
      .getOrElse(throw new IllegalArgumentException(
        s"unigram trainer needs a non-empty corpus: no words found in $dir"))
    require(maxLen <= UniMaxWordLen,
      s"corpus word length $maxLen exceeds UniMaxWordLen=$UniMaxWordLen")
    words
  }

  private def unigramWordSegs(spark: SparkSession, dir: String): DataFrame = {
    val words = uniWordsChecked(spark, dir)
    viterbiSegment(words, collectCosts(uniVocab(words)))
  }

  private def unigramSegment(spark: SparkSession, dir: String): DataFrame =
    unigramWordSegs(spark, dir).drop("pieces").dumpOrdered("word")

  /** One EM re-estimation + prune round — the step that makes the unigram
    * family a TRAINER (SentencePiece's loop: segment with the current
    * model, re-estimate piece probabilities from the pieces the optimal
    * segmentations actually USED, drop everything else, re-segment).
    * Piece usage is counted from round-1's Viterbi output weighted by
    * word frequency; the re-estimated vocabulary keeps exactly the used
    * pieces at their usage-derived costs plus the 1-char alphabet (the
    * lossless fallback, at its substring-count cost when unused) — the
    * prune: candidate substrings that never won a segmentation are gone,
    * concentrating probability mass exactly like the EM E/M steps do on
    * expected counts. Output compares the rounds per word; DataOpsSpec's
    * brute-force law re-proves round-2 optimality under the new costs.
    *
    * Scale: both rounds are vocab-sized DP work; usage counting is one
    * explode + hash aggregate over the per-word segmentations. */
  private def unigramEm(spark: SparkSession, dir: String): DataFrame = {
    val words = uniWordsChecked(spark, dir)
    val costs1 = collectCosts(uniVocab(words))
    // round-1 segmentations feed the usage collect AND the final
    // round-comparison join — memo barrier so the DP runs once
    val seg1Plan = viterbiSegment(words, costs1)
    val seg1 = Tables.memoBy(spark, s"uniseg1:$dir")(seg1Plan)
    val usage: Map[String, Long] = seg1
      .select(col("freq"), explode(col("pieces")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("total"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // chars stay at their substring-count cost when round 1 never used
    // them (the lossless fallback must always price in)
    val chars1 = costs1.filter { case (p, _) => p.length == 1 }
    // UniCostBase − length(bin(total)); length(bin(t)) = 64 − nlz(t)
    def cost(total: Long): Long =
      UniCostBase - (64 - java.lang.Long.numberOfLeadingZeros(total))
    val costs2 = usage.map { case (p, t) => p -> cost(t) } ++
      chars1.filter { case (p, _) => !usage.contains(p) }
    viterbiSegment(words, costs2)
      .select(col("word"), col("freq"),
        col("n_pieces").as("n_pieces_em"),
        col("total_cost").as("total_cost_em"),
        col("encoded").as("encoded_em"))
      .join(seg1.select(col("word"), col("n_pieces").as("n_pieces_r1"),
        col("encoded").as("encoded_r1")), Seq("word"))
      .select(col("word"), col("freq"), col("n_pieces_r1"),
        col("n_pieces_em"), col("total_cost_em"),
        (col("encoded_em") =!= col("encoded_r1")).as("is_resegmented"),
        col("encoded_em"))
      .dumpOrdered("word")
  }

  /** Re-estimation rounds of the MULTI-round unigram EM — fixed for
    * oracle determinism (the SentencePiece prune schedule runs a fixed
    * number of sub-iterations per prune step for the same reason). */
  private val UniEmRounds = 3

  /** Multi-round unigram EM (VERDICT r9 #4): the re-estimation/prune step
    * looped [[UniEmRounds]] times the way `trainMergeRounds` loops
    * merges — segment under the current costs, re-estimate piece costs
    * from what the optimal segmentations USED (unused chars fall back to
    * their original substring-count cost: the lossless alphabet always
    * prices in), re-segment. Round k's segmentation is memoized so round
    * k+1's usage collect reads the cache, never a recomputed DP; round 1
    * SHARES `unigramEm`'s memo entry. Output compares the final round
    * against round 1 plus `is_converged` (final round == round K−1's
    * re-segmentation — the EM fixpoint check a real prune schedule
    * monitors).
    *
    * Scale: each round is vocab-sized DP work + one explode/aggregate
    * usage count; K is a constant, so the loop scales with VOCAB × K,
    * not the corpus. */
  private def unigramEmK(spark: SparkSession, dir: String): DataFrame = {
    val words = uniWordsChecked(spark, dir)
    val costs1 = collectCosts(uniVocab(words))
    val chars1 = costs1.filter { case (p, _) => p.length == 1 }
    def cost(total: Long): Long =
      UniCostBase - (64 - java.lang.Long.numberOfLeadingZeros(total))
    def usageOf(seg: DataFrame): Map[String, Long] = seg
      .select(col("freq"), explode(col("pieces")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("total"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    var costs = costs1
    val segs = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (k <- 1 to UniEmRounds + 1) {
      val key = if (k == 1) s"uniseg1:$dir" else s"unisegem:$dir:$k"
      val plan = viterbiSegment(words, costs)
      val seg = Tables.memoBy(spark, key)(plan)
      segs += seg
      if (k <= UniEmRounds) {
        val usage = usageOf(seg)
        costs = usage.map { case (p, t) => p -> cost(t) } ++
          chars1.filter { case (p, _) => !usage.contains(p) }
      }
    }
    segs(UniEmRounds)
      .select(col("word"), col("freq"),
        col("n_pieces").as("n_pieces_em"),
        col("total_cost").as("total_cost_em"),
        col("encoded").as("encoded_em"))
      .join(segs(0).select(col("word"),
        col("n_pieces").as("n_pieces_r1"),
        col("encoded").as("encoded_r1")), Seq("word"))
      .join(segs(UniEmRounds - 1).select(col("word"),
        col("encoded").as("encoded_prev")), Seq("word"))
      .select(col("word"), col("freq"), col("n_pieces_r1"),
        col("n_pieces_em"), col("total_cost_em"),
        (col("encoded_em") =!= col("encoded_r1")).as("is_resegmented"),
        (col("encoded_em") === col("encoded_prev")).as("is_converged"),
        col("encoded_em"))
      .dumpOrdered("word")
  }

  /** Corpus serving with the unigram tokenizer: one hash join from the
    * word occurrences to the per-word optimal segmentations (the
    * `data_bpe_train_encode` shape, against the OTHER tokenizer family) —
    * per-doc fertility lands head-to-head comparable with the greedy BPE
    * encoder on the same corpus. */
  private def unigramEncode(spark: SparkSession, dir: String): DataFrame = {
    val segs = unigramWordSegs(spark, dir)
      .select(col("word"), col("n_pieces"), col("encoded").as("wseg"))
    Tables.documentsHot(spark, dir)
      .select(col("doc_id"),
        posexplode(TextAnalysis.tokens(col("text"))).as(Seq("wpos", "word")))
      .join(segs, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_pieces")).as("n_subtokens"),
        array_sort(collect_list(struct(col("wpos"),
          col("wseg").as("w")))).as("ps"))
      .select(col("doc_id"), col("n_words"), col("n_subtokens"),
        (col("n_subtokens").cast("double") / col("n_words").cast("double"))
          .as("subtok_per_word"),
        concat_ws(" ", transform(col("ps"), _.getField("w"))).as("encoded"))
      .dumpOrderedTail("doc_id")
  }

  /** The shared vocab CTE block of the unigram oracle (through `vocab`
    * and `edges`), then the DP and backtrack unrolled to
    * [[UniMaxWordLen]] — `a{k}` accumulates dp rows, `bt{k}` walks the
    * backpointers. */
  private lazy val duckUnigramCtes: String = {
    val base =
      s"""WITH wx AS (SELECT unnest($duckWords) AS word FROM documents),
         |words AS MATERIALIZED (
         |  SELECT word, CAST(count(*) AS BIGINT) AS freq
         |  FROM wx WHERE length(word) > 0 GROUP BY word),
         |subs AS (
         |  SELECT substr(word, CAST(s + 1 AS INTEGER), CAST(l AS INTEGER))
         |           AS piece, freq
         |  FROM words,
         |       (SELECT unnest(range(0, $UniMaxWordLen)) AS s) ss,
         |       (SELECT unnest(range(1, ${UniMaxPiece + 1})) AS l) ls
         |  WHERE s + l <= length(word)),
         |pt AS MATERIALIZED (
         |  SELECT piece, CAST(sum(freq) AS BIGINT) AS total
         |  FROM subs GROUP BY piece),
         |cand AS (
         |  SELECT piece, total FROM pt
         |  WHERE length(piece) >= 2 AND total >= $UniMinFreq
         |  ORDER BY total DESC, piece LIMIT $UniMaxVocab),
         |vocab AS MATERIALIZED (
         |  SELECT piece, $UniCostBase - length(bin(total)) AS cost
         |  FROM (SELECT piece, total FROM cand UNION ALL
         |        SELECT piece, total FROM pt WHERE length(piece) = 1))"""
        .stripMargin
    s"$base,\n${duckViterbiCtes("", "vocab")}"
  }

  /** One Viterbi DP + backtrack CTE chain (all names suffixed `sfx`)
    * segmenting `words` under the piece costs of `vocabCte`, ending at
    * `uni$sfx(word, freq, n_pieces, total_cost, encoded)` — generated
    * twice by the EM oracle (round-1 vocab, re-estimated vocab2). */
  private def duckViterbiCtes(sfx: String, vocabCte: String): String = {
    val base =
      s"""pos$sfx AS (
         |  SELECT word, CAST(unnest(range(0, length(word) + 1)) AS BIGINT)
         |           AS i
         |  FROM words),
         |edges$sfx AS MATERIALIZED (
         |  SELECT a.word, b.i AS j, a.i AS i, v.cost
         |  FROM pos$sfx a JOIN pos$sfx b
         |    ON b.word = a.word AND b.i < a.i AND b.i + $UniMaxPiece >= a.i
         |  JOIN $vocabCte v ON v.piece = substr(a.word,
         |    CAST(b.i + 1 AS INTEGER), CAST(a.i - b.i AS INTEGER))),
         |dp0$sfx AS (
         |  SELECT word, CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS cost,
         |         CAST(0 AS BIGINT) AS bp
         |  FROM words),
         |a0$sfx AS (SELECT * FROM dp0$sfx)""".stripMargin
    val dpRounds = (1 to UniMaxWordLen).map { k =>
      s"""dp$k$sfx AS (
         |  SELECT e.word, CAST($k AS BIGINT) AS i,
         |    min(d.cost + e.cost) AS cost,
         |    -- composite (total, j) packed into one BIGINT: j < 16, so
         |    -- *16+j orders exactly like the Spark side's struct min
         |    arg_min(e.j, (d.cost + e.cost) * 16 + e.j) AS bp
         |  FROM edges$sfx e JOIN a${k - 1}$sfx d
         |    ON d.word = e.word AND d.i = e.j
         |  WHERE e.i = $k GROUP BY e.word),
         |a$k$sfx AS MATERIALIZED (
         |  SELECT * FROM a${k - 1}$sfx UNION ALL SELECT * FROM dp$k$sfx)"""
        .stripMargin
    }.mkString(",\n")
    val aN = s"a$UniMaxWordLen$sfx"
    val btRounds = (1 to UniMaxWordLen).map { k =>
      s"""bt$k$sfx AS (
         |  SELECT b.word, b.freq,
         |    CASE WHEN b.pos > 0 THEN d.bp ELSE b.pos END AS pos,
         |    CASE WHEN b.pos > 0 THEN list_append(b.cuts, d.bp)
         |         ELSE b.cuts END AS cuts
         |  FROM bt${k - 1}$sfx b LEFT JOIN $aN d
         |    ON d.word = b.word AND d.i = b.pos)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$dpRounds,
       |bt0$sfx AS (
       |  SELECT word, freq, CAST(length(word) AS BIGINT) AS pos,
       |         [CAST(length(word) AS BIGINT)] AS cuts
       |  FROM words),
       |$btRounds,
       |seg$sfx AS (
       |  SELECT word, freq, list_sort(cuts) AS rev
       |  FROM bt$UniMaxWordLen$sfx),
       |uni$sfx AS MATERIALIZED (
       |  SELECT word, freq, n_pieces, total_cost, pieces,
       |    array_to_string(pieces, '|') AS encoded
       |  FROM (
       |    SELECT s.word, s.freq,
       |      CAST(len(s.rev) - 1 AS BIGINT) AS n_pieces,
       |      d.cost AS total_cost,
       |      list_transform(range(1, len(s.rev)), k ->
       |        substr(s.word, CAST(s.rev[k] + 1 AS INTEGER),
       |               CAST(s.rev[k + 1] - s.rev[k] AS INTEGER))) AS pieces
       |    FROM seg$sfx s JOIN $aN d
       |      ON d.word = s.word AND d.i = length(s.word)) z)""".stripMargin
  }

  private lazy val duckUnigramSql: String =
    s"""$duckUnigramCtes
       |SELECT word, freq, n_pieces, total_cost, encoded
       |FROM uni ORDER BY word""".stripMargin

  private lazy val duckUnigramEmSql: String =
    s"""$duckUnigramCtes,
       |usage AS MATERIALIZED (
       |  SELECT piece, CAST(sum(freq) AS BIGINT) AS total
       |  FROM (SELECT freq, unnest(pieces) AS piece
       |        FROM uni) z
       |  GROUP BY piece),
       |vocab2 AS MATERIALIZED (
       |  SELECT piece, $UniCostBase - length(bin(total)) AS cost
       |  FROM (SELECT piece, total FROM usage
       |        UNION ALL
       |        SELECT piece, total FROM pt
       |        WHERE length(piece) = 1
       |          AND piece NOT IN (SELECT piece FROM usage)) z),
       |${duckViterbiCtes("_b", "vocab2")}
       |SELECT u2.word, u2.freq,
       |  u1.n_pieces AS n_pieces_r1,
       |  u2.n_pieces AS n_pieces_em,
       |  u2.total_cost AS total_cost_em,
       |  u2.encoded <> u1.encoded AS is_resegmented,
       |  u2.encoded AS encoded_em
       |FROM uni_b u2 JOIN uni u1 USING (word)
       |ORDER BY u2.word""".stripMargin

  /** One EM re-estimation CTE pair: usage counts from segmentation
    * `fromUni`, re-estimated vocabulary `vocabName` (used pieces at their
    * usage-derived cost + unused single chars at their substring-count
    * cost from `pt` — the same fallback rule every Scala-side round
    * applies). Generated once per EM round so the K-round oracle can
    * never drift from the 1-round one. */
  private def duckEmStep(fromUni: String, usageName: String,
                         vocabName: String): String =
    s"""$usageName AS MATERIALIZED (
       |  SELECT piece, CAST(sum(freq) AS BIGINT) AS total
       |  FROM (SELECT freq, unnest(pieces) AS piece
       |        FROM $fromUni) z
       |  GROUP BY piece),
       |$vocabName AS MATERIALIZED (
       |  SELECT piece, $UniCostBase - length(bin(total)) AS cost
       |  FROM (SELECT piece, total FROM $usageName
       |        UNION ALL
       |        SELECT piece, total FROM pt
       |        WHERE length(piece) = 1
       |          AND piece NOT IN (SELECT piece FROM $usageName)) z)"""
      .stripMargin

  /** [[UniEmRounds]] chained EM rounds: each re-estimates from the
    * previous round's segmentation and re-runs the full unrolled Viterbi
    * chain under the new vocabulary. */
  private lazy val duckUnigramEm3Sql: String = {
    val steps = (1 to UniEmRounds).map { k =>
      val from = if (k == 1) "uni" else s"uni_e${k - 1}"
      duckEmStep(from, s"usage$k", s"vocab${k + 1}") + ",\n" +
        duckViterbiCtes(s"_e$k", s"vocab${k + 1}")
    }.mkString(",\n")
    s"""$duckUnigramCtes,
       |$steps
       |SELECT uf.word, uf.freq,
       |  u1.n_pieces AS n_pieces_r1,
       |  uf.n_pieces AS n_pieces_em,
       |  uf.total_cost AS total_cost_em,
       |  uf.encoded <> u1.encoded AS is_resegmented,
       |  uf.encoded = up.encoded AS is_converged,
       |  uf.encoded AS encoded_em
       |FROM uni_e$UniEmRounds uf
       |JOIN uni u1 USING (word)
       |JOIN uni_e${UniEmRounds - 1} up USING (word)
       |ORDER BY uf.word""".stripMargin
  }

  private lazy val duckUnigramEncodeSql: String =
    s"""$duckUnigramCtes,
       |wp AS (
       |  SELECT doc_id, unnest(range(0, len(w))) AS wpos, w
       |  FROM (SELECT doc_id, $duckWords AS w FROM documents) q),
       |ww AS (SELECT doc_id, wpos, w[wpos + 1] AS word FROM wp),
       |j AS (
       |  SELECT ww.doc_id, ww.wpos, u.n_pieces, u.encoded
       |  FROM ww JOIN uni u USING (word))
       |SELECT doc_id, count(*) AS n_words,
       |  CAST(sum(n_pieces) AS BIGINT) AS n_subtokens,
       |  CAST(sum(n_pieces) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |    AS subtok_per_word,
       |  string_agg(encoded, ' ' ORDER BY wpos) AS encoded
       |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // -- tokenizer TRAINING -----------------------------------------------

  private val BpeTrainRounds = 8

  /** One learned merge: round number, the adjacent symbol pair chosen
    * (max summed frequency, ties broken lexicographically), its count. */
  final case class BpeMerge(step: Int, lhs: String, rhs: String, cnt: Long)

  /** The learned merge lists, per (session, input identity of the
    * trained corpus) — see [[bpeTrainedWords]]. */
  private val trainMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), Seq[BpeMerge]]()

  /** Adjacent-symbol pair counts weighted by word frequency — the
    * merge-candidate table of one BPE training round. Map-side-combinable
    * hash aggregate over the vocab-sized word table. */
  private def adjacentPairs(wf: DataFrame): DataFrame =
    wf.select(col("freq"), explode(expr(
      // guard: sequence(1, 0) would generate DESCENDING [1, 0], not empty
      """CASE WHEN size(syms) >= 2
        |  THEN transform(sequence(1, size(syms) - 1),
        |                 i -> struct(syms[i-1] AS a, syms[i] AS b))
        |  ELSE cast(null AS array<struct<a:string,b:string>>) END"""
        .stripMargin)).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("freq")).as("cnt"))

  /** Apply ONE merge (a, b) → ab to a symbol array, left-to-right
    * non-overlapping (classic BPE: "a a a" merges the FIRST pair only) —
    * a fold that compares the accumulator top against `a`; a just-merged
    * top (= a||b) can never re-match as the left element, which is
    * exactly the non-overlap rule. */
  private[graft] def mergeApply(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, s) =>
        when(try_element_at(acc, lit(-1)) === lit(a) && s === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(s))))

  /** The iterative BPE training loop, over ANY (word, freq) table —
    * split from the corpus plumbing ([[bpeTrainedWords]]) so property
    * suites can train on synthetic word tables: split words into
    * character symbols, then per round pick the max-count adjacent pair
    * (a 1-row bounded `orderBy().limit(1)` pull — the model artifact)
    * and merge it throughout the vocab. Returns the trained table
    * (word, freq, final syms) and the merge list; the caller owns the
    * returned frame's persistence (the last round's persist is left
    * armed).
    *
    * Scale: each round is one hash aggregate + one map-only merge over
    * the VOCAB-sized input table; rounds are persisted so round k reads
    * round k-1's cache, not the whole chain. The driver-side state is
    * `rounds` merge rows. */
  /** The default (character) base alphabet: one symbol per char. */
  private[graft] def charSyms(word: Column): Column =
    when(length(word) >= 1,
      transform(sequence(lit(1), length(word)),
        i => word.substr(i, lit(1))))
      .otherwise(array().cast("array<string>"))

  private[graft] def trainMergeRounds(words: DataFrame,
                                      rounds: Int = BpeTrainRounds,
                                      specials: Seq[String] = Nil,
                                      split: Column => Column = charSyms)
      : (DataFrame, Seq[BpeMerge]) = {
    val base = split(col("word"))
    // a SPECIAL token enters the loop as ONE atomic symbol: never
    // split, so no merge can form across or inside it — the
    // reserved-token contract every production tokenizer keeps
    val syms = if (specials.isEmpty) base
      else when(col("word").isInCollection(specials), array(col("word")))
        .otherwise(base)
    var wf = words
      .withColumn("syms", syms)
      .persist()
    val merges = Seq.newBuilder[BpeMerge]
    // One ACTION per round, not two: round k's argmax collect runs over
    // wf (round k-1's output) and thereby materializes its cache, so the
    // k-1 parent can be released right after — no separate count() job.
    // Only the LAST round's table has no later collect to materialize
    // it, so it alone pays an explicit materialization before its parent
    // is dropped (a cached parent must outlive its child's first
    // execution, or the child recomputes the whole uncached merge chain).
    var pending: Option[DataFrame] = None
    for (k <- 1 to rounds) {
      val top = adjacentPairs(wf)
        .orderBy(desc("cnt"), col("a"), col("b")).limit(1).collect()
      pending.foreach(_.unpersist())
      pending = None
      if (top.nonEmpty) {
        val r = top(0)
        val (a, b) = (r.getString(0), r.getString(1))
        merges += BpeMerge(k, a, b, r.getLong(2))
        val next = wf.withColumn("syms", mergeApply(col("syms"), a, b))
          .persist()
        pending = Some(wf)
        wf = next
      }
    }
    pending.foreach { parent =>
      wf.count() // materialize the final round before dropping its parent
      parent.unpersist()
    }
    (wf, merges.result())
  }

  /** The CORPUS-trained BPE model (the count→merge→re-pair loop the
    * encode step consumes): aggregate the corpus ONCE to its
    * word-frequency table — training never re-scans the corpus — then
    * run [[trainMergeRounds]] for [[BpeTrainRounds]] rounds. Returns the
    * memo-persisted trained word table; the merge list lands in the
    * session memo for `data_bpe_train`. */
  private[graft] def bpeTrainedWords(spark: SparkSession, dir: String): DataFrame = {
    // resolve the corpus memo OUTSIDE the bpetrain memo closure — a
    // nested first-touch computeIfAbsent on the shared memo map throws
    // "Recursive update"
    val docs = Tables.documentsHot(spark, dir)
    Tables.memoBy(spark, s"bpetrain:$dir") {
      trainMemo.keySet.removeIf(_._1.sparkContext.isStopped)
      val base = docs
        .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      val (wf, merges) = trainMergeRounds(base)
      trainMemo.put((spark, Tables.inputIdentity(wf)), merges)
      wf
    }
  }

  /** The merge list trained from the corpus as it is now: the memo's
    * trained table is rebuilt when the corpus was rewritten in place, and
    * the list is looked up by that table's input identity, never by the
    * directory name alone. */
  private def bpeMerges(spark: SparkSession, dir: String): Seq[BpeMerge] = {
    val wf = bpeTrainedWords(spark, dir)
    Option(trainMemo.get((spark, Tables.inputIdentity(wf)))).getOrElse(
      throw new IllegalStateException(s"the corpus under $dir changed while " +
        "its BPE model was trained"))
  }

  /** The learned merge list — the tokenizer TRAINING output
    * (`data_bpe_pairs` iterated to a fixpoint of [[BpeTrainRounds]]
    * rounds). The oracle replays every round: pair counts, the
    * (count desc, pair asc) argmax, and the left-to-right non-overlapping
    * merge, as [[BpeTrainRounds]] unrolled CTE blocks. */
  private def bpeTrain(spark: SparkSession, dir: String): DataFrame = {
    val m = bpeMerges(spark, dir)
    import spark.implicits._
    m.map(x => (x.step.toLong, x.lhs, x.rhs, x.lhs + x.rhs, x.cnt))
      .toDF("step", "lhs", "rhs", "merged", "pair_count")
      .dumpOrdered("step")
  }

  /** The reserved special token: appended once per document (the GPT-2
    * document-separator convention) and kept ATOMIC through training —
    * never char-split, never merged into or across. */
  private[graft] val BpeSpecialToken = "<|endoftext|>"

  /** The PRETOKENIZED BPE model (VERDICT r9 #3): the corpus aggregates to
    * pretoken frequencies under the GPT-2-style regex
    * ([[TextAnalysis.bpePretokens]] — leading-space word units,
    * contraction suffixes, whitespace runs all first-class merge atoms,
    * so the trainer can learn " the"-style boundary-aware merges), plus
    * one [[BpeSpecialToken]] per document reserved from merging. Same
    * count→merge→re-pair loop, same single corpus scan. */
  private[graft] def bpePretokTrainedWords(spark: SparkSession,
                                           dir: String): DataFrame = {
    val docs = Tables.documentsHot(spark, dir)
    Tables.memoBy(spark, s"bpepretok:$dir") {
      trainMemo.keySet.removeIf(_._1.sparkContext.isStopped)
      val base = docs
        .select(explode(concat(TextAnalysis.bpePretokens(col("text")),
          array(lit(BpeSpecialToken)))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      val (wf, merges) =
        trainMergeRounds(base, specials = Seq(BpeSpecialToken))
      trainMemo.put((spark, s"pretok:$dir"), merges)
      wf
    }
  }

  private def bpePretokMerges(spark: SparkSession, dir: String): Seq[BpeMerge] = {
    bpePretokTrainedWords(spark, dir)
    trainMemo.get((spark, s"pretok:$dir"))
  }

  /** The merge list learned over the PRETOKENIZED corpus — differs from
    * `data_bpe_train`'s exactly where pretokenization matters (space-
    * prefixed units, punctuation split off, contraction suffixes). The
    * oracle replays the identical regex split with DuckDB's
    * `regexp_extract_all`, the special-token reservation, and all
    * [[BpeTrainRounds]] rounds. */
  private def bpePretok(spark: SparkSession, dir: String): DataFrame = {
    val m = bpePretokMerges(spark, dir)
    import spark.implicits._
    m.map(x => (x.step.toLong, x.lhs, x.rhs, x.lhs + x.rhs, x.cnt))
      .toDF("step", "lhs", "rhs", "merged", "pair_count")
      .dumpOrdered("step")
  }

  /** The BYTE-LEVEL BPE model (VERDICT r10 #4): same pretokenization and
    * special-token reservation as [[bpePretokTrainedWords]], but the base
    * alphabet is the 256 BYTES of each pretoken's UTF-8 encoding mapped
    * through the GPT-2 byte↔unicode table
    * ([[TextAnalysis.byteSyms]]) — so ANY input (CJK, emoji, control
    * bytes) decomposes losslessly into known atoms and the trainer can
    * never meet an out-of-alphabet symbol. On this ASCII corpus the
    * visible difference is the mapped space prefix ('Ġ' = the
    * byte-unicode image of 0x20); on a multilingual crawl it is the
    * whole point. Same count→merge→re-pair loop, same single corpus
    * scan, rounds scale with vocabulary. */
  private[graft] def bpeByteTrainedWords(spark: SparkSession,
                                         dir: String): DataFrame = {
    val docs = Tables.documentsHot(spark, dir)
    Tables.memoBy(spark, s"bpebytes:$dir") {
      trainMemo.keySet.removeIf(_._1.sparkContext.isStopped)
      val base = docs
        .select(explode(concat(TextAnalysis.bpePretokens(col("text")),
          array(lit(BpeSpecialToken)))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      val (wf, merges) = trainMergeRounds(base,
        specials = Seq(BpeSpecialToken), split = TextAnalysis.byteSyms)
      trainMemo.put((spark, s"bytes:$dir"), merges)
      wf
    }
  }

  private def bpeByteMerges(spark: SparkSession, dir: String): Seq[BpeMerge] = {
    bpeByteTrainedWords(spark, dir)
    trainMemo.get((spark, s"bytes:$dir"))
  }

  /** The merge list learned over the BYTE-mapped pretokenized corpus —
    * differs from `data_bpe_pretok`'s exactly in the base alphabet (the
    * byte-unicode images; ' the' trains as 'Ġthe'). The oracle replays
    * the identical regex split, the hex-pair byte mapping through the
    * same 256-entry table, the special-token reservation, and all
    * [[BpeTrainRounds]] rounds — [[bpeRoundCtes]] reused verbatim. */
  private def bpeBytes(spark: SparkSession, dir: String): DataFrame = {
    val m = bpeByteMerges(spark, dir)
    import spark.implicits._
    m.map(x => (x.step.toLong, x.lhs, x.rhs, x.lhs + x.rhs, x.cnt))
      .toDF("step", "lhs", "rhs", "merged", "pair_count")
      .dumpOrdered("step")
  }

  /** Corpus encode with the TRAINED merges — replaces `data_bpe_encode`'s
    * ad-hoc fragment vocabulary with the real BPE contract: a word's
    * encoding is its final symbol sequence after replaying the learned
    * merge list in order, which is exactly the trained word table's
    * `syms` column. Encoding the corpus is ONE hash join from the
    * (doc, word) explode to the vocab-sized trained table — no per-word
    * re-derivation, no driver loop at serving time. */
  private def bpeTrainEncode(spark: SparkSession, dir: String): DataFrame = {
    val wf = bpeTrainedWords(spark, dir).select(col("word"), col("syms"))
    Tables.documentsHot(spark, dir)
      .select(col("doc_id"),
        posexplode(TextAnalysis.tokens(col("text"))).as(Seq("wpos", "word")))
      .join(wf, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(size(col("syms"))).as("n_subtokens"),
        array_sort(collect_list(struct(col("wpos"),
          array_join(col("syms"), "|").as("w")))).as("ps"))
      .select(col("doc_id"), col("n_words"), col("n_subtokens"),
        (col("n_subtokens").cast("double") / col("n_words").cast("double"))
          .as("subtok_per_word"),
        concat_ws(" ", transform(col("ps"), _.getField("w"))).as("encoded"))
      .dumpOrderedTail("doc_id")
  }

  /** Order-SENSITIVE per-(position, encoding) hash for the byte-encode
    * checksums: the 52-bit md5 prefix of `<wpos>:<joined syms>`, xor'd
    * per doc (the [[shardManifest]] convention). Position is baked into
    * each hash, so any dropped, added, re-ordered or re-segmented
    * pretoken flips the doc's xor; differential strength equals dumping
    * the full encoded text. Chosen over `collect_list`-assembled text
    * DELIBERATELY: a document-text payload in the aggregation buffer is
    * a per-group memory liability (measured OOM at sf10 under the probe
    * heap — 65k groups × ~120 multi-KB buffers per task), while the
    * xor's state is ONE long, map-side-combinable at any scale. */
  private def h52Of(wpos: Column, syms: Column): Column =
    conv(substring(md5(concat(wpos.cast("string"), lit(":"),
      array_join(syms, "|"))), 1, 13), 16, 10).cast("long")

  /** Corpus encode with the BYTE-trained merges — the serving path of
    * [[bpeByteTrainedWords]], the `data_bpe_train_encode` shape over
    * the other base alphabet: each pretoken's encoding is its final
    * byte-unicode symbol sequence after the learned merges, joined from
    * the vocab-sized trained table. One (doc, pretoken) explode, one
    * hash join, one per-doc aggregate — no per-word re-derivation, no
    * corpus rescan at encode time; any UTF-8 pretoken is encodable by
    * construction (the byte alphabet's lossless-fallback guarantee).
    * Content proof rides the [[encXor]] checksum (see its scaladoc for
    * why not collect_list text). */
  private def bpeBytesEncode(spark: SparkSession, dir: String): DataFrame = {
    val wf = bpeByteTrainedWords(spark, dir).select(col("word"), col("syms"))
    Tables.documentsHot(spark, dir)
      .select(col("doc_id"),
        posexplode(TextAnalysis.bpePretokens(col("text")))
          .as(Seq("wpos", "word")))
      .join(broadcast(wf), Seq("word"))
      .select(col("doc_id"), size(col("syms")).as("n_syms"),
        h52Of(col("wpos"), col("syms")).as("__h52"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pretokens"),
        sum(col("n_syms")).as("n_subtokens"),
        expr("bit_xor(__h52)").as("enc_xor"))
      .select(col("doc_id"), col("n_pretokens"), col("n_subtokens"),
        (col("n_subtokens").cast("double") / col("n_pretokens").cast("double"))
          .as("subtok_per_pretok"),
        col("enc_xor"))
      .dumpOrderedTail("doc_id")
  }

  /** Training-slice boundary for the OOV-encode fixture: the tokenizer
    * trains on documents below this id and then encodes the WHOLE
    * corpus — the shipped-tokenizer premise, where serving data always
    * contains pretokens training never saw. 20 docs cover 43 of the
    * synthetic corpus's 61 distinct pretokens (measured at sf0.01), so
    * the differential exercises the merge-replay fallback on the other
    * 18 NON-vacuously; the bounded slice also keeps the trained-model
    * premise at scale (the corpus grows, the shipped tokenizer does
    * not). */
  private val OovTrainEnd = 20L

  /** [[bpeByteTrainedWords]] fitted on the TRAINING SLICE only. */
  private[graft] def bpeByteSliceTrainedWords(spark: SparkSession,
                                              dir: String): DataFrame = {
    val docs = Tables.documentsHot(spark, dir)
    Tables.memoBy(spark, s"bpebytesslice:$dir") {
      trainMemo.keySet.removeIf(_._1.sparkContext.isStopped)
      val base = docs.where(col("doc_id") < OovTrainEnd)
        .select(explode(concat(TextAnalysis.bpePretokens(col("text")),
          array(lit(BpeSpecialToken)))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      val (wf, merges) = trainMergeRounds(base,
        specials = Seq(BpeSpecialToken), split = TextAnalysis.byteSyms)
      trainMemo.put((spark, s"bytesslice:$dir"), merges)
      wf
    }
  }

  /** Encode NEW data with a SHIPPED tokenizer — the serving reality the
    * plain train-encode join cannot express: pretokens the training
    * slice never saw have no row in the trained word table, and a real
    * tokenizer encodes them anyway by BYTE-splitting and replaying the
    * learned merge list in rank order (classic BPE inference — possible
    * at all because the byte alphabet makes any UTF-8 pretoken
    * decomposable; a char alphabet would hit unknown atoms). Seen
    * pretokens serve from the vocab-sized trained table as before; the
    * UNSEEN ones are a distinct-word table (vocab-bounded, not
    * corpus-bounded) that gets the [[mergeApply]] fold once per learned
    * merge. Every pretoken of every document is encoded — the
    * total-function law `n_pretokens = |pretokens|`, which the inner
    * join alone would silently break.
    *
    * Scale: one (doc, pretoken) explode, one distinct over unseen words
    * + 8 map-only merge folds on that bounded table, one hash join of
    * the union'd model, one per-doc aggregate. The corpus is scanned
    * once for training (slice) and once for encoding. */
  private def bpeBytesOovEncode(spark: SparkSession, dir: String): DataFrame = {
    val wf = bpeByteSliceTrainedWords(spark, dir)
      .select(col("word"), col("syms"))
    val merges = trainMemo.get((spark, s"bytesslice:$dir"))
    val pretoks = Tables.documentsHot(spark, dir)
      .select(col("doc_id"),
        posexplode(TextAnalysis.bpePretokens(col("text")))
          .as(Seq("wpos", "word")))
    val oovSyms = merges.foldLeft(TextAnalysis.byteSyms(col("word")))(
      (c, m) => mergeApply(c, m.lhs, m.rhs))
    // the corpus-distinct pretoken table is VOCAB-sized after the
    // distinct and feeds only the OOV derivation — memo-persist it
    // (the mixHistTable discipline) so warm runs pay ONE corpus scan
    // (the encode join), not a second one for the distinct (VERDICT
    // r11 #7: measured 14.8 -> ~9 s warm at sf10)
    val distinctWords = Tables.memoBy(spark, s"bpeoovwords:$dir") {
      pretoks.select(col("word")).distinct()
    }
    val oov = distinctWords
      .join(wf.select(col("word")), Seq("word"), "left_anti")
      .select(col("word"), oovSyms.as("syms"), lit(true).as("is_oov"))
    // broadcast EXPLICITLY: the model is vocab-sized by construction,
    // but the union's size estimate (trained memo ∪ the fold-heavy oov
    // projection) is unknown to the planner — without the hint it
    // planned a SortMergeJoin that shuffled AND sorted the corpus-sized
    // pretoken explode (measured 61 s vs 2.5 s at sf10)
    val model = broadcast(
      wf.withColumn("is_oov", lit(false)).unionByName(oov))
    pretoks.join(model, Seq("word"))
      .select(col("doc_id"), col("is_oov"), size(col("syms")).as("n_syms"),
        h52Of(col("wpos"), col("syms")).as("__h52"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pretokens"),
        sum(when(col("is_oov"), 1L).otherwise(0L)).as("n_oov"),
        sum(col("n_syms")).as("n_subtokens"),
        expr("bit_xor(__h52)").as("enc_xor"))
      .select(col("doc_id"), col("n_pretokens"), col("n_oov"),
        col("n_subtokens"),
        (col("n_subtokens").cast("double") / col("n_pretokens").cast("double"))
          .as("subtok_per_pretok"),
        col("enc_xor"))
      .dumpOrderedTail("doc_id")
  }

  /** Tokenized training shards AT REST (VERDICT r11 #4 — the pipeline's
    * actual deliverable): packed token-ID sequences materialized as a
    * shard-partitioned parquet artifact, verified through a per-shard
    * manifest computed from the READ-BACK of the written files (counts
    * + an order-sensitive checksum per sequence, xor'd per shard — the
    * `data_shard_manifest` convention over token ids).
    *
    * Pipeline: byte-BPE encode to REAL ids (each distinct final symbol
    * of the trained table gets `row_number` over the engine-binary
    * string order — deterministic, both engines enumerate identically),
    * per-document flat id sequence in (pretoken, symbol) order, then
    * the `data_pack_plan` binning (bucket = doc_id % buckets, running
    * token offset div bin size) and one artifact row per (shard, bin).
    *
    * Scale: the id assignment and the per-word id table are
    * VOCAB-sized (symbol explode + one join + one re-aggregate); the
    * corpus pays one pretoken explode, one broadcast join against the
    * id'd vocabulary, and the per-doc/per-bin assemblies whose
    * `collect_list` payloads are bounded by document length and the
    * bin's token budget respectively (the `data_pack_sequences`
    * precedent — sequences must materialize somewhere; that is what a
    * training shard IS). The write is `repartition(shard)` +
    * `partitionBy(shard)`, one writer per directory, the maintained-
    * index layout discipline. */
  private[graft] def writeTokenizedShards(spark: SparkSession, dir: String,
                                          path: String,
                                          docWhere: Option[Column] = None): Unit =
    withSortFallback(spark) { writeTokenizedShardsInner(spark, dir, path,
      docWhere) }

  /** The assemblies in the shard write/append are collect_list
    * aggregations whose per-GROUP payload is bounded (a document / a
    * bin) but whose per-TASK hash-mode buffer is not: ObjectHashAggregate
    * holds every in-flight group's boxed entries until the fallback
    * threshold, and the sessions here RAISE that threshold to 65536 for
    * the tiny argmax aggregates — 65k docs × ~120 boxed entries per scan
    * partition OOM'd the sf10 probe. Pin a small threshold for the shard
    * mutations so the aggregation goes sort-based (spillable external
    * sort — memory bounded by the sorter's pages, not by group count):
    * the one-time write trades a sort for bounded memory, which is
    * exactly the trade a 100 TB ingest must make. */
  private def withSortFallback[A](spark: SparkSession)(body: => A): A = {
    val fallbackKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val prevFallback = spark.conf.getOption(fallbackKey)
    spark.conf.set(fallbackKey, "512")
    try body
    finally prevFallback match {
      case Some(v) => spark.conf.set(fallbackKey, v)
      case None => spark.conf.unset(fallbackKey)
    }
  }

  /** Per-document flat token-id sequences under the FROZEN byte-BPE
    * vocabulary of `dir` — the shared encode of the shard build and
    * every later batch append (the frozen-centroid contract, tokenizer
    * edition: appends never retrain or renumber the vocabulary, so
    * stored shards stay valid). One pretoken explode, one broadcast
    * join, one per-doc assembly. */
  private def tokenizedDocs(spark: SparkSession, dir: String,
                            docs: DataFrame): DataFrame = {
    val wf = bpeByteTrainedWords(spark, dir).select(col("word"), col("syms"))
    // vocabulary ids: bounded relation, so the single-partition
    // row_number window is the fitCentroids-seed pattern, not a scale
    // hazard
    val vocab = wf.select(explode(col("syms")).as("sym")).distinct()
      .withColumn("tid",
        row_number().over(Window.orderBy(col("sym"))).cast("long"))
    val wfIds = wf
      .select(col("word"), posexplode(col("syms")).as(Seq("spos", "sym")))
      .join(vocab, Seq("sym"))
      .groupBy(col("word"))
      .agg(array_sort(collect_list(struct(col("spos"), col("tid"))))
        .as("st"))
      .select(col("word"), transform(col("st"), _.getField("tid")).as("tids"))
    docs
      .select(col("doc_id"),
        posexplode(TextAnalysis.bpePretokens(col("text")))
          .as(Seq("wpos", "word")))
      .join(broadcast(wfIds), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("wpos"), col("tids"))))
        .as("ps"))
      .select(col("doc_id"),
        flatten(transform(col("ps"), _.getField("tids"))).as("toks"))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .withColumn("bucket", col("doc_id") % PackBuckets)
  }

  /** Assemble (bucket, bin)-binned docs into shard rows. `binCol` is the
    * caller's bin rule (build: running offset from 0; append:
    * continuation past the stored max bin). The row keeps its member
    * `doc_ids` — bounded by the bin's doc count — so appends can screen
    * novelty against the artifact itself. */
  private def assembleBins(binned: DataFrame): DataFrame =
    binned
      .groupBy(col("bucket"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        array_sort(collect_list(struct(col("doc_id"), col("toks"))))
          .as("ds"))
      .select(col("bucket").as("shard"), col("bin"), col("n_docs"),
        col("n_tokens"),
        transform(col("ds"), _.getField("doc_id")).as("doc_ids"),
        flatten(transform(col("ds"), _.getField("toks"))).as("token_ids"))

  private def writeTokenizedShardsInner(spark: SparkSession, dir: String,
                                        path: String,
                                        docWhere: Option[Column]): Unit = {
    val docs0 = Tables.documentsHot(spark, dir)
    val docToks = tokenizedDocs(spark, dir,
      docWhere.map(docs0.where).getOrElse(docs0))
    assembleBins(docToks
        .withColumn("bin",
          expr(s"coalesce(sum(n_tok) over (partition by bucket order by" +
            s" doc_id rows between unbounded preceding and 1 preceding), 0L)" +
            s" div $PackBin")))
      .repartition(col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)
    // publish under the manifest protocol with the reproducibility
    // manifest as the model artifact, computed from the READ-BACK of
    // the written files (the shard write's verification discipline)
    val art = graft.data.IndexManifest.writeArtifact(spark, path, "manifest",
      shardTokenManifest(spark, path))
    graft.data.IndexManifest.commit(spark, path,
      graft.data.IndexManifest.Snapshot.Empty, graft.data.IndexManifest.Delta(
        graft.data.IndexManifest.listDataFiles(spark, path),
        artifacts = Map(art))): Unit
  }

  /** MAINTAIN a tokenized-shard artifact: encode an ingest batch with
    * the FROZEN vocabulary, pack its NOVEL documents into CONTINUATION
    * bins (per shard: `max stored bin + 1` onward — stored bins are
    * immutable training data, an append never rewrites or re-balances
    * them), append into the shard layout, and update the
    * reproducibility-manifest artifact by EXACT increments — counts
    * add, and the shard checksum xors with the new sequences' hashes
    * (xor is self-inverse and order-free: the incremented artifact is
    * bit-identical to a recompute over the files at rest, the law the
    * `data_pack_tokenized_append` oracle and TrainOpsSpec pin).
    *
    * Idempotent like every maintained append: already-stored doc ids
    * are screened via the stored bins' `doc_ids` membership — the
    * pinned index scan joins a broadcast of the batch ids (pruned to
    * the batch's shard directories, output batch-bounded), so a full
    * replay packs nothing and increments nothing.
    *
    * The increment itself is computed from the READ-BACK of the files
    * this append wrote (post-listing minus pre — the same delta the
    * commit publishes), not from the in-flight plan: what lands in the
    * artifact is what a future reader will actually hash.
    *
    * Atomicity ([[graft.data.IndexManifest]]): new shard files and the
    * new manifest-artifact version publish in ONE commit; a crash
    * before it leaves invisible orphans (the replay re-packs them
    * correctly against the pinned pre-state), and readers at any point
    * see a consistent (shards, manifest) pair. */
  private[graft] def appendTokenizedShards(spark: SparkSession, dir: String,
                                           batch: DataFrame,
                                           path: String,
                                           retainVersions: Int = 2): Unit =
    withSortFallback(spark) {
      val toks = tokenizedDocs(spark, dir, batch)
        .localCheckpoint(true) // consumed 3× below (ids, novel, shards)
      // static literal-IN shard pruning (the streaming gates' rule: a
      // derived batch relation carries no DPP-selective predicate, so
      // prune at planning time) — the distinct-shard pull is bounded by
      // the PackBuckets universe
      val shards = toks.select(col("bucket").cast("int").as("shard"))
        .distinct().collect().map(r => Integer.valueOf(r.getInt(0))).toSeq
      val snap = graft.data.IndexManifest.reconcileAppend(spark, path)
      val idx =
        if (snap.dataFiles.isEmpty) null
        else graft.data.IndexManifest.readData(spark, path)
          .where(col("shard").isin(shards: _*))
      val batchIds = toks.select(col("bucket").cast("int").as("shard"),
        col("doc_id"))
      val known =
        if (idx == null) batchIds.limit(0)
        else idx.select(col("shard"), explode(col("doc_ids")).as("doc_id"))
          .join(broadcast(batchIds), Seq("shard", "doc_id"))
          .select(col("shard"), col("doc_id"))
      val novel = toks.join(broadcast(known.select(col("doc_id"))),
        Seq("doc_id"), "left_anti")
      // continuation bins: stored per-shard max bin is a bin-column-only
      // aggregate over the pruned scan (metadata-cheap), broadcast into
      // the batch's running-offset window
      val maxBins =
        if (idx == null)
          spark.range(0).select(col("id").as("bucket"),
            col("id").as("__maxbin"))
        else idx.groupBy(col("shard").cast("long").as("bucket"))
          .agg(max(col("bin")).as("__maxbin"))
      val binned = novel
        .join(broadcast(maxBins), Seq("bucket"), "left")
        .withColumn("bin",
          coalesce(col("__maxbin"), lit(-1L)) + lit(1L) +
            expr(s"coalesce(sum(n_tok) over (partition by bucket order by" +
              s" doc_id rows between unbounded preceding and 1 preceding)," +
              s" 0L) div $PackBin"))
        .drop("__maxbin")
      // staged write: `added` is exactly this writer's files, known by
      // construction — and the artifact increments below hash the
      // READ-BACK of precisely those files
      val added = graft.data.IndexManifest.stageAppend(
        assembleBins(binned).repartition(col("shard")), path, "shard")
      val art: Map[String, String] =
        if (added.isEmpty) Map.empty // full replay: nothing landed — the
                                     // delta commit carries the previous
                                     // artifact pointer unchanged
        else {
          val inc = shardManifestOf(
            graft.data.IndexManifest.readFiles(spark, path, added))
          // bootstrap: the FIRST append into an empty artifact (a
          // stream starting from zero) has no stored manifest yet —
          // the increment IS the manifest
          val prevArt =
            if (snap.artifacts.contains("manifest"))
              readShardManifest(spark, path)
            else inc.limit(0)
          Map(graft.data.IndexManifest.writeArtifact(spark, path, "manifest",
            prevArt.select(col("shard"), col("n_seqs"), col("n_docs"),
                col("sum_tokens"), col("xor_checksum"))
              .join(inc.select(col("shard"), col("n_seqs").as("__s"),
                col("n_docs").as("__d"), col("sum_tokens").as("__t"),
                col("xor_checksum").as("__x")), Seq("shard"), "full")
              .select(col("shard"),
                (coalesce(col("n_seqs"), lit(0L)) +
                  coalesce(col("__s"), lit(0L))).as("n_seqs"),
                (coalesce(col("n_docs"), lit(0L)) +
                  coalesce(col("__d"), lit(0L))).as("n_docs"),
                (coalesce(col("sum_tokens"), lit(0L)) +
                  coalesce(col("__t"), lit(0L))).as("sum_tokens"),
                expr("coalesce(xor_checksum, 0L) ^ coalesce(__x, 0L)")
                  .as("xor_checksum"))))
        }
      graft.data.IndexManifest.commit(spark, path, snap,
        graft.data.IndexManifest.Delta(added, artifacts = art),
        retainVersions): Unit
    }

  /** The stored reproducibility manifest of a maintained tokenized-shard
    * artifact (manifest-pinned; exact-incremented by
    * [[appendTokenizedShards]]). */
  private[graft] def readShardManifest(spark: SparkSession,
                                       path: String): DataFrame =
    graft.data.IndexManifest.readArtifact(spark, path, "manifest")

  /** The reproducibility manifest of a tokenized-shard artifact,
    * computed from the files at rest: per shard — sequence/doc/token
    * counts and the xor of each sequence's position-baked 52-bit hash
    * (md5 of `bin:comma-joined ids` — any dropped, reordered, or
    * re-segmented token flips its shard's xor). */
  private[graft] def shardTokenManifest(spark: SparkSession,
                                        path: String): DataFrame =
    shardManifestOf(graft.data.IndexManifest.readData(spark, path))

  /** The manifest fold over any set of shard rows — shared by the
    * at-rest recompute ([[shardTokenManifest]]) and the append's
    * read-back increment, so the two can only agree or loudly differ. */
  private def shardManifestOf(rows: DataFrame): DataFrame =
    rows
      .select(col("shard").cast("long").as("shard"), col("n_docs"),
        col("n_tokens"),
        conv(substring(md5(concat(col("bin").cast("string"), lit(":"),
          array_join(transform(col("token_ids"), _.cast("string")), ","))),
          1, 13), 16, 10).cast("long").as("h52"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_seqs"), sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        expr("bit_xor(h52)").as("xor_checksum"))

  private val builtPackShards =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private lazy val packRoot: java.io.File = {
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_packtok_${java.util.UUID.randomUUID().toString.take(8)}")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(rm)
        f.delete(): Unit
      }
      rm(root)
    }))
    root
  }

  private def packShardsPath(spark: SparkSession, dir: String): String =
    builtPackShards.computeIfAbsent(dir, _ => {
      val p = new java.io.File(packRoot,
        new java.io.File(dir).getName).getAbsolutePath
      writeTokenizedShards(spark, dir, p)
      p
    })

  private def packTokenized(spark: SparkSession, dir: String): DataFrame =
    shardTokenManifest(spark, packShardsPath(spark, dir))
      .dumpOrderedTail("shard")

  /** The shard artifact in the WIRE FORMAT training loaders read: every
    * packed sequence framed as a TFRecord
    * ([[graft.functions.TfRecordFrame]] — 8-byte LE length, masked
    * CRC32C of the length, 4-byte-LE-uint32 token payload, masked
    * CRC32C of the payload) and immediately re-parsed
    * ([[graft.functions.TfRecordParse]]) in the same plan — the fused
    * roundtrip discipline: the parse re-derives both CRCs from the
    * bytes, so `n_crc_ok`/`n_roundtrip_ok` prove the writer's
    * arithmetic, and the frame's full hex enters the per-shard xor'd
    * hash, so the ORACLE (which re-implements CRC32C + the TFRecord
    * mask in SQL from the polynomial) cross-checks every byte of every
    * frame — lengths, both checksums, and payload order.
    *
    * Scale: map-only over the stored artifact (one compiled frame +
    * parse call per sequence inside whole-stage codegen), then one
    * per-shard hash aggregate — the `data_pack_tokenized` shape with a
    * codec in the projection, exactly the JPEG-roundtrip precedent. */
  private def shardTfrecord(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.TfRecordFunctions.register(spark)
    import graft.functions.TfRecordFunctions.{tfrecord_frame, tfrecord_parse}
    val rows = graft.data.IndexManifest
      .readData(spark, packShardsPath(spark, dir))
      .select(col("shard").cast("long").as("shard"), col("bin"),
        col("token_ids"))
      .withColumn("framed", tfrecord_frame(col("token_ids")))
      .withColumn("p", tfrecord_parse(col("framed")))
    rows
      .select(col("shard"),
        length(col("framed")).cast("long").as("nb"),
        (col("p.len_crc_ok") && col("p.data_crc_ok")).as("crc_ok"),
        (col("p.ids") === col("token_ids")).as("rt_ok"),
        conv(substring(md5(concat(col("bin").cast("string"), lit(":"),
          lower(hex(col("framed"))))), 1, 13), 16, 10).cast("long").as("h52"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_records"), sum(col("nb")).as("n_bytes"),
        sum(when(col("crc_ok"), 1L).otherwise(0L)).as("n_crc_ok"),
        sum(when(col("rt_ok"), 1L).otherwise(0L)).as("n_roundtrip_ok"),
        expr("bit_xor(h52)").as("frame_xor"))
      .dumpOrdered("shard")
  }

  /** Write the tokenized-shard artifact AT REST in the wire format —
    * real `.tfrecord` FILES a `tf.data.TFRecordDataset` can open, not
    * just in-plan proof of the framing arithmetic: every packed
    * sequence framed ([[graft.functions.TfRecordFrame]]) and streamed
    * into one file per shard, records in ascending `bin` order, so a
    * record's position in its shard's files IS its per-shard RANK —
    * the read-back join key ([[rankedStored]] recovers the true bin;
    * bin NUMBERS themselves can skip on oversized documents, so
    * position-is-bin would mis-bin gap-heavy corpora). The S4 BOM-sink
    * precedent for bespoke byte-level output, distributed:
    * `repartition(shard)` puts each shard wholly in one task,
    * `sortWithinPartitions` makes shards contiguous runs, and the task
    * streams frames straight to the filesystem through the staged
    * speculation-safe sink ([[writeTfrFilesStaged]]) — no shard's
    * bytes ever materialize in memory, no driver involvement. The file
    * set publishes under one [[graft.data.IndexManifest]] commit like
    * every other maintained artifact, with the coverage artifacts
    * every later [[appendTfRecordShards]] needs. A shard beyond
    * `maxBytesPerFile` ROLLS to a new file inside the same task;
    * every filename carries its FIRST record's rank (`-r<firstRank>`),
    * so recovery is unchanged across any roll boundary — TfRecordSpec
    * pins a tiny roll limit producing multiple files per shard with
    * the aggregate hash unchanged. */
  private[graft] def writeTfRecordShards(spark: SparkSession,
                                         srcPath: String,
                                         outPath: String,
                                         maxBytesPerFile: Long =
                                           256L * 1024 * 1024,
                                         srcVersion: Option[Long] = None): Unit = {
    graft.functions.TfRecordFunctions.register(spark)
    import graft.functions.TfRecordFunctions.tfrecord_frame
    require(maxBytesPerFile >= 1L, "maxBytesPerFile must be positive")
    val src = srcVersion
      .map(v => graft.data.IndexManifest.readDataAt(spark, srcPath, v))
      .getOrElse(graft.data.IndexManifest.readData(spark, srcPath))
    val rows = src
      .select(col("shard").cast("long").as("shard"),
        col("bin").cast("long").as("bin"),
        tfrecord_frame(col("token_ids")).as("framed"))
    val root = new org.apache.hadoop.fs.Path(outPath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(root)) fs.delete(root, true): Unit
    fs.mkdirs(root): Unit
    val added = writeTfrFilesStaged(rows, outPath, maxBytesPerFile)
    // the maintenance artifacts every later APPEND needs, both computed
    // from the READ-BACK of the landed bytes (what a future reader will
    // actually parse, the shard write's verification discipline):
    // "bins" = per-shard coverage (max bin at rest + exact counts),
    // "src" = the source manifest version this artifact is synced to.
    // Written UNCONDITIONALLY — an empty/zero-row build still carries
    // an empty bins table and its sync point, so appendTfRecordShards
    // never finds a maintained artifact missing its coverage contract
    // (the edge-stream pre-stats precedent)
    val srcV = srcVersion
      .orElse(graft.data.IndexManifest.load(spark, srcPath)
        .map(_.version)).getOrElse(-1L)
    val bins =
      if (added.isEmpty) emptyTfrBins(spark)
      else tfrBinsOf(spark, outPath, added, src)
    val art: Map[String, String] = Map(
      graft.data.IndexManifest.writeArtifact(spark, outPath, "bins", bins),
      graft.data.IndexManifest.writeArtifact(spark, outPath, "src",
        spark.range(1).select(lit(srcV).as("src_version"))))
    graft.data.IndexManifest.commit(spark, outPath,
      graft.data.IndexManifest.Snapshot.Empty,
      graft.data.IndexManifest.Delta(added, artifacts = art)): Unit
  }

  /** The "bins" coverage artifact's schema, zero rows — what an empty
    * build publishes so the append path's contract holds from day one. */
  private def emptyTfrBins(spark: SparkSession): org.apache.spark.sql.DataFrame =
    spark.range(0).select(col("id").as("shard"), col("id").as("max_bin"),
      col("id").as("n_records"), col("id").as("n_bytes"))

  /** The TFRecord byte sink, STAGED and speculation-safe: every task
    * attempt streams its frames into attempt-unique files under a
    * hidden `_staging/<job>` directory, and publishes by writing a
    * per-task `committed-<pid>` listing via EXCLUSIVE create (no
    * overwrite) — so of two speculative attempts of one task exactly
    * ONE listing wins, the loser's bytes are never referenced, and two
    * attempts can never interleave writes into one destination file.
    * The driver then moves exactly the committed files into the
    * partition layout and returns them — the added set known BY
    * CONSTRUCTION, the [[graft.data.IndexManifest.stageAppend]]
    * discipline for a bespoke byte format. Task-side filesystems come
    * from the SESSION's Hadoop configuration (serialized into the
    * closure), so session-set credentials/endpoints reach executors —
    * a bare `new Configuration()` would drop them on an object store.
    *
    * Records land in ascending (shard, bin) order and every filename
    * carries its first record's per-shard RANK (`-r<firstRank>` — the
    * record's index within its shard, offset by `rankBase` so append
    * jobs continue the build's numbering), so the read-back recovers
    * each record's rank as firstRank + position IN ANY corpus — rank
    * is contiguous BY DEFINITION, where the bin numbers themselves are
    * running token-offset divisions that SKIP whenever a document
    * overflows the bin capacity (position-is-bin recovery silently
    * mis-binned gap-heavy corpora, caught by the probe's
    * maintained-equals-from-scratch law at synthetic sf1). The true
    * bin is recovered by joining rank against the parquet side's
    * per-shard bin order — the index owns bin numbering; the wire file
    * owns bytes and order. A shard past `maxBytesPerFile` ROLLS to a
    * new file inside the same task. No shard's bytes ever materialize
    * in memory; no driver involvement in the byte path. */
  private def writeTfrFilesStaged(rows: org.apache.spark.sql.DataFrame,
                                  outPath: String,
                                  maxBytesPerFile: Long,
                                  rankBase: Map[Long, Long] = Map.empty): Seq[String] = {
    val spark = rows.sparkSession
    val serConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val root = new org.apache.hadoop.fs.Path(outPath)
    val fs = root.getFileSystem(serConf.value)
    val qRoot = fs.makeQualified(root)
    val stage = new org.apache.hadoop.fs.Path(qRoot,
      s"_staging/${java.util.UUID.randomUUID().toString.take(12)}")
    fs.mkdirs(stage): Unit
    val stageUri = stage.toUri.toString
    // written-record accumulator: the driver VERIFIES the byte sink's
    // output against it below — a job that silently wrote nothing (or
    // a filesystem that lost the files) must fail loudly, not surface
    // later as an inexplicable empty artifact
    val written = spark.sparkContext.longAccumulator("tfrecords_written")
    import spark.implicits._
    rows.repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("bin"))
      .select(col("shard"), col("bin"), col("framed"))
      .as[(Long, Long, Array[Byte])]
      .foreachPartition { it: Iterator[(Long, Long, Array[Byte])] =>
        val sp = new org.apache.hadoop.fs.Path(stageUri)
        val efs = sp.getFileSystem(serConf.value)
        val tid = org.apache.spark.TaskContext.get().partitionId()
        val attempt = java.util.UUID.randomUUID().toString.take(8)
        val names = scala.collection.mutable.ArrayBuffer.empty[String]
        var cur = Long.MinValue
        var shardRank = 0L
        var fileBytes = 0L
        var out: org.apache.hadoop.fs.FSDataOutputStream = null
        def open(shard: Long, firstRank: Long): Unit = {
          if (out != null) out.close()
          val dir = new org.apache.hadoop.fs.Path(sp, s"shard=$shard")
          efs.mkdirs(dir): Unit
          val name = f"part-$tid%05d-$attempt-r$firstRank.tfrecord"
          out = efs.create(new org.apache.hadoop.fs.Path(dir, name), true)
          names += s"shard=$shard/$name"
          fileBytes = 0L
        }
        it.foreach { case (s, _, bytes) =>
          if (s != cur) {
            // repartition(shard) puts a shard wholly in one task, so a
            // simple counter IS the shard's record rank in this job;
            // rankBase continues a maintained artifact's numbering
            shardRank = rankBase.getOrElse(s, 0L)
            open(s, shardRank); cur = s
          } else if (fileBytes > 0 && fileBytes + bytes.length > maxBytesPerFile) {
            open(s, shardRank) // roll: this record starts the next file
          }
          out.write(bytes)
          fileBytes += bytes.length
          shardRank += 1L
          written.add(1L)
        }
        if (out != null) out.close()
        // task commit: exclusive create — exactly one attempt's listing
        // per partition publishes; a losing twin's files stay unlisted
        // and die with the staging dir
        if (names.nonEmpty) {
          try {
            val c = efs.create(new org.apache.hadoop.fs.Path(sp,
              f"committed-$tid%05d"), false)
            try c.write(names.mkString("\n").getBytes("UTF-8"))
            finally c.close()
          } catch {
            case _: org.apache.hadoop.fs.FileAlreadyExistsException => ()
          }
        }
      }
    val added = scala.collection.mutable.ArrayBuffer.empty[String]
    fs.listStatus(stage).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith("committed-"))
      .foreach { st =>
        val in = fs.open(st.getPath)
        val rels =
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
          finally in.close()
        rels.filter(_.nonEmpty).foreach { rel =>
          val dst = new org.apache.hadoop.fs.Path(qRoot, rel)
          if (!fs.exists(dst.getParent)) fs.mkdirs(dst.getParent): Unit
          if (!fs.rename(new org.apache.hadoop.fs.Path(stage, rel), dst))
            throw new java.io.IOException(
              s"tfrecord staged move failed: $rel under $stage")
          added += rel
        }
      }
    fs.delete(stage, true): Unit
    if (written.value > 0 && added.isEmpty)
      throw new IllegalStateException(
        s"tfrecord sink wrote ${written.value} records but no task " +
          s"committed a listing under $outPath")
    added.toSeq.sorted
  }

  /** The per-shard record RANK of every stored sequence — the wire
    * files' position contract: the k-th record of a shard (in file
    * order, `-r<firstRank>` + offset) is the k-th smallest bin in the
    * index. Rank is contiguous by definition; the BIN numbers are not
    * (a document overflowing the bin capacity skips numbers). */
  private def rankedStored(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.withColumn("rank",
      row_number().over(Window.partitionBy(col("shard")).orderBy(col("bin")))
        .cast("long") - 1L)

  /** The raw records of a set of at-rest `.tfrecord` files: (shard,
    * rank = filename offset + position in file, framed bytes). */
  private def tfrRecordsOf(spark: SparkSession, outPath: String,
                           files: Seq[String]): org.apache.spark.sql.DataFrame = {
    graft.functions.TfRecordFunctions.register(spark)
    import graft.functions.TfRecordFunctions.tfrecord_split
    val root = new org.apache.hadoop.fs.Path(outPath)
    spark.read.format("binaryFile")
      .load(files.map(f => new org.apache.hadoop.fs.Path(root, f).toString): _*)
      .select(
        regexp_extract(col("path"), "shard=(\\d+)", 1).cast("long")
          .as("shard"),
        regexp_extract(col("path"), "-r(\\d+)\\.tfrecord", 1).cast("long")
          .as("r0"),
        posexplode(tfrecord_split(col("content"))).as(Seq("pos", "framed")))
      .select(col("shard"), (col("r0") + col("pos").cast("long")).as("rank"),
        col("framed"))
  }

  /** Per-shard coverage of a set of at-rest `.tfrecord` files: max bin,
    * record count, byte count — the "bins" artifact's unit of
    * increment, computed by READ-BACK of the landed bytes (so the
    * artifact can only describe what a reader will actually find) with
    * the bins recovered through the rank contract against the pinned
    * source rows. */
  private def tfrBinsOf(spark: SparkSession, outPath: String,
                        files: Seq[String],
                        stored: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    tfrRecordsOf(spark, outPath, files)
      .select(col("shard"), col("rank"),
        length(col("framed")).cast("long").as("nb"))
      .join(rankedStored(stored.select(col("shard").cast("long").as("shard"),
        col("bin").cast("long").as("bin"))), Seq("shard", "rank"), "left")
      .groupBy(col("shard"))
      .agg(max(col("bin")).as("max_bin"), count(lit(1)).as("n_records"),
        sum(col("nb")).as("n_bytes"))

  /** MAINTAIN the at-rest TFRecord artifact: roll the wire-format files
    * FORWARD to the source's current state by emitting continuation
    * files for only the bins not yet at rest — never a full re-export.
    * The [[appendTokenizedShards]] lifecycle, wire-format edition:
    *
    *   - The novelty screen is the stored "bins" artifact (per-shard
    *     max bin at rest, a broadcast of ≤ PackBuckets rows): stored
    *     bins are immutable training data, appends to the SOURCE only
    *     ever add continuation bins, so `bin > max_bin` is an exact
    *     screen.
    *   - The scan is bounded to the source files ADDED since the last
    *     sync (the "src" artifact pins the source manifest version the
    *     artifact reflects; the file delta against it is this append's
    *     input) whenever that version is still retained — O(batch)
    *     read; a vacuumed sync point falls back to one full source
    *     scan with the same bin screen as the correctness gate. The
    *     shard gate makes the delta path the STEADY STATE at its own
    *     defaults by pinning source retention ≥ 2 while a mirror is
    *     attached ([[graft.streaming.IndexStreams.shardIngestStream]]),
    *     so the fallback fires only on crash recovery or right after a
    *     source compaction (which replaces every file — one O(index)
    *     read in the same amortized class as the compaction itself).
    *     A delta that yields NO new bins still advances the sync point
    *     (artifact-only commit), so a post-compaction roll pays the
    *     full read once, never per batch. `tfrSourceFilesRead` counts
    *     the source files each roll opened — the spec's O(batch) pin.
    *   - Continuation files land through the same staged
    *     speculation-safe sink as the build, filenames carrying their
    *     first bin — a `tf.data.TFRecordDataset` over the manifest's
    *     files sees build and continuation files alike.
    *   - The "bins"/"src" artifacts increment from the READ-BACK of
    *     exactly the files that landed, and publish with them in ONE
    *     [[graft.data.IndexManifest.commit]] — a replay (source
    *     unchanged, or changed with no new bins) commits NOTHING. */
  /** Source data files opened by [[appendTfRecordShards]] rolls — the
    * instrumentation behind the mirror's O(batch)-scan spec: a gate
    * batch must read the files IT appended, never the growing index
    * (the `partitionDirListings` pattern, source-scan edition). */
  private[graft] val tfrSourceFilesRead =
    new java.util.concurrent.atomic.AtomicLong(0L)

  private[graft] def appendTfRecordShards(spark: SparkSession,
                                          srcPath: String,
                                          outPath: String,
                                          maxBytesPerFile: Long =
                                            256L * 1024 * 1024,
                                          retainVersions: Int = 2): Unit = {
    graft.functions.TfRecordFunctions.register(spark)
    import graft.functions.TfRecordFunctions.tfrecord_frame
    val outSnap = graft.data.IndexManifest.reconcileAppend(spark, outPath)
    if (!outSnap.artifacts.contains("src") ||
        !outSnap.artifacts.contains("bins")) {
      // a LEGACY artifact (built before the coverage contract, or by a
      // tool that dropped the artifacts): no sync point and no bin
      // coverage means no exact increment exists — rebuild ONCE with
      // the artifacts every later append needs, rather than dying in
      // readArtifact's legacy-directory fallback mid-gate
      writeTfRecordShards(spark, srcPath, outPath, maxBytesPerFile)
      return
    }
    val syncedV = outSnap.artifact(spark, "src").head().getLong(0)
    val srcSnap = graft.data.IndexManifest.load(spark, srcPath)
    val newRows: Option[org.apache.spark.sql.DataFrame] =
      (srcSnap, graft.data.IndexManifest.loadAt(spark, srcPath, syncedV)) match {
        case (Some(cur), Some(old)) =>
          val delta = cur.dataFiles.filterNot(old.dataFiles.toSet)
          if (delta.isEmpty) None // source unchanged: replay no-op
          else {
            tfrSourceFilesRead.addAndGet(delta.length.toLong): Unit
            Some(graft.data.IndexManifest.readFiles(spark, srcPath, delta))
          }
        case _ => // sync point vacuumed (or pre-manifest source): full
                  // scan; the bin screen below still makes this exact
          tfrSourceFilesRead.addAndGet(
            srcSnap.map(_.dataFiles.length.toLong).getOrElse(0L)): Unit
          Some(graft.data.IndexManifest.readData(spark, srcPath))
      }
    if (newRows.isEmpty) return
    // The "bins" coverage artifact feeds THREE consumers of this roll
    // (the novelty screen, the rank base, the increment merge) — read it
    // from disk ONCE into a bounded driver array (≤ PackBuckets rows)
    // instead of one readArtifact job per consumer; every downstream use
    // is a broadcast/local relation rebuilt from the same rows.
    import spark.implicits._
    val binsAtRest: Seq[(Long, Long, Long, Long)] = outSnap
      .artifact(spark, "bins")
      .select(col("shard"), col("max_bin"), col("n_records"), col("n_bytes"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val covered = binsAtRest.map { case (s, m, _, _) => (s, m) }
      .toDF("shard", "max_bin")
    val rows = newRows.get
      .select(col("shard").cast("long").as("shard"),
        col("bin").cast("long").as("bin"),
        tfrecord_frame(col("token_ids")).as("framed"))
      .join(broadcast(covered), Seq("shard"), "left")
      .where(col("bin") > coalesce(col("max_bin"), lit(-1L)))
      .select(col("shard"), col("bin"), col("framed"))
    // continuation files continue each shard's RANK numbering from the
    // records already at rest (the bins artifact's exact count) — a
    // bounded map, one row per shard
    val rankBase = binsAtRest.map { case (s, _, n, _) => s -> n }.toMap
    val added = writeTfrFilesStaged(rows, outPath, maxBytesPerFile, rankBase)
    if (added.isEmpty) {
      // every candidate bin already at rest — but the SOURCE advanced
      // (delta was non-empty), so advance the sync point with an
      // artifact-only commit: without it, a source compaction (which
      // replaces every file) would leave each subsequent roll re-reading
      // a delta equal to the whole index until a row-adding append
      // finally lands — O(index) scans per batch on the hot ingest path
      val curV = srcSnap.map(_.version).getOrElse(-1L)
      if (curV != syncedV) {
        graft.data.IndexManifest.commit(spark, outPath, outSnap,
          graft.data.IndexManifest.Delta(artifacts = Map(
            graft.data.IndexManifest.writeArtifact(spark, outPath, "src",
              spark.range(1).select(lit(curV).as("src_version"))))),
          retainVersions): Unit
      }
      return
    }
    val inc = tfrBinsOf(spark, outPath, added,
      graft.data.IndexManifest.readData(spark, srcPath))
    val prev = binsAtRest
      .toDF("shard", "max_bin", "n_records", "n_bytes")
    val merged = prev
      .join(inc.select(col("shard"), col("max_bin").as("__m"),
        col("n_records").as("__r"), col("n_bytes").as("__b")),
        Seq("shard"), "full")
      .select(col("shard"),
        greatest(coalesce(col("max_bin"), lit(-1L)),
          coalesce(col("__m"), lit(-1L))).as("max_bin"),
        (coalesce(col("n_records"), lit(0L)) +
          coalesce(col("__r"), lit(0L))).as("n_records"),
        (coalesce(col("n_bytes"), lit(0L)) +
          coalesce(col("__b"), lit(0L))).as("n_bytes"))
    val art = Map(
      graft.data.IndexManifest.writeArtifact(spark, outPath, "bins", merged),
      graft.data.IndexManifest.writeArtifact(spark, outPath, "src",
        spark.range(1).select(
          lit(srcSnap.map(_.version).getOrElse(-1L)).as("src_version"))))
    graft.data.IndexManifest.commit(spark, outPath, outSnap,
      graft.data.IndexManifest.Delta(added, artifacts = art),
      retainVersions): Unit
  }

  private val builtTfrFiles =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The FILE-level differential of [[shardTfrecord]] (the deliverable
    * is the file, not the proof of the file's arithmetic): the packed
    * shards land as real `.tfrecord` files ([[writeTfRecordShards]]),
    * the query re-reads the RAW FILE BYTES, splits the record stream
    * ([[graft.functions.TfRecordStreamSplit]] — lossless at the length
    * headers), re-derives both CRCs per record, joins each record back
    * to its stored parquet row by (shard, position=rank) to prove the
    * payload survived the disk roundtrip, and aggregates the same
    * (count, bytes, crc, roundtrip, xor) row the in-plan query emits —
    * so it shares that query's polynomial-SQL oracle VERBATIM: the
    * bytes on disk must hash-match what the oracle frames from the
    * text. Scale: one binaryFile scan of the artifact, map-only
    * split+parse in codegen, one broadcast-joinable parquet side, one
    * hash aggregate. */
  private def shardTfrecordFiles(spark: SparkSession, dir: String): DataFrame = {
    val src = packShardsPath(spark, dir)
    val tfr = builtTfrFiles.computeIfAbsent(dir, _ => {
      val p = new java.io.File(packRoot, "tfr_" +
        new java.io.File(dir).getName).getAbsolutePath
      writeTfRecordShards(spark, src, p)
      p
    })
    tfrFileAggregate(spark, src, tfr)
  }

  /** The shared file-level aggregate of an at-rest TFRecord artifact:
    * split the manifest-listed files' raw bytes into records, re-derive
    * both CRCs, join each record back to its stored parquet row by
    * (shard, rank) — rank = filename offset + position in file on the
    * byte side, per-shard bin order on the index side — to prove the
    * payload survived the disk roundtrip AND sits at its bin's position,
    * then fold the per-shard (count, bytes, crc, roundtrip, xor) row.
    *
    * Scale shape: everything heavy is MAP-SIDE. The byte side reduces
    * each record to (shard, rank, nb, crc_ok, md5(framed)) in the scan
    * projection; the index side RECOMPUTES the expected frame from its
    * token_ids in ITS scan projection (compiled `tfrecord_frame`) and
    * reduces to (shard, rank, md5(expected), h52(bin : expected hex))
    * before the rank window — so the window and the join move ~60-byte
    * digests, never frame bytes or token arrays. Byte equality is
    * md5-transitive: bytes == expected (digest match) AND expected
    * hashes to the oracle's from-the-text xor ⇒ the bytes at rest hash
    * to the oracle xor; a dropped, duplicated, reordered, or corrupted
    * record nulls its h52 AND fails rt_ok, so counts and xor BOTH
    * diverge loudly. File-layout independent — a build and any
    * build+append history can only agree or loudly differ. */
  private[graft] def tfrFileAggregate(spark: SparkSession, srcPath: String,
                                      tfrPath: String): DataFrame =
    tfrFileAggregateAt(spark, srcPath, None, tfrPath, None)

  /** [[tfrFileAggregate]] with optional VERSION PINS on both sides —
    * the time-travel form: the wire files come from the tfr manifest AT
    * `tfrV`, the expected frames from the shard table AT `srcV` (the
    * caller pairs them through the tfr side's own `src` artifact, the
    * discipline every asof serve follows: data files WITH the model
    * version they were built against). None = the current snapshot. */
  private[graft] def tfrFileAggregateAt(spark: SparkSession, srcPath: String,
                                        srcV: Option[Long], tfrPath: String,
                                        tfrV: Option[Long]): DataFrame = {
    graft.functions.TfRecordFunctions.register(spark)
    import graft.functions.TfRecordFunctions.{tfrecord_frame, tfrecord_parse}
    val srcData = srcV
      .map(v => graft.data.IndexManifest.readDataAt(spark, srcPath, v))
      .getOrElse(graft.data.IndexManifest.readData(spark, srcPath))
    val expected = srcData
      .select(col("shard").cast("long").as("shard"),
        col("bin").cast("long").as("bin"),
        tfrecord_frame(col("token_ids")).as("exp"))
      .select(col("shard"), col("bin"), md5(col("exp")).as("exp_md5"),
        conv(substring(md5(concat(col("bin").cast("string"), lit(":"),
          lower(hex(col("exp"))))), 1, 13), 16, 10).cast("long").as("h52"))
    val stored = rankedStored(expected)
    // MANIFEST-LISTED file read (no directory glob): exactly the files
    // the tfrecord artifact's commit (at the pinned version, when one
    // is given) published — the pinned-read discipline every
    // maintained artifact follows
    val tfrFiles = tfrV
      .map(v => graft.data.IndexManifest.loadAt(spark, tfrPath, v).get
        .dataFiles)
      .getOrElse(graft.data.IndexManifest.load(spark, tfrPath).get.dataFiles)
    val records = tfrRecordsOf(spark, tfrPath, tfrFiles)
      .withColumn("p", tfrecord_parse(col("framed")))
      .select(col("shard"), col("rank"),
        length(col("framed")).cast("long").as("nb"),
        (col("p.len_crc_ok") && col("p.data_crc_ok")).as("crc_ok"),
        md5(col("framed")).as("got_md5"))
    records.join(stored, Seq("shard", "rank"), "left")
      .select(col("shard"), col("nb"), col("crc_ok"),
        coalesce(col("got_md5") === col("exp_md5"), lit(false)).as("rt_ok"),
        when(col("got_md5") === col("exp_md5"), col("h52")).as("h52"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_records"), sum(col("nb")).as("n_bytes"),
        sum(when(col("crc_ok"), 1L).otherwise(0L)).as("n_crc_ok"),
        sum(when(col("rt_ok"), 1L).otherwise(0L)).as("n_roundtrip_ok"),
        expr("bit_xor(h52)").as("frame_xor"))
      .dumpOrdered("shard")
  }

  /** The shard-maintenance lifecycle's fixed ingest window — the
    * [[graft.DataQueries]] screen convention: the batch is the bounded
    * id slice [400, 500), the corpus is everything else, so the batch
    * stays one ingest increment while the corpus grows with the scale
    * factor. */
  private val PackSnapshotId = 400L
  private val PackBatchEnd = 500L

  private val builtPackAppends =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Maintained tokenized-shard lifecycle: corpus shards built once
    * (frozen vocabulary, manifest-published), the ingest batch appended
    * TWICE ([[appendTokenizedShards]] — the replay must pack nothing and
    * increment nothing), and the serve reads the STORED incrementally-
    * maintained manifest artifact. The oracle replays the incremental
    * semantics from the text: corpus bins by running token offset,
    * batch docs packed into CONTINUATION bins (per shard: max corpus
    * bin + 1 onward), checksums over the union — so the differential
    * proves the continuation-bin arithmetic, the frozen-vocab encode,
    * the novelty screen (double append == single append), and the
    * exact xor/count increments all at once. */
  private def packAppendPath(spark: SparkSession, dir: String): String =
    builtPackAppends.computeIfAbsent(dir, _ => {
      val p = new java.io.File(packRoot, "append_" +
        new java.io.File(dir).getName).getAbsolutePath
      writeTokenizedShards(spark, dir, p,
        docWhere = Some(col("doc_id") < PackSnapshotId ||
          col("doc_id") >= PackBatchEnd))
      val batch = Tables.documentsHot(spark, dir)
        .where(col("doc_id") >= PackSnapshotId &&
          col("doc_id") < PackBatchEnd)
      appendTokenizedShards(spark, dir, batch, p)
      appendTokenizedShards(spark, dir, batch, p) // replay: a no-op
      p
    })

  private def packTokenizedAppend(spark: SparkSession, dir: String): DataFrame =
    readShardManifest(spark, packAppendPath(spark, dir)).dumpOrdered("shard")

  private val builtTfrAppends =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Maintained TFRecord lifecycle differential: the wire-format files
    * are BUILT from the pre-append source snapshot (time-travel pin),
    * rolled FORWARD by [[appendTfRecordShards]] to cover the batch's
    * continuation bins (new `.tfrecord` files only — stored files
    * untouched), the append replayed (must commit nothing), and the
    * file-level aggregate emitted — which the oracle replays from the
    * text through the incremental continuation-bin semantics AND which
    * must equal a from-scratch full export byte-for-byte in the xor
    * (the aggregate is file-layout independent), the law TfRecordSpec
    * pins directly. */
  private def shardTfrecordAppend(spark: SparkSession, dir: String): DataFrame = {
    val src = packAppendPath(spark, dir)
    val tfr = builtTfrAppends.computeIfAbsent(dir, _ => {
      val p = new java.io.File(packRoot, "tfra_" +
        new java.io.File(dir).getName).getAbsolutePath
      // build pinned to the PRE-append source version (the corpus
      // snapshot — oldest retained; the batch append is the newest)
      val v1 = graft.data.IndexManifest.versions(spark, src).head
      writeTfRecordShards(spark, src, p, srcVersion = Some(v1))
      appendTfRecordShards(spark, src, p) // roll forward to the batch
      val v = graft.data.IndexManifest.load(spark, p).get.version
      appendTfRecordShards(spark, src, p) // replay: a no-op
      require(graft.data.IndexManifest.load(spark, p).get.version == v,
        "a replayed tfrecord append must commit nothing")
      p
    })
    tfrFileAggregate(spark, src, tfr)
  }

  /** The MAINTAINED-PIPELINE composite — the production shape end to
    * end, as ONE lineage through manifests: curation fate gate →
    * survivor prune → tokenized shards → TFRecord wire mirror, where
    * every hop reads a PINNED upstream version and records that pin in
    * its own commit, so a crash or concurrent upstream advance at ANY
    * point leaves each downstream artifact exactly consistent with the
    * version it recorded — never a half-read of a moving upstream.
    *
    *   1. FATE: the nine-signal verdict table
    *      ([[graft.DataQueries.fateTable]]) commits as its own
    *      manifest-published table (fate is corpus-global — sources,
    *      near-dup components — so the hop is a superseding snapshot,
    *      vacuumed to a 2-version horizon like any recurring mutation).
    *   2. PRUNE: survivors (`fate = 'kept'`) of the PINNED fate version
    *      join back to the corpus text; the commit carries a `lineage`
    *      artifact naming the fate version it read.
    *   3. SHARDS: the pinned pruned corpus packs under the FROZEN
    *      vocabulary through [[appendTokenizedShards]] — the novelty
    *      screen makes a re-run incremental (only newly-kept docs
    *      pack), and an artifact-only commit records the corpus pin.
    *   4. MIRROR: the wire-format files roll forward
    *      ([[appendTfRecordShards]]); their `src` artifact IS the
    *      shard-version pin.
    *
    * Re-running the chain is the RESUME path: each hop supersedes or
    * increments idempotently, so a crash between any two hops is
    * repaired by the next run (PipelineSpec crashes mid-chain and pins
    * the consistency law). `vocabDir` stays fixed across runs — the
    * frozen-vocab contract every maintained shard artifact has.
    *
    * Scale: each hop is the already-audited operator it delegates to
    * (fate's linear component joins, the broadcast novelty screens,
    * the staged byte sink); the chain adds only bounded lineage
    * artifacts and manifest commits on top. */
  private[graft] def pipelineLineage(spark: SparkSession, srcDir: String,
                                     base: String,
                                     vocabDir: Option[String] = None,
                                     through: Int = 4,
                                     retainVersions: Int = 2): Unit = {
    import graft.data.IndexManifest
    import graft.data.IndexManifest.{Delta, Snapshot}
    // a superseding snapshot of a derived table: the staged rows replace
    // every file of the current version
    def supersede(p: String, rows: DataFrame,
                  artifacts: Map[String, String]): Unit = {
      val base = IndexManifest.load(spark, p).getOrElse(Snapshot.Empty)
      IndexManifest.commit(spark, p, base,
        Delta(IndexManifest.stageAppend(rows, p, "part"), base.dataFiles,
          artifacts), retainVersions): Unit
    }
    val vDir = vocabDir.getOrElse(srcDir)
    val fateP = s"$base/fate"
    val corpusP = s"$base/corpus"
    val shardsP = s"$base/shards"
    val tfrP = s"$base/tfr"
    // hop 1 — fate gate (superseding snapshot of the verdict table)
    val fate = graft.DataQueries.fateTable(spark, srcDir)
      .select(col("doc_id"), col("fate"))
      .withColumn("part", pmod(col("doc_id"), lit(8L)))
    supersede(fateP, fate, Map.empty)
    if (through < 2) return
    // hop 2 — survivor prune, pinned to the fate version just read
    val fateV = IndexManifest.load(spark, fateP).get.version
    val kept = IndexManifest.readDataAt(spark, fateP, fateV)
      .where(col("fate") === lit("kept")).select(col("doc_id"))
    val pruned = Tables.documentsHot(spark, srcDir)
      .join(kept, Seq("doc_id"))
      .select(col("doc_id"), col("text"))
      .withColumn("part", pmod(col("doc_id"), lit(8L)))
    supersede(corpusP, pruned, Map(
      IndexManifest.writeArtifact(spark, corpusP, "lineage",
        spark.range(1).select(lit(fateV).as("upstream_version")))))
    if (through < 3) return
    // hop 3 — tokenized shards from the pinned pruned corpus (frozen
    // vocabulary; incremental on re-run via the novelty screen)
    val corpusV = IndexManifest.load(spark, corpusP).get.version
    val batch = IndexManifest.readDataAt(spark, corpusP, corpusV)
      .select(col("doc_id"), col("text"))
    appendTokenizedShards(spark, vDir, batch, shardsP,
      retainVersions = retainVersions)
    IndexManifest.commit(spark, shardsP, IndexManifest.load(spark, shardsP).get,
      Delta(artifacts = Map(
        IndexManifest.writeArtifact(spark, shardsP, "lineage",
          spark.range(1).select(lit(corpusV).as("upstream_version"))))),
      retainVersions): Unit
    if (through < 4) return
    // hop 4 — the wire mirror rolled to the shard state it just pinned
    if (IndexManifest.load(spark, tfrP).isEmpty)
      writeTfRecordShards(spark, shardsP, tfrP)
    else
      appendTfRecordShards(spark, shardsP, tfrP,
        retainVersions = retainVersions)
  }

  private val builtPipelines =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The pipeline composite's differential: run the whole maintained
    * chain, then aggregate the FINAL wire-format files at rest back
    * through the (shard, rank) roundtrip proof — the oracle recomputes
    * the same rows from the raw text in one SQL chain (fate CTEs →
    * kept set → frozen-vocab encode → packing → TFRecord framing), so
    * a divergence ANYWHERE in the four hops surfaces as a count or
    * xor mismatch. */
  private def pipelineE2e(spark: SparkSession, dir: String): DataFrame = {
    val base = builtPipelines.computeIfAbsent(dir, _ => {
      val p = new java.io.File(packRoot, "pipe_" +
        new java.io.File(dir).getName).getAbsolutePath
      pipelineLineage(spark, dir, p)
      p
    })
    tfrFileAggregate(spark, s"$base/shards", s"$base/tfr")
  }

  /** Corpus-A bound for the lineage time-travel fixture — wider than
    * the [400,500) ingest-window convention because the fate gate's
    * corpus-global fluency bar collapses the kept set nonlinearly on a
    * shrunken corpus (bigram counts scale with corpus size); a 460-doc
    * slice keeps enough docs for a multi-shard pinned differential
    * while run 2's extra 40 still advance every hop. */
  private val PipeAsofSliceEnd = 460L

  private val builtPipelineAsof =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** TIME TRAVEL across the whole lineage: the four-hop chain runs
    * once over corpus A (the `doc_id < 460` slice, materialized as its
    * own table dir so every corpus-global fate signal computes over
    * exactly that slice), then again over the FULL corpus — fate,
    * corpus, shards and mirror all advance — and the serve reads the
    * MIRROR at its first version, paired with the shard version that
    * pinned mirror's own `src` artifact names (never "the latest
    * shards": artifact pairing is what makes a time-travel serve
    * sound — the wire bytes must be checked against the exact table
    * state they were framed from). The vocabulary is the full dir's
    * on BOTH runs (the frozen-vocab contract), so the oracle replays
    * the chain with only the FATE side restricted to the slice.
    *
    * Scale: the serve is [[tfrFileAggregateAt]] — the same
    * manifest-listed binaryFile scan + digest-reduced join as the
    * current-version serve, just over the pinned file list; retention
    * (4 here) bounds how far back a pin stays readable, exactly like
    * every other maintained family's asof. */
  private def pipelineAsofBase(spark: SparkSession, dir: String): String =
    builtPipelineAsof.computeIfAbsent(dir, _ => {
      val base = new java.io.File(packRoot, "pipeasof_" +
        new java.io.File(dir).getName).getAbsolutePath
      val dirA = s"$base/corpusA"
      Tables.documents(spark, dir)
        .where(col("doc_id") < PipeAsofSliceEnd)
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$dirA/documents.parquet")
      // run 1 over the slice, run 2 over the full corpus — retention 4
      // keeps run 1's shard version readable through run 2's two
      // shard-side commits (append + lineage-pin)
      pipelineLineage(spark, dirA, base, vocabDir = Some(dir),
        retainVersions = 4)
      pipelineLineage(spark, dir, base, vocabDir = Some(dir),
        retainVersions = 4)
      base
    })

  private def pipelineAsof(spark: SparkSession, dir: String): DataFrame = {
    import graft.data.IndexManifest
    val base = pipelineAsofBase(spark, dir)
    val tfrP = s"$base/tfr"
    val tfrV1 = IndexManifest.versions(spark, tfrP).min
    val srcPin = IndexManifest.loadAt(spark, tfrP, tfrV1).get
      .artifact(spark, "src").head().getLong(0)
    tfrFileAggregateAt(spark, s"$base/shards", Some(srcPin), tfrP,
      Some(tfrV1))
  }

  /** Oracle of [[pipelineAsof]]: the same full-chain replay as
    * [[duckPipelineSql]], with every FATE-side read restricted to the
    * corpus-A slice (a `docs0` CTE; the blunt textual rewrite is sound
    * because the fate CTE block reads no other relation) while the
    * vocabulary CTEs keep reading the full `documents` — the
    * frozen-vocab contract both chain runs honored. */
  private lazy val duckPipelineAsofSql: String =
    duckShardTfrecordSqlOver(
      s"""p AS (
         |  SELECT doc_id, toks, n_tok, bucket,
         |    CAST(COALESCE(sum(n_tok) OVER (PARTITION BY bucket
         |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND 1 PRECEDING), 0) AS BIGINT) // $PackBin AS bin
         |  FROM d),
         |sq AS (
         |  SELECT bucket, bin,
         |    flatten(list(toks ORDER BY doc_id)) AS token_ids
         |  FROM p GROUP BY bucket, bin)""".stripMargin,
      docsRel = "keptdocs",
      prefixCtes =
        s"""docs0 AS (
           |  SELECT * FROM documents WHERE doc_id < $PipeAsofSliceEnd),
           |${graft.DataQueries.duckFateCtes
                .replace(" FROM documents", " FROM docs0")},
           |keptdocs AS (
           |  SELECT d.doc_id, d.text
           |  FROM docs0 d JOIN fatet f USING (doc_id)
           |  WHERE f.fate = 'kept')""".stripMargin)

  /** Oracle of [[pipelineE2e]]: the fate chain's CTEs feed a `kept`
    * relation; the tfrecord framing oracle runs its encode over it
    * (vocabulary still trained on the full corpus — frozen vocab). */
  private lazy val duckPipelineSql: String =
    duckShardTfrecordSqlOver(
      s"""p AS (
         |  SELECT doc_id, toks, n_tok, bucket,
         |    CAST(COALESCE(sum(n_tok) OVER (PARTITION BY bucket
         |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND 1 PRECEDING), 0) AS BIGINT) // $PackBin AS bin
         |  FROM d),
         |sq AS (
         |  SELECT bucket, bin,
         |    flatten(list(toks ORDER BY doc_id)) AS token_ids
         |  FROM p GROUP BY bucket, bin)""".stripMargin,
      docsRel = "keptdocs",
      prefixCtes =
        s"""${graft.DataQueries.duckFateCtes},
           |keptdocs AS (
           |  SELECT d.doc_id, d.text
           |  FROM documents d JOIN fatet f USING (doc_id)
           |  WHERE f.fate = 'kept')""".stripMargin)

  /** Round-k oracle CTE block: pair counts over w{k-1}, the argmax
    * t{k}, and w{k} = the merge applied POSITIONALLY — matches at i where
    * (syms[i], syms[i+1]) = (a, b), keeping alternate positions within
    * equal-symbol runs (the only place consecutive matches can occur),
    * which is provably the same result as the Spark side's left-to-right
    * fold. */
  private def bpeRoundCtes(k: Int): String = {
    val prev = s"w${k - 1}"
    s"""p$k AS (
       |  SELECT syms[i] AS a, syms[i + 1] AS b,
       |         CAST(sum(freq) AS BIGINT) AS cnt
       |  FROM (SELECT freq, syms, unnest(range(1, len(syms))) AS i
       |        FROM $prev) z
       |  GROUP BY 1, 2),
       |t$k AS (SELECT a, b, cnt FROM p$k ORDER BY cnt DESC, a, b LIMIT 1),
       |w$k AS (
       |  SELECT word, freq,
       |    list_transform(
       |      list_filter(range(1, len(syms) + 1),
       |                  i -> NOT list_contains(mp, i - 1)),
       |      i -> CASE WHEN list_contains(mp, i) THEN syms[i] || syms[i + 1]
       |                ELSE syms[i] END) AS syms
       |  FROM (
       |    SELECT word, freq, syms,
       |      list_filter(range(1, len(syms)), i ->
       |        syms[i] = a AND syms[i + 1] = b AND
       |        (i - list_max(list_filter(range(1, i + 1), j ->
       |           j = 1 OR NOT (syms[j - 1] = a AND syms[j] = b)))) % 2 = 0)
       |        AS mp
       |    FROM $prev LEFT JOIN t$k ON TRUE) z)""".stripMargin
    // LEFT JOIN ON TRUE, not a comma cross join: an EXHAUSTED round
    // (t_k empty — no adjacent pairs left) must keep the word table
    // unchanged (NULL a/b fails every match predicate → mp empty), the
    // same no-op the Spark loop's top.isEmpty guard takes; a cross join
    // would wipe w_k and every later round.
  }

  /** Shared oracle prefix: word-frequency table, char symbols, and all
    * [[BpeTrainRounds]] unrolled training rounds. */
  private def bpeTrainCtes: String =
    (s"""wd AS (
        |  SELECT word, count(*) AS freq
        |  FROM (SELECT unnest($duckWords) AS word FROM documents) z
        |  GROUP BY word),
        |w0 AS (
        |  SELECT word, freq,
        |    list_transform(range(1, length(word) + 1),
        |                   i -> substr(word, CAST(i AS INTEGER), 1)) AS syms
        |  FROM wd)""".stripMargin +:
      (1 to BpeTrainRounds).map(bpeRoundCtes)).mkString(",\n")

  /** The PRETOKENIZED twin of [[bpeTrainCtes]]: pretoken frequencies from
    * the SAME regex split ([[TextAnalysis.BpePretokPattern]], doubled
    * apostrophe for the SQL literal) plus one appended special token per
    * document, the special kept atomic in w0, then the identical unrolled
    * rounds — [[bpeRoundCtes]] is reused verbatim, so the two trainers
    * can only diverge in the pretokenization under test. */
  private def bpePretokCtes: String = {
    val pat = TextAnalysis.BpePretokPattern.replace("'", "''")
    (s"""wd AS (
        |  SELECT word, count(*) AS freq
        |  FROM (SELECT unnest(list_append(
        |          regexp_extract_all(lower(text), '$pat', 0),
        |          '$BpeSpecialToken')) AS word
        |        FROM documents) z
        |  GROUP BY word),
        |w0 AS (
        |  SELECT word, freq,
        |    CASE WHEN word = '$BpeSpecialToken' THEN [word]
        |         ELSE list_transform(range(1, length(word) + 1),
        |                i -> substr(word, CAST(i AS INTEGER), 1)) END AS syms
        |  FROM wd)""".stripMargin +:
      (1 to BpeTrainRounds).map(bpeRoundCtes)).mkString(",\n")
  }

  /** The BYTE-LEVEL twin of [[bpePretokCtes]]: same pretoken frequencies
    * and special-token reservation, but w0's symbols are the UTF-8
    * bytes of each pretoken mapped through the [[TextAnalysis.ByteUnicode]]
    * table — replayed portably as 2-char slices of `hex(encode(word))`
    * (uppercase on both engines) indexed into the same 256-entry list
    * literal. [[bpeRoundCtes]] reused verbatim: the trainers can only
    * diverge in the base alphabet under test. */
  /** The portable byte→symbol expression over a word column `w`. */
  private def duckByteSyms(w: String): String = {
    val bu = TextAnalysis.ByteUnicode
      .map(s => "'" + s.replace("'", "''") + "'")
      .mkString("[", ", ", "]")
    s"""list_transform(range(0, octet_length(encode($w))),
       |           i -> ($bu)[(strpos('0123456789ABCDEF',
       |                     substr(hex(encode($w)),
       |                            CAST(2 * i + 1 AS BIGINT), 1)) - 1) * 16
       |                  + strpos('0123456789ABCDEF',
       |                     substr(hex(encode($w)),
       |                            CAST(2 * i + 2 AS BIGINT), 1))])""".stripMargin
  }

  private def bpeBytesCtes: String = bpeBytesCtesWhere("")

  private def bpeBytesCtesWhere(where: String): String = {
    val pat = TextAnalysis.BpePretokPattern.replace("'", "''")
    val bu = TextAnalysis.ByteUnicode
      .map(s => "'" + s.replace("'", "''") + "'")
      .mkString("[", ", ", "]")
    (s"""wd AS (
        |  SELECT word, count(*) AS freq
        |  FROM (SELECT unnest(list_append(
        |          regexp_extract_all(lower(text), '$pat', 0),
        |          '$BpeSpecialToken')) AS word
        |        FROM documents $where) z
        |  GROUP BY word),
        |bu AS (SELECT $bu AS t),
        |w0 AS (
        |  SELECT word, freq,
        |    CASE WHEN word = '$BpeSpecialToken' THEN [word]
        |         ELSE list_transform(range(0, octet_length(encode(word))),
        |           i -> t[(strpos('0123456789ABCDEF',
        |                     substr(hex(encode(word)),
        |                            CAST(2 * i + 1 AS BIGINT), 1)) - 1) * 16
        |                  + strpos('0123456789ABCDEF',
        |                     substr(hex(encode(word)),
        |                            CAST(2 * i + 2 AS BIGINT), 1))]) END
        |      AS syms
        |  FROM wd CROSS JOIN bu)""".stripMargin +:
      (1 to BpeTrainRounds).map(bpeRoundCtes)).mkString(",\n")
  }

  /** DuckDB twin of [[h52Of]] (the [[shardManifest]] hex-prefix trick). */
  private def duckH52(wpos: String, syms: String): String =
    s"""CAST(list_sum(list_transform(range(1, 14), i ->
       |      (strpos('0123456789abcdef',
       |         substr(md5(CAST($wpos AS VARCHAR) || ':' ||
       |                    array_to_string($syms, '|')), i, 1)) - 1)
       |      * 16 ** (13 - i))) AS BIGINT)""".stripMargin

  /** Positional replay of learned merge t`k` over symbol table `prev`
    * (the APPLY half of [[bpeRoundCtes]] — no counting, no freq — for
    * encoding words the trainer never saw). */
  private def bpeApplyCte(k: Int, prev: String, out: String): String =
    s"""$out AS (
       |  SELECT word,
       |    list_transform(
       |      list_filter(range(1, len(syms) + 1),
       |                  i -> NOT list_contains(mp, i - 1)),
       |      i -> CASE WHEN list_contains(mp, i) THEN syms[i] || syms[i + 1]
       |                ELSE syms[i] END) AS syms
       |  FROM (
       |    SELECT word, syms,
       |      list_filter(range(1, len(syms)), i ->
       |        syms[i] = a AND syms[i + 1] = b AND
       |        (i - list_max(list_filter(range(1, i + 1), j ->
       |           j = 1 OR NOT (syms[j - 1] = a AND syms[j] = b)))) % 2 = 0)
       |        AS mp
       |    FROM $prev LEFT JOIN t$k ON TRUE) z)""".stripMargin

  // -- CUBE stats -------------------------------------------------------

  /** Corpus stats by CUBE(lang, source): all four grouping sets in ONE
    * aggregate (Expand + partial+final HashAggregate — one shuffle for
    * every margin, including the (·, source) cross-margin ROLLUP cannot
    * produce). Same `grouping_id()` disambiguation contract as
    * `data_rollup_stats`. */
  private def cubeStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tok"))
      .cube(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tokens"),
        grouping_id().cast("long").as("gid"))
      .dumpOrderedTail("gid", "lang", "source")

  def defs: Seq[(String, Q)] = Seq(

    "data_split_assign" -> Q(splitAssign, Some(
      s"""WITH b AS (
         |  SELECT doc_id, source,
         |    ${duckBucket("'split|' || CAST(doc_id AS VARCHAR)", SplitBuckets)}
         |      AS split_bucket
         |  FROM documents)
         |SELECT doc_id, source, split_bucket,
         |  CASE WHEN split_bucket < $TrainCut THEN 'train'
         |       WHEN split_bucket < $ValCut THEN 'val'
         |       ELSE 'test' END AS split
         |FROM b ORDER BY doc_id""".stripMargin)),

    "data_split_by_component" -> Q(splitByComponent, Some(
      s"""WITH RECURSIVE
         |${DataQueries.duckPairsCc},
         |lab AS (
         |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
         |  FROM documents d LEFT JOIN comp c USING (doc_id)),
         |bkt AS (
         |  SELECT doc_id, component,
         |    ${duckBucket("'split|' || CAST(doc_id AS VARCHAR)", SplitBuckets)}
         |      AS nb,
         |    ${duckBucket("'split|' || CAST(component AS VARCHAR)",
                           SplitBuckets)} AS sb
         |  FROM lab),
         |sp AS (
         |  SELECT doc_id, component,
         |    CASE WHEN nb < $TrainCut THEN 'train'
         |         WHEN nb < $ValCut THEN 'val' ELSE 'test' END AS naive_split,
         |    CASE WHEN sb < $TrainCut THEN 'train'
         |         WHEN sb < $ValCut THEN 'val' ELSE 'test' END AS safe_split
         |  FROM bkt)
         |SELECT doc_id, component, naive_split, safe_split,
         |  naive_split <> safe_split AS is_regrouped
         |FROM sp ORDER BY doc_id""".stripMargin)),

    "data_epoch_shuffle" -> Q(epochShuffle, Some(
      s"""WITH e AS (
         |  SELECT doc_id,
         |    CAST(unnest(range(0, $NEpochs)) AS BIGINT) AS epoch
         |  FROM documents),
         |h AS (
         |  SELECT doc_id, epoch, doc_id % $NShards AS shard,
         |    md5(CAST(epoch AS VARCHAR) || '|' || CAST(doc_id AS VARCHAR))
         |      AS h
         |  FROM e)
         |SELECT doc_id, epoch, shard,
         |  CAST(row_number() OVER (PARTITION BY epoch, shard
         |    ORDER BY h, doc_id) AS BIGINT) AS pos
         |FROM h ORDER BY epoch, doc_id""".stripMargin)),

    "data_unigram_segment" -> Q(unigramSegment, Some(duckUnigramSql)),

    "data_unigram_encode" -> Q(unigramEncode, Some(duckUnigramEncodeSql)),

    "data_unigram_em" -> Q(unigramEm, Some(duckUnigramEmSql)),

    "data_unigram_em3" -> Q(unigramEmK, Some(duckUnigramEm3Sql)),

    "data_curriculum_plan" -> Q(curriculumPlan, Some(
      s"""WITH d AS (
         |  SELECT doc_id, CAST(len($duckWords) AS BIGINT) AS n_tok
         |  FROM documents),
         |cum AS (
         |  SELECT n_tok, sum(c) OVER (ORDER BY n_tok
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM (SELECT n_tok, count(*) AS c FROM d GROUP BY n_tok) h),
         |b AS (
         |  SELECT min(CASE WHEN cum * 3 >= n THEN n_tok END) AS b1,
         |         min(CASE WHEN cum * 3 >= n * 2 THEN n_tok END) AS b2
         |  FROM cum CROSS JOIN (SELECT count(*) AS n FROM d) n),
         |s AS (
         |  SELECT doc_id, n_tok,
         |    CASE WHEN n_tok <= b1 THEN 0
         |         WHEN n_tok <= b2 THEN 1 ELSE 2 END AS stage,
         |    doc_id % $NShards AS shard,
         |    md5('curr|' || CAST(doc_id AS VARCHAR)) AS h
         |  FROM d CROSS JOIN b)
         |SELECT doc_id, n_tok, CAST(stage AS BIGINT) AS stage, shard,
         |  CAST(row_number() OVER (PARTITION BY stage, shard
         |    ORDER BY h, doc_id) AS BIGINT) AS pos
         |FROM s ORDER BY doc_id""".stripMargin)),

    "data_classifier_pr" -> Q(classifierPr, Some(
      s"""WITH t AS (
         |  SELECT doc_id, text, $duckWords AS w FROM documents),
         |f AS (
         |  SELECT doc_id,
         |    CAST(len(w) AS BIGINT) AS n_words,
         |    CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
         |      / CAST(len(w) AS DOUBLE) AS mean_word_len,
         |    CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS DOUBLE)
         |      / CAST(len(w) AS DOUBLE) AS symbol_ratio,
         |    CAST(len(list_filter(w, x -> regexp_matches(x, '(?i)[a-z]')))
         |         AS DOUBLE) / CAST(len(w) AS DOUBLE) AS alpha_frac,
         |    CAST(len(list_filter(w, x ->
         |      list_contains(['the','a','of','and','to'], lower(x)))) AS BIGINT)
         |      AS n_stopwords
         |  FROM t),
         |gp AS (
         |  SELECT doc_id,
         |    n_words >= 50 AND n_words <= 100000
         |      AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
         |      AND symbol_ratio <= 0.1 AND alpha_frac >= 0.8
         |      AND n_stopwords >= 2 AS label
         |  FROM f),
         |clf AS (
         |  SELECT doc_id,
         |    CAST(CAST(list_sum(list_transform(w, tok ->
         |      (CAST(list_sum(list_transform(range(1, 5), i ->
         |         (strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1)
         |           * 16 ** (4 - i))) AS BIGINT) % 64) % 7 - 3))
         |      AS BIGINT) AS DOUBLE) / CAST(len(w) AS DOUBLE) AS score
         |  FROM t),
         |x AS (
         |  SELECT c.score, g.label,
         |    unnest(CAST([${Taus.mkString(", ")}] AS DOUBLE[])) AS tau
         |  FROM clf c JOIN gp g USING (doc_id)),
         |a AS (
         |  SELECT tau,
         |    count(CASE WHEN score > tau AND label THEN 1 END) AS tp,
         |    count(CASE WHEN score > tau AND NOT label THEN 1 END) AS fp,
         |    count(CASE WHEN score <= tau AND label THEN 1 END) AS fn
         |  FROM x GROUP BY tau)
         |SELECT tau, tp, fp, fn,
         |  CASE WHEN tp + fp > 0
         |       THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS prec,
         |  CASE WHEN tp + fn > 0
         |       THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS rec
         |FROM a ORDER BY tau""".stripMargin)),

    "data_shard_manifest" -> Q(shardManifest, Some(
      s"""WITH d AS (
         |  SELECT
         |    (CAST(list_sum(list_transform(range(1, 5), i ->
         |       (strpos('0123456789abcdef',
         |          substr(md5('shard|' || CAST(doc_id AS VARCHAR)), i, 1)) - 1)
         |       * 16 ** (4 - i))) AS BIGINT) % $ManifestShards) AS shard,
         |    CAST(len($duckWords) AS BIGINT) AS n_tok,
         |    md5(text) AS ch,
         |    CAST(list_sum(list_transform(range(1, 14), i ->
         |      (strpos('0123456789abcdef', substr(md5(text), i, 1)) - 1)
         |      * 16 ** (13 - i))) AS BIGINT) AS h52
         |  FROM documents)
         |SELECT shard, count(*) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
         |  CAST(bit_xor(h52) AS BIGINT) AS xor_checksum,
         |  min(ch) AS min_hash, max(ch) AS max_hash
         |FROM d GROUP BY shard ORDER BY shard""".stripMargin)),

    "data_bpe_encode" -> Q(bpeEncode, Some(
      s"""WITH RECURSIVE t AS (
         |  SELECT doc_id, $duckWords AS w FROM documents),
         |v AS (
         |  SELECT g AS token FROM (
         |    SELECT g, count(*) AS cnt FROM (
         |      SELECT substr(word, CAST(p AS INTEGER), CAST(n AS INTEGER)) AS g
         |      FROM (SELECT unnest($duckWords) AS word FROM documents) x,
         |           (SELECT unnest(range(2, 5)) AS n) nn,
         |           LATERAL (SELECT unnest(range(1, length(word) - n + 2))
         |                    AS p) pp) z
         |    GROUP BY g ORDER BY cnt DESC, g LIMIT $BpeVocabK) y),
         |w2 AS (
         |  SELECT doc_id, wpos, w[wpos + 1] AS word FROM (
         |    SELECT doc_id, unnest(range(0, len(w))) AS wpos, w FROM t) z),
         |step(doc_id, wpos, rest, toks) AS (
         |  SELECT doc_id, wpos, word, CAST([] AS VARCHAR[]) FROM w2
         |  UNION ALL
         |  SELECT doc_id, wpos, substr(rest, length(tok) + 1),
         |         list_append(toks, tok)
         |  FROM (
         |    SELECT s.doc_id, s.wpos, s.rest, s.toks,
         |      COALESCE(
         |        (SELECT token FROM v WHERE starts_with(s.rest, token)
         |         ORDER BY length(token) DESC, token LIMIT 1),
         |        substr(s.rest, 1, 1)) AS tok
         |    FROM step s WHERE s.rest <> '') z),
         |done AS (SELECT doc_id, wpos, toks FROM step WHERE rest = '')
         |SELECT doc_id, count(*) AS n_words,
         |  CAST(sum(len(toks)) AS BIGINT) AS n_subtokens,
         |  CAST(sum(len(toks)) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |    AS subtok_per_word,
         |  string_agg(array_to_string(toks, '|'), ' ' ORDER BY wpos)
         |    AS encoded
         |FROM done GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    "data_bpe_train" -> Q(bpeTrain, Some(
      s"""WITH $bpeTrainCtes
         |SELECT * FROM (
         |${(1 to BpeTrainRounds).map(k =>
             s"  SELECT CAST($k AS BIGINT) AS step, a AS lhs, b AS rhs, " +
               s"a || b AS merged, cnt AS pair_count FROM t$k")
             .mkString("\n  UNION ALL\n")}
         |) u ORDER BY step""".stripMargin)),

    "data_bpe_pretok" -> Q(bpePretok, Some(
      s"""WITH $bpePretokCtes
         |SELECT * FROM (
         |${(1 to BpeTrainRounds).map(k =>
             s"  SELECT CAST($k AS BIGINT) AS step, a AS lhs, b AS rhs, " +
               s"a || b AS merged, cnt AS pair_count FROM t$k")
             .mkString("\n  UNION ALL\n")}
         |) u ORDER BY step""".stripMargin)),

    "data_bpe_bytes" -> Q(bpeBytes, Some(
      s"""WITH $bpeBytesCtes
         |SELECT * FROM (
         |${(1 to BpeTrainRounds).map(k =>
             s"  SELECT CAST($k AS BIGINT) AS step, a AS lhs, b AS rhs, " +
               s"a || b AS merged, cnt AS pair_count FROM t$k")
             .mkString("\n  UNION ALL\n")}
         |) u ORDER BY step""".stripMargin)),

    "data_bpe_train_encode" -> Q(bpeTrainEncode, Some(
      s"""WITH $bpeTrainCtes,
         |wp AS (
         |  SELECT doc_id, unnest(range(0, len(w))) AS wpos, w
         |  FROM (SELECT doc_id, $duckWords AS w FROM documents) q),
         |ww AS (SELECT doc_id, wpos, w[wpos + 1] AS word FROM wp),
         |j AS (
         |  SELECT ww.doc_id, ww.wpos, f.syms
         |  FROM ww JOIN w$BpeTrainRounds f USING (word))
         |SELECT doc_id, count(*) AS n_words,
         |  CAST(sum(len(syms)) AS BIGINT) AS n_subtokens,
         |  CAST(sum(len(syms)) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |    AS subtok_per_word,
         |  string_agg(array_to_string(syms, '|'), ' ' ORDER BY wpos)
         |    AS encoded
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    "data_bpe_bytes_encode" -> Q(bpeBytesEncode, Some {
      val pat = TextAnalysis.BpePretokPattern.replace("'", "''")
      s"""WITH $bpeBytesCtes,
         |wp AS (
         |  SELECT doc_id, unnest(range(0, len(w))) AS wpos, w
         |  FROM (SELECT doc_id,
         |          regexp_extract_all(lower(text), '$pat', 0) AS w
         |        FROM documents) q),
         |ww AS (SELECT doc_id, wpos, w[wpos + 1] AS word FROM wp),
         |j AS (
         |  SELECT ww.doc_id, ww.wpos, f.syms,
         |    ${duckH52("ww.wpos", "f.syms")} AS h52
         |  FROM ww JOIN w$BpeTrainRounds f USING (word))
         |SELECT doc_id, count(*) AS n_pretokens,
         |  CAST(sum(len(syms)) AS BIGINT) AS n_subtokens,
         |  CAST(sum(len(syms)) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |    AS subtok_per_pretok,
         |  CAST(bit_xor(h52) AS BIGINT) AS enc_xor
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }),

    "data_pack_tokenized" -> Q(packTokenized, Some {
      val pat = TextAnalysis.BpePretokPattern.replace("'", "''")
      s"""WITH $bpeBytesCtes,
         |vb AS (
         |  SELECT sym, CAST(row_number() OVER (ORDER BY sym) AS BIGINT)
         |           AS tid
         |  FROM (SELECT DISTINCT unnest(syms) AS sym
         |        FROM w$BpeTrainRounds)),
         |wsp AS (
         |  SELECT word, unnest(range(0, len(syms))) AS spos, syms
         |  FROM w$BpeTrainRounds),
         |wt AS (
         |  SELECT wsp.word, list(vb.tid ORDER BY wsp.spos) AS tids
         |  FROM wsp JOIN vb ON vb.sym = wsp.syms[spos + 1]
         |  GROUP BY wsp.word),
         |wp AS (
         |  SELECT doc_id, unnest(range(0, len(w))) AS wpos, w
         |  FROM (SELECT doc_id,
         |          regexp_extract_all(lower(text), '$pat', 0) AS w
         |        FROM documents) q),
         |ww AS (SELECT doc_id, wpos, w[wpos + 1] AS word FROM wp),
         |dt AS (
         |  SELECT ww.doc_id,
         |    flatten(list(wt.tids ORDER BY ww.wpos)) AS toks
         |  FROM ww JOIN wt USING (word) GROUP BY ww.doc_id),
         |d AS (
         |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tok,
         |         doc_id % $PackBuckets AS bucket
         |  FROM dt),
         |p AS (
         |  SELECT doc_id, toks, n_tok, bucket,
         |    CAST(COALESCE(sum(n_tok) OVER (PARTITION BY bucket
         |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND 1 PRECEDING), 0) AS BIGINT) // $PackBin AS bin
         |  FROM d),
         |sq AS (
         |  SELECT bucket, bin, count(*) AS n_docs,
         |    CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |    flatten(list(toks ORDER BY doc_id)) AS token_ids
         |  FROM p GROUP BY bucket, bin),
         |h AS (
         |  SELECT bucket, bin, n_docs, n_tokens,
         |    CAST(list_sum(list_transform(range(1, 14), i ->
         |      (strpos('0123456789abcdef',
         |         substr(md5(CAST(bin AS VARCHAR) || ':' ||
         |                    array_to_string(list_transform(token_ids,
         |                      x -> CAST(x AS VARCHAR)), ',')), i, 1)) - 1)
         |      * 16 ** (13 - i))) AS BIGINT) AS h52
         |  FROM sq)
         |SELECT CAST(bucket AS BIGINT) AS shard, count(*) AS n_seqs,
         |  CAST(sum(n_docs) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
         |  CAST(bit_xor(h52) AS BIGINT) AS xor_checksum
         |FROM h GROUP BY bucket ORDER BY shard""".stripMargin
    }),

    "data_shard_tfrecord" -> Q(shardTfrecord, Some(duckShardTfrecordSql)),

    // the FILE-level differential shares the in-plan query's oracle
    // VERBATIM: the bytes re-read from the .tfrecord files must
    // aggregate to exactly what the oracle frames from the text
    "data_shard_tfrecord_files" -> Q(shardTfrecordFiles,
      Some(duckShardTfrecordSql)),

    // the MAINTAINED wire-format artifact: built from the pre-append
    // snapshot, rolled forward with continuation files only, replayed
    // appends committing nothing — the file bytes must aggregate to
    // the oracle's from-scratch continuation-bin framing
    "data_shard_tfrecord_append" -> Q(shardTfrecordAppend,
      Some(duckShardTfrecordAppendSql)),
  ) ++ defs2

  /** Oracle of the build-shaped tfrecord queries ([[shardTfrecord]]
    * in-plan, [[shardTfrecordFiles]] from the file bytes): contiguous
    * bins from 0 per shard. */
  private lazy val duckShardTfrecordSql: String =
    duckShardTfrecordSqlOver(
      s"""p AS (
         |  SELECT doc_id, toks, n_tok, bucket,
         |    CAST(COALESCE(sum(n_tok) OVER (PARTITION BY bucket
         |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND 1 PRECEDING), 0) AS BIGINT) // $PackBin AS bin
         |  FROM d),
         |sq AS (
         |  SELECT bucket, bin,
         |    flatten(list(toks ORDER BY doc_id)) AS token_ids
         |  FROM p GROUP BY bucket, bin)""".stripMargin)

  /** Oracle of [[shardTfrecordAppend]]: the continuation-bin semantics
    * of the MAINTAINED artifact (corpus bins from 0, the ingest batch
    * packed past each shard's stored max — the
    * `data_pack_tokenized_append` binning) fed through the same framing
    * arithmetic, so the differential proves the incremental file
    * roll-forward equals a from-scratch export of the merged state. */
  private lazy val duckShardTfrecordAppendSql: String =
    duckShardTfrecordSqlOver(
      s"""pc AS (
         |  SELECT doc_id, toks, n_tok, bucket,
         |    CAST(COALESCE(sum(n_tok) OVER (PARTITION BY bucket
         |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND 1 PRECEDING), 0) AS BIGINT) // $PackBin AS bin
         |  FROM d
         |  WHERE doc_id < $PackSnapshotId OR doc_id >= $PackBatchEnd),
         |mb AS (SELECT bucket, max(bin) AS maxbin FROM pc GROUP BY bucket),
         |pb AS (
         |  SELECT d.doc_id, d.toks, d.n_tok, d.bucket,
         |    COALESCE(mb.maxbin, -1) + 1 +
         |    CAST(COALESCE(sum(d.n_tok) OVER (PARTITION BY d.bucket
         |      ORDER BY d.doc_id ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND 1 PRECEDING), 0) AS BIGINT) // $PackBin AS bin
         |  FROM d LEFT JOIN mb ON mb.bucket = d.bucket
         |  WHERE d.doc_id >= $PackSnapshotId AND d.doc_id < $PackBatchEnd),
         |pall AS (SELECT * FROM pc UNION ALL SELECT * FROM pb),
         |sq AS (
         |  SELECT bucket, bin,
         |    flatten(list(toks ORDER BY doc_id)) AS token_ids
         |  FROM pall GROUP BY bucket, bin)""".stripMargin)

  /** The shared framing/aggregation half of every tfrecord oracle,
    * parameterized by the binning CTE block (which must end in
    * `sq(bucket, bin, token_ids)`). `docsRel` is the relation the
    * ENCODE runs over (the vocabulary always trains on the full
    * `documents` corpus — the frozen-vocab contract); `prefixCtes`
    * prepends extra CTEs (and flips the WITH to RECURSIVE) so the
    * pipeline composite can stack the fate gate's chain in front. */
  private def duckShardTfrecordSqlOver(binCtes: String,
                                       docsRel: String = "documents",
                                       prefixCtes: String = ""): String = {
      val pat = TextAnalysis.BpePretokPattern.replace("'", "''")
      // CRC32C (Castagnoli, reflected, poly 0x82F63B78 = 2197175160) +
      // TFRecord's mask, from first principles in SQL: the 256-entry
      // table is built by unrolling the 8 per-bit steps as CTEs, and
      // each frame's checksum is a list_reduce fold over its bytes.
      val crcStep = (k: Int) =>
        s"c$k AS (SELECT i, xor(c >> 1, CASE WHEN c % 2 = 1 THEN " +
          s"2197175160 ELSE 0 END) AS c FROM c${k - 1})"
      val crcCtes = "c0 AS (SELECT i, CAST(i AS BIGINT) AS c " +
        "FROM range(0, 256) t(i)),\n" +
        (1 to 8).map(crcStep).mkString(",\n") +
        ",\ncrctab AS (SELECT list(c ORDER BY i) AS tab FROM c8)"
      def crcOf(bl: String) =
        s"""xor(list_reduce(list_prepend(CAST(4294967295 AS BIGINT), $bl),
           |  (a, b) -> xor(a >> 8,
           |    tab[CAST(xor(a, b) & 255 AS INT) + 1])), 4294967295)""".stripMargin
      def maskOf(c: String) =
        s"((((($c) >> 15) | ((($c) << 17) & 4294967295)) + 2726488792)" +
          " & 4294967295)"
      def leBytes(v: String, n: Int) =
        s"list_transform(range(0, $n), j -> (($v) >> CAST(8 * j AS INT))" +
          " & 255)"
      s"""WITH ${if (prefixCtes.nonEmpty) s"RECURSIVE\n$prefixCtes,\n"
                 else ""}$bpeBytesCtes,
         |vb AS (
         |  SELECT sym, CAST(row_number() OVER (ORDER BY sym) AS BIGINT)
         |           AS tid
         |  FROM (SELECT DISTINCT unnest(syms) AS sym
         |        FROM w$BpeTrainRounds)),
         |wsp AS (
         |  SELECT word, unnest(range(0, len(syms))) AS spos, syms
         |  FROM w$BpeTrainRounds),
         |wt AS (
         |  SELECT wsp.word, list(vb.tid ORDER BY wsp.spos) AS tids
         |  FROM wsp JOIN vb ON vb.sym = wsp.syms[spos + 1]
         |  GROUP BY wsp.word),
         |wp AS (
         |  SELECT doc_id, unnest(range(0, len(w))) AS wpos, w
         |  FROM (SELECT doc_id,
         |          regexp_extract_all(lower(text), '$pat', 0) AS w
         |        FROM $docsRel) q),
         |ww AS (SELECT doc_id, wpos, w[wpos + 1] AS word FROM wp),
         |dt AS (
         |  SELECT ww.doc_id,
         |    flatten(list(wt.tids ORDER BY ww.wpos)) AS toks
         |  FROM ww JOIN wt USING (word) GROUP BY ww.doc_id),
         |d AS (
         |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tok,
         |         doc_id % $PackBuckets AS bucket
         |  FROM dt),
         |$binCtes,
         |$crcCtes,
         |fb AS (
         |  SELECT bucket, bin,
         |    CAST(4 * len(token_ids) AS BIGINT) AS plen,
         |    ${leBytes("CAST(4 * len(token_ids) AS BIGINT)", 8)} AS lenb,
         |    flatten(list_transform(token_ids, t ->
         |      ${leBytes("t", 4)})) AS pay
         |  FROM sq),
         |fr AS (
         |  SELECT bucket, bin, plen,
         |    lenb || ${leBytes(maskOf(crcOf("lenb")), 4)} || pay ||
         |      ${leBytes(maskOf(crcOf("pay")), 4)} AS framed
         |  FROM fb, crctab),
         |h AS (
         |  SELECT bucket, bin, CAST(len(framed) AS BIGINT) AS nb,
         |    md5(CAST(bin AS VARCHAR) || ':' ||
         |      array_to_string(list_transform(framed, b ->
         |        substr('0123456789abcdef', CAST(b // 16 AS INT) + 1, 1) ||
         |        substr('0123456789abcdef', CAST(b % 16 AS INT) + 1, 1)),
         |        '')) AS m
         |  FROM fr),
         |hh AS (
         |  SELECT bucket, bin, nb,
         |    CAST(list_sum(list_transform(range(1, 14), i ->
         |      (strpos('0123456789abcdef', substr(m, i, 1)) - 1)
         |      * 16 ** (13 - i))) AS BIGINT) AS h52
         |  FROM h)
         |SELECT CAST(bucket AS BIGINT) AS shard,
         |  count(*) AS n_records,
         |  CAST(sum(nb) AS BIGINT) AS n_bytes,
         |  count(*) AS n_crc_ok,
         |  count(*) AS n_roundtrip_ok,
         |  CAST(bit_xor(h52) AS BIGINT) AS frame_xor
         |FROM hh GROUP BY bucket ORDER BY shard""".stripMargin
  }

  private def defs2: Seq[(String, Q)] = Seq(
    "data_pack_tokenized_append" -> Q(packTokenizedAppend, Some {
      val pat = TextAnalysis.BpePretokPattern.replace("'", "''")
      s"""WITH $bpeBytesCtes,
         |vb AS (
         |  SELECT sym, CAST(row_number() OVER (ORDER BY sym) AS BIGINT)
         |           AS tid
         |  FROM (SELECT DISTINCT unnest(syms) AS sym
         |        FROM w$BpeTrainRounds)),
         |wsp AS (
         |  SELECT word, unnest(range(0, len(syms))) AS spos, syms
         |  FROM w$BpeTrainRounds),
         |wt AS (
         |  SELECT wsp.word, list(vb.tid ORDER BY wsp.spos) AS tids
         |  FROM wsp JOIN vb ON vb.sym = wsp.syms[spos + 1]
         |  GROUP BY wsp.word),
         |wp AS (
         |  SELECT doc_id, unnest(range(0, len(w))) AS wpos, w
         |  FROM (SELECT doc_id,
         |          regexp_extract_all(lower(text), '$pat', 0) AS w
         |        FROM documents) q),
         |ww AS (SELECT doc_id, wpos, w[wpos + 1] AS word FROM wp),
         |dt AS (
         |  SELECT ww.doc_id,
         |    flatten(list(wt.tids ORDER BY ww.wpos)) AS toks
         |  FROM ww JOIN wt USING (word) GROUP BY ww.doc_id),
         |d AS (
         |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tok,
         |         doc_id % $PackBuckets AS bucket
         |  FROM dt),
         |pc AS (
         |  SELECT doc_id, toks, n_tok, bucket,
         |    CAST(COALESCE(sum(n_tok) OVER (PARTITION BY bucket
         |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND 1 PRECEDING), 0) AS BIGINT) // $PackBin AS bin
         |  FROM d
         |  WHERE doc_id < $PackSnapshotId OR doc_id >= $PackBatchEnd),
         |mb AS (SELECT bucket, max(bin) AS maxbin FROM pc GROUP BY bucket),
         |pb AS (
         |  SELECT d.doc_id, d.toks, d.n_tok, d.bucket,
         |    COALESCE(mb.maxbin, -1) + 1 +
         |    CAST(COALESCE(sum(d.n_tok) OVER (PARTITION BY d.bucket
         |      ORDER BY d.doc_id ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND 1 PRECEDING), 0) AS BIGINT) // $PackBin AS bin
         |  FROM d LEFT JOIN mb ON mb.bucket = d.bucket
         |  WHERE d.doc_id >= $PackSnapshotId AND d.doc_id < $PackBatchEnd),
         |pall AS (SELECT * FROM pc UNION ALL SELECT * FROM pb),
         |sq AS (
         |  SELECT bucket, bin, count(*) AS n_docs,
         |    CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |    flatten(list(toks ORDER BY doc_id)) AS token_ids
         |  FROM pall GROUP BY bucket, bin),
         |h AS (
         |  SELECT bucket, bin, n_docs, n_tokens,
         |    CAST(list_sum(list_transform(range(1, 14), i ->
         |      (strpos('0123456789abcdef',
         |         substr(md5(CAST(bin AS VARCHAR) || ':' ||
         |                    array_to_string(list_transform(token_ids,
         |                      x -> CAST(x AS VARCHAR)), ',')), i, 1)) - 1)
         |      * 16 ** (13 - i))) AS BIGINT) AS h52
         |  FROM sq)
         |SELECT CAST(bucket AS BIGINT) AS shard, count(*) AS n_seqs,
         |  CAST(sum(n_docs) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
         |  CAST(bit_xor(h52) AS BIGINT) AS xor_checksum
         |FROM h GROUP BY bucket ORDER BY shard""".stripMargin
    }),

    // the four-hop maintained pipeline as ONE differential: fate gate →
    // survivor prune → tokenized shards → TFRecord mirror, each hop
    // manifest-pinned to its upstream; the oracle replays the entire
    // chain from the raw text in one SQL statement
    // headline (VERDICT r15 #8: a second bench tier for the data paths):
    // the maintained-pipeline composite's SERVE — build (the four-hop
    // lineage) runs once per session in Q.build; every timed rep is the
    // manifest-pinned wire-file aggregate, the production read path.
    "data_pipeline_e2e" -> Q(pipelineE2e, Some(duckPipelineSql),
      headline = true),

    // time travel across the whole lineage: after a second chain run
    // over a grown corpus, serve the MIRROR at its first version paired
    // with the shard version its own src artifact names; the oracle
    // replays the chain with the fate side restricted to the slice the
    // pinned run saw
    "data_pipeline_asof" -> Q(pipelineAsof, Some(duckPipelineAsofSql)),

    "data_bpe_oov_encode" -> Q(bpeBytesOovEncode, Some {
      val pat = TextAnalysis.BpePretokPattern.replace("'", "''")
      val applyChain = (1 to BpeTrainRounds)
        .map(k => bpeApplyCte(k, s"o${k - 1}", s"o$k")).mkString(",\n")
      s"""WITH ${bpeBytesCtesWhere(s"WHERE doc_id < $OovTrainEnd")},
         |wp AS (
         |  SELECT doc_id, unnest(range(0, len(w))) AS wpos, w
         |  FROM (SELECT doc_id,
         |          regexp_extract_all(lower(text), '$pat', 0) AS w
         |        FROM documents) q),
         |ww AS (SELECT doc_id, wpos, w[wpos + 1] AS word FROM wp),
         |uw AS (SELECT DISTINCT word FROM ww
         |       WHERE word NOT IN (SELECT word FROM wd)),
         |o0 AS (SELECT word, ${duckByteSyms("word")} AS syms FROM uw),
         |$applyChain,
         |model AS (
         |  SELECT word, syms, false AS is_oov FROM w$BpeTrainRounds
         |  UNION ALL
         |  SELECT word, syms, true AS is_oov FROM o$BpeTrainRounds),
         |j AS (
         |  SELECT ww.doc_id, ww.wpos, m.syms, m.is_oov,
         |    ${duckH52("ww.wpos", "m.syms")} AS h52
         |  FROM ww JOIN model m USING (word))
         |SELECT doc_id, count(*) AS n_pretokens,
         |  CAST(sum(CASE WHEN is_oov THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_oov,
         |  CAST(sum(len(syms)) AS BIGINT) AS n_subtokens,
         |  CAST(sum(len(syms)) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |    AS subtok_per_pretok,
         |  CAST(bit_xor(h52) AS BIGINT) AS enc_xor
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }),

    "data_pack_sequences" -> Q(packSequences, Some(
      s"""WITH d AS (
         |  SELECT doc_id, text, CAST(len($duckWords) AS BIGINT) AS n_tok,
         |         doc_id % $PackBuckets AS bucket
         |  FROM documents),
         |o AS (
         |  SELECT doc_id, text, n_tok, bucket,
         |    CAST(COALESCE(sum(n_tok) OVER (PARTITION BY bucket
         |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND 1 PRECEDING), 0) AS BIGINT) // $PackBin AS bin
         |  FROM d)
         |SELECT bucket, bin, count(*) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
         |  COALESCE(string_agg(text, ' ' ORDER BY doc_id), '') AS seq_text
         |FROM o GROUP BY bucket, bin ORDER BY bucket, bin""".stripMargin)),

    "data_mixture_temperature" -> Q(mixtureTemperature, Some(
      s"""WITH t AS (
         |  SELECT source, count(*) AS n_docs,
         |    CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1e6) AS BIGINT)
         |      AS w_temp
         |  FROM documents GROUP BY source),
         |s AS (SELECT CAST(sum(w_temp) AS BIGINT) AS sum_w FROM t)
         |SELECT source, n_docs, w_temp,
         |  CAST(w_temp AS DOUBLE) / CAST(sum_w AS DOUBLE) AS p,
         |  ($MixTempBudget * w_temp) // sum_w AS alloc_docs,
         |  least(1.0, CAST(($MixTempBudget * w_temp) // sum_w AS DOUBLE)
         |    / CAST(n_docs AS DOUBLE)) AS sample_rate
         |FROM t, s ORDER BY source""".stripMargin)),

    "data_mixture_sample" -> Q(mixtureSample, Some(
      s"""WITH t AS (
         |  SELECT source, count(*) AS n_docs,
         |    CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1e6) AS BIGINT)
         |      AS w_temp
         |  FROM documents GROUP BY source),
         |s AS (SELECT CAST(sum(w_temp) AS BIGINT) AS sum_w FROM t),
         |r AS (
         |  SELECT source, n_docs, w_temp,
         |    ($MixTempBudget * w_temp) // sum_w AS alloc_docs,
         |    least(1.0, CAST(($MixTempBudget * w_temp) // sum_w AS DOUBLE)
         |      / CAST(n_docs AS DOUBLE)) AS sample_rate
         |  FROM t, s),
         |d AS (
         |  SELECT source,
         |    CAST(${duckBucket(
                 "'mixsamp|' || CAST(doc_id AS VARCHAR)", 65536)} AS DOUBLE)
         |      / 65536.0 AS hf
         |  FROM documents),
         |g AS (
         |  SELECT d.source,
         |    CAST(sum(CASE WHEN d.hf < r.sample_rate THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_sampled
         |  FROM d JOIN r USING (source) GROUP BY d.source)
         |SELECT r.source, r.n_docs, r.w_temp, r.alloc_docs, r.sample_rate,
         |  g.n_sampled,
         |  CAST(g.n_sampled AS DOUBLE) / CAST(r.n_docs AS DOUBLE)
         |    AS realized_rate
         |FROM r JOIN g USING (source) ORDER BY source""".stripMargin)),

    "data_cube_stats" -> Q(cubeStats, Some(
      s"""WITH d AS (
         |  SELECT lang, source,
         |    CAST(len($duckWords) AS BIGINT) AS n_tok
         |  FROM documents)
         |SELECT lang, source, count(*) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
         |  CAST(grouping(lang) * 2 + grouping(source) AS BIGINT) AS gid
         |FROM d GROUP BY CUBE(lang, source)
         |ORDER BY gid, lang, source""".stripMargin)))
}
