package graft

import java.nio.file.{Files, Paths}

/** Regenerates PLANS.md: `.explain` (SimpleMode) for one query per plan
  * family, with the audit notes each plan must keep satisfying. Run
  * `sbt "runMain graft.Plans"` after changing any of the audited builders.
  */
object Plans {

  private val Audited = Seq("ref_p2_time_filter", "ref_q1_agg",
    "ref_j1_dim_join", "ref_a1_dedup_latest", "ref_w1_global_aggs",
    "data_sim_cosine_topk", "data_sim_ivf_fitted", "data_dedup_minhash_pairs",
    "data_asof_join", "data_sessionize", "data_chunk_dedup",
    "data_event_rolling", "data_tfidf_topk",
    "data_dedup_semantic", "data_sim_sq8_topk", "data_dedup_incremental",
    "data_dedup_index_serve", "data_dedup_index_asof",
    "data_sim_ivfpq", "data_chunk_cdc", "data_curation_gate",
    "data_sim_ivf_pruned", "data_mm_decode",
    "data_dedup_spans", "data_sketch_cms", "data_decontaminate_bloom",
    "data_search_phrase",
    "data_mm_phash", "data_mm_audio_frames", "data_sim_ivfpq_refine",
    "data_classifier_pr", "data_epoch_shuffle", "data_mm_neardup",
    "data_sim_ivfadc",
    "data_bpe_train_encode", "data_mm_pgm_decode", "data_mm_scene_cuts",
    "data_mm_png_decode", "data_mm_reel_overlap", "data_quality_propagate",
    "data_split_by_component", "data_lm_score", "data_boilerplate_strip",
    "data_source_reputation", "data_curation_fate", "data_lm_backoff",
    "data_dsir_resample", "data_novelty_score", "data_source_pagerank",
    "data_sketch_hll", "data_warc_roundtrip", "data_curriculum_plan",
    "data_decontaminate_fuzzy", "data_scd2_history", "data_unigram_segment",
    "data_unigram_encode", "data_unigram_em", "data_graph_triangles",
    "data_corpus_diff", "data_mm_png_rgb_decode", "data_unigram_em3",
    "data_mm_jpeg_decode", "data_mm_jpeg_rgb_decode",
    "data_dedup_band_index_serve", "data_bpe_bytes",
    "data_sim_ivf_append", "data_mixture_sample", "data_bpe_oov_encode",
    "data_search_index_serve", "data_sim_ivf_retrain",
    "data_dedup_semantic_index_serve", "data_pack_tokenized",
    "data_pack_tokenized_append", "data_shard_tfrecord",
    "data_dedup_components_asof", "data_dedup_components_compact",
    "data_dedup_components_stats", "data_shard_tfrecord_files",
    "data_search_index_asof", "data_sim_ivf_asof",
    "data_dedup_band_index_asof", "data_dedup_components_append",
    "data_shard_tfrecord_append", "data_pipeline_e2e",
    "data_pipeline_asof")

  private val Header =
    """# PLANS — physical-plan audit of representative queries
      |
      |`.explain` output (sf0.001, SimpleMode) for one query per plan family,
      |with the properties each plan must keep. Regenerate with
      |`sbt "runMain graft.Plans"` (AQE off, like the bench session, so the
      |static plan is the one audited). Audited per round: predicate pushdown
      |reaches `PushedFilters`, projections reach `ReadSchema` (column
      |pruning), small dims go through `BroadcastExchange`, and no
      |whole-partition window or driver-side loop appears anywhere.
      |
      |Audit notes:
      |
      |- **ref_p2_time_filter** — the time-range + validity predicates all land
      |  in `PushedFilters` on the parquet scan (predicate targets the raw `ts`
      |  column; a derived-column predicate would not push). `ReadSchema` holds
      |  only the 4 referenced columns.
      |- **ref_q1_agg** — partial+final HashAggregate with the cents-scaled long
      |  sums inside whole-stage codegen; the source is the NARROW cached
      |  lineitem projection (`Tables.lineitemHot`): only the 5 consumed
      |  columns reach the underlying FileScan's ReadSchema and the cache,
      |  which restores scan parallelism over the single-row-group testdata.
      |- **ref_j1_dim_join** — `nation` (bounded dim) builds a
      |  `BroadcastExchange` from an explicit hint. `customer` SCALES with the
      |  data, so it carries no hint — at bench scale the static planner still
      |  picks broadcast from parquet size statistics (customer.parquet ≪
      |  `autoBroadcastJoinThreshold`), and at 100 TB the same plan degrades
      |  gracefully to a shuffle join instead of OOMing the build side. The
      |  orders side is the narrow cached projection (`Tables.ordersHot`, 3
      |  columns), restoring scan parallelism over the single-row-group
      |  testdata for this order-independent (dump-sorted) consumer.
      |- **ref_a1_dedup_latest** — single aggregation, map-side partial
      |  (`partial_argmax_fields` below the exchange), shuffle is O(users)
      |  not O(events). The payload columns ride ONE `ArgMaxFields` typed
      |  aggregate (per-field DuckDB MAX_BY NULL-skip semantics) so the plan
      |  is ObjectHashAggregate — the per-column string `max_by` fan-out it
      |  replaced forced SortAggregate, the round-5 bench's only outlier.
      |  The ordering key is the collision-free composite
      |  `ts_us * 2^63 + event_id` (DECIMAL(38,0) / HUGEINT in the oracle) —
      |  tie-broken by construction, same expression in the oracle.
      |- **ref_w1_global_aggs** — the `COUNT(DISTINCT) OVER ()` rewrite: the
      |  1-row global aggregate and the per-type counts are computed once and
      |  broadcast back (`BroadcastNestedLoopJoin`/`BroadcastHashJoin`); no
      |  single-partition `Window` operator anywhere.
      |- **data_sim_cosine_topk** — `vec_dot(...)` appears as a plain projected
      |  expression (codegen'd `FloatVecDot`); query set broadcast; per-query
      |  top-k via rank over the broadcast-joined scores (corpus never
      |  shuffled). Spark's built-in `WindowGroupLimit` (Partial below the
      |  shuffle, Final above) prunes each partition to the top k rows before
      |  the exchange — the declarative row_number+filter formulation already
      |  gets bounded-heap semantics, so no custom top-k operator is needed.
      |- **data_sim_ivf_fitted** — the fitted coarse quantizer's plan keeps
      |  the corpus un-shuffled end to end: cell assignment is a MAP-ONLY
      |  projection (the k fitted centroids are collected to the driver —
      |  bounded, the classic k-means broadcast — and inlined as a literal
      |  argmin expression (array_position of array_min — O(k), see the
      |  assignCellsBroadcast scaladoc), so NO window and NO exchange
      |  touches the corpus;
      |  DataOpsSpec asserts the zero-exchange plan), the centroid update
      |  aggregates on (cell, pos) — shuffle O(k × dim) after partial
      |  aggregation — and the probe stage broadcasts the (query, cell)
      |  routing table into the assigned corpus. At rest the assignment is
      |  written partitionBy(cell), making each probe a planning-time
      |  directory prune (PartitionPruningSpec).
      |- **data_dedup_minhash_pairs** — candidates come from an EQUI-join
      |  on (band, bucket) — never a cartesian (broadcast at testdata
      |  statistics, SMJ/shuffle-hash at scale). The hot-bucket guard is
      |  one extra map-side-combinable HashAggregate (bucket sizes ≤ cap)
      |  whose keep-list broadcast is planned ONCE and `ReusedExchange`d
      |  by both join sides. Exact-Jaccard scoring touches LSH-collided
      |  pairs only.
      |- **data_asof_join** — the union+window as-of shape: ONE
      |  `Exchange hashpartitioning(user_id)` feeds a single `Window`
      |  (`last(__rp) ignore nulls`) over the tagged union — no range-join
      |  row explosion and no nested-loop; the only other exchange is the
      |  click-side dedup's own map-side-combinable HashAggregate on
      |  (user_id, ts).
      |- **data_sessionize** — `session_window` plans as partial
      |  `HashAggregate` → exchange on `user_id` → `MergingSessions`
      |  (session merge); state is per-session aggregates, never the raw
      |  per-user event timeline.
      |- **data_chunk_dedup** — corpus-wide keeper election is a
      |  partial+final `HashAggregate` on the cell hash
      |  (`min(struct(doc_id, chunk_id))`) — map-side combine collapses a
      |  boilerplate cell that occurs in millions of documents to one row
      |  per mapper BEFORE the shuffle, so a hot hash cannot skew a
      |  reducer (a `row_number` window over the hash would sort the hot
      |  partition instead; CorpusOpsSpec asserts no Window). Join-back is
      |  a plain equi-join on the hash; document reassembly is a per-doc
      |  hash aggregate. Three O(cells) shuffles, nothing quadratic.
      |- **data_event_rolling** — all five rolling columns share the same
      |  (partitionBy user_id, orderBy ts_us, event_id) spec, so Spark
      |  plans exactly ONE `Window` operator fed by ONE
      |  `Exchange hashpartitioning(user_id)` + one sort (CorpusOpsSpec
      |  asserts both counts); frame order is total by construction
      |  (event_id unique), making every lag/rolling value deterministic.
      |- **data_tfidf_topk** — the inverted-index retrieval shape: postings
      |  (doc, term, tf) aggregate once (partial+final HashAggregate); the
      |  df/idf model and the query-term table enter through
      |  `BroadcastExchange`s (both bounded by vocabulary, not corpus), so
      |  the postings table is the only thing shuffled; per-query top-k
      |  goes through `WindowGroupLimit` (bounded heap below the final
      |  window sort). Integer fixed-point idf — scores are exact longs.
      |- **data_dedup_semantic** — cell assignment is the map-only
      |  literal-centroid argmin expression (no exchange between the scan and the
      |  assigned cells); the ONLY join is the within-cell self-join on
      |  `cell` — the corpus is never all-pairs joined, the SemDeDup
      |  candidate-bounding property. The k-means fitting subtree above it
      |  shuffles O(k × dim) aggregates per round, never the corpus. The
      |  seed `Window.orderBy` runs over the k-row LIMIT result only.
      |- **data_sim_sq8_topk** — same broadcast-queries shape as the float
      |  brute force (corpus side never shuffles; queries enter via
      |  `BroadcastExchange`), with the scored payload quantized to int8
      |  scale and ranked by an all-integer dot: per-query top-k goes
      |  through `WindowGroupLimit` (partial heap before the exchange).
      |- **data_dedup_incremental** — the corpus cell index is
      |  aggregate-deduped (partial+final HashAggregate on `cell_hash`)
      |  and met by a shuffle EQUI-join — deliberately not broadcast: the
      |  index scales with the corpus. Batch-side per-doc counts are one
      |  map-side-combinable aggregate.
      |- **data_dedup_index_serve** — the MAINTAINED-index serve: the
      |  stored shard-partitioned index scan carries
      |  `PartitionFilters: [... dynamicpruningexpression(shard IN ...)]`
      |  (only the shard directories the batch touches are listed/read)
      |  and `ReadSchema` holds only `cell_hash`; the hit count is a
      |  `BroadcastHashJoin` that STREAMS the index (build side = the
      |  broadcast batch cells, reused by the pruning subquery) — the
      |  100 TB side is never shuffled and never recomputed.
      |- **data_dedup_index_asof** — the TIME-TRAVEL serve: identical
      |  plan shape to `data_dedup_index_serve` (same scan node, same
      |  streamed `BroadcastHashJoin`, same shard `PartitionFilters`,
      |  `ReadSchema` = `cell_hash` only) — the manifest pin changes
      |  WHICH files the scan lists (the pre-append version's), never
      |  how the scan plans. Retention is what makes the old files
      |  physically present to list.
      |- **data_sim_ivfpq** — the full IVF-PQ query shape: the encoded
      |  corpus (coarse cell + m codes) meets the per-query routing+ADC
      |  table through ONE `BroadcastExchange` equi-join on the coarse
      |  cell; scoring is m `element_at` lookups per row (no vector math
      |  at query time), then per-query `WindowGroupLimit` top-k. The
      |  k-means subtrees above shuffle O(k × dim) aggregates only.
      |- **data_chunk_cdc** — content-defined chunking is a map-only
      |  per-row HOF (boundary filter + chunk slices) feeding the same
      |  keeper-election HashAggregate + equi-join as fixed-cell dedup;
      |  nothing quadratic, no window over the chunk hash.
      |- **data_curation_gate** — the whole precedence chain (Gopher
      |  rules, compiled NgramStats repetition, hashed classifier) is one
      |  projection inside the scan; the only shuffle is the exact-dup
      |  keeper HashAggregate and its join-back.
      |- **data_sim_ivf_pruned** — the at-rest IVF serving shape: the
      |  assigned corpus is read back from its partitionBy(cell) layout
      |  and the probe's literal IN lands in `PartitionFilters` on that
      |  scan — a planning-time directory prune, zero data filters, so
      |  each query touches only `nprobe/kCells` of the corpus bytes.
      |  The scoring subtree above it is identical to
      |  `data_sim_ivf_fitted` (hash-equal results by construction).
      |- **data_mm_decode** — bytes→features is ONE codegen'd projection
      |  (`wav_encode`/`bmp_encode` → `media_decode`) inside the document
      |  scan: no shuffle, no UDF, no per-row JVM boxing beyond the byte
      |  arrays themselves; at 100 TB multimodal featurization stays a
      |  map-only pass.
      |- **data_dedup_spans** — the exact-substring dedup never
      |  self-joins: the dup-hash set is ONE map-side-combinable
      |  HashAggregate over the occurrence explode; occurrences join that
      |  set on the hash (equi-join — broadcast at testdata statistics,
      |  SMJ at sf1+, observed), the per-doc start list is one
      |  collect_list aggregate, and the mask folds back in a single HOF
      |  projection. A corpus-hot n-gram contributes k occurrence rows
      |  joining ONE hash row — linear, never pairwise.
      |- **data_sketch_cms** — the d×w sketch is one HashAggregate
      |  (partial below the exchange: shuffle O(d·w), not O(tokens)); the
      |  sketch broadcasts to the estimate join; the top-k candidate pick
      |  is `orderBy().limit(k)` → `TakeOrderedAndProject(limit=20)` by
      |  construction (per-partition bounded heaps, k-row driver merge) —
      |  NO Window operator over the vocab-sized aggregate at all (the r7
      |  row_number form planned a single-partition Window over the full
      |  vocab: billions of rows at corpus scale; VERDICT r7 #2).
      |- **data_decontaminate_bloom** — ZERO joins in the plan: the
      |  filter is an m-char literal bitmap (bounded model pull), the
      |  probe is three AND'd codegen'd substr tests inside the shingle
      |  scan, and the only shuffle is the per-doc count aggregate.
      |- **data_search_phrase** — both phrase sides are single-term
      |  slices of the same memo-persisted occurrence relation
      |  (InMemoryTableScan twice, built once); the top-1 bigram pick is
      |  `orderBy().limit(1)` → `TakeOrderedAndProject` (no
      |  single-partition Window over the bigram-count table — larger
      |  than the vocab at corpus scale; VERDICT r7 #3); the t1 slice
      |  joins the broadcast top-bigram row, then the adjacency join runs
      |  on (doc, pos) — never a corpus×corpus join, and the corpus text
      |  is never rescanned.
      |- **data_mm_phash** — the hashed projection (encode → fused
      |  `media_dhash`) is memo-persisted BEFORE fan-out: the dup-group
      |  aggregate, the join-back and the pushed-down isNotNull filter
      |  all read the cached `phash` attribute (InMemoryTableScan), so
      |  each payload decodes exactly once (without the barrier the plan
      |  audit showed the fused expression inlined into 4 consumers).
      |  Keeper election is the map-side-combinable count/min
      |  HashAggregate + equi-join — no window over hash groups.
      |- **data_mm_audio_frames** — `media_values` evaluates in its own
      |  Project below the frame `Generate`, which FORWARDS the samples
      |  attribute (one container parse per row, however many frames);
      |  the 16-sample frame slice materializes once per frame and the
      |  energy/zero-cross folds reference the attribute. Map-only to
      |  the dump sort — featurization is a projection.
      |- **data_sim_ivfpq_refine** — the refine stage joins the bounded
      |  broadcast shortlist INTO the cached corpus (BroadcastHashJoin,
      |  BuildRight = candidates) — the corpus is never shuffled and only
      |  shortlisted rows reach the exact `vec_dot` re-score; per-query
      |  re-cut goes through `WindowGroupLimit` (Partial below the
      |  exchange). The ADC subtree below is `data_sim_ivfpq`'s plan
      |  verbatim at shortK.
      |- **data_classifier_pr** — per-document score + label are ONE
      |  scan-side projection (compiled `hashed_weight_sum`, Gopher rule
      |  columns); the threshold sweep is a 5-literal `Generate` feeding
      |  one partial+final HashAggregate on tau — never a per-threshold
      |  rescan of the corpus.
      |- **data_epoch_shuffle** — `ReadSchema` prunes the document scan
      |  to the single `doc_id` column; the only exchange hash-partitions
      |  by (epoch, shard), so each shard ranks only its own slice — no
      |  global sort anywhere in the body.
      |- **data_mm_neardup** — the band join runs at DISTINCT-phash
      |  granularity: the memo-persisted (doc_id, phash) relation
      |  (InMemoryTableScan, hashed once) collapses through a distinct
      |  BEFORE banding, so an identical-image mega-cluster — which
      |  shares all four band values — enters the candidate join ONCE
      |  (measured: 203M naive candidates → 2), and
      |  `capHotBuckets` on (band, bv) drops non-discriminative hot
      |  bands. Candidates come from the (band, band-value) EQUI-join —
      |  never an image×image comparison — the exact Hamming check is one
      |  XOR+popcount per surviving candidate, and the doc-level
      |  expansion joins are output-sized by the emit-all-pairs contract.
      |  The ≤3-bit radius keeps banding exact below the cap (pigeonhole
      |  over 4 bands).
      |- **data_bpe_train_encode** — serving a TRAINED tokenizer is one
      |  hash join from the (doc, word) explode to the vocab-sized
      |  trained word table (InMemoryTableScan of the memo-persisted
      |  training result) + one per-doc aggregate; the 8 training rounds
      |  (driver loop, vocab-sized per round) happen at model-build time
      |  and never appear in the serving plan — no per-word recursion,
      |  no corpus rescan at encode time.
      |- **data_mm_pgm_decode** — the `pgm_encode` payload evaluates ONCE
      |  in its own Project (CollapseProject declines to duplicate a
      |  non-cheap expression with two consumers), and `media_decode` +
      |  `media_dhash` reference the attribute above it — one container
      |  build per row, no memo barrier needed; the length filter sits
      |  below it on the raw text column (`PushedFilters: IsNotNull`).
      |  Map-only to the dump sort.
      |- **data_mm_scene_cuts** — reel packing (9 BMP encodes over the
      |  shared rotated-pixel attribute) + the fused container walk are
      |  ONE map-only projection chain (the multi-consumer pixel list
      |  stays in its own Project — CollapseProject refuses to duplicate
      |  it); the only exchange is the per-DOCUMENT lag window
      |  (partitioned by doc_id — never a global window), and the frame
      |  explode is a Generate forwarding the hash array attribute.
      |- **data_mm_png_decode** — same one-Project shape as the PGM twin:
      |  `png_encode` (deflate + filtering) evaluates once, decode + hash
      |  consume the attribute; the compressed container adds per-row CPU
      |  inside the projection, never plan structure. Map-only to the
      |  dump sort.
      |- **data_mm_png_rgb_decode** — the color twin: one Project carries
      |  the per-doc-id encoder branch (truecolor vs palette) and the
      |  `media_decode_rgb` consumer; PLTE dereference and bpp=3
      |  unfiltering are per-row CPU inside the projection, never plan
      |  structure. Map-only to the dump sort.
      |- **data_mm_reel_overlap** — candidates come from an equi-join on
      |  the frame HASH (distinct (doc, hash) first, hot hashes dropped
      |  at the [[MediaQueries.ReelHashCap]]) — never reel×reel; the
      |  shared-frame count is a map-side-combinable aggregate per pair,
      |  and the reel hashes come from the memo-persisted `mmreel`
      |  relation shared with the scene-cut query (one container walk for
      |  the family).
      |- **data_quality_propagate** — component labels ride the audited
      |  LSH chain (banded candidates, capped hot buckets); propagation
      |  itself is ONE hash aggregate keyed on component + one join back,
      |  both map-side combinable; no window, no per-component iteration.
      |- **data_split_by_component** — after the component labels, the
      |  split is a pure per-row projection (two md5 buckets + CASE); the
      |  only joins are the label attach (left) — nothing new shuffles at
      |  serving time.
      |- **data_lm_score** — the bigram model is a map-side-combinable
      |  count aggregate (memo-persisted, vocab-sized); scoring joins
      |  occurrences to model rows ON the bigram key — linear in
      |  occurrences, hot bigrams fan out to their own occurrences only.
      |  floor(log2) is `length(bin(n)) - 1`: pure integer expressions,
      |  fully codegen'd, no float log in the plan.
      |- **data_boilerplate_strip** — block segmentation is a map-only
      |  Generate over the token array; the block → distinct-doc count is
      |  two map-side-combinable hash aggregates; the flag join is an
      |  equi-join on the block text (linear in blocks); reconstruction
      |  is a per-document aggregate whose collect_list state is bounded
      |  by the document's own block count — no window, nothing
      |  corpus-quadratic.
      |- **data_source_reputation** — one aggregate keyed on source after
      |  the component-label left join; quality means ride exact
      |  quantized-long sums (micro-units) divided once, so the mean is
      |  partition-order-independent at any count.
      |- **data_curation_fate** — the nine-signal composition is a LINEAR
      |  chain of doc_id-keyed hash joins over the individually-audited
      |  relations (component labels, LM scores, boiler stats) with the
      |  sources-sized reputation gate broadcast; no signal re-derives
      |  another's work (the component/quality relation feeds dedup,
      |  contamination AND reputation through one build), and the
      |  first-drop-wins CASE is a single projection.
      |- **data_source_pagerank** — the graph build is the one-shuffle
      |  shingle-set expansion with the per-shingle source-set cap;
      |  each of the five rounds is one edge⋈rank equi-join plus one
      |  map-side-combinable sum over a NODE-sized relation, persisted
      |  round-over-round — no round re-derives the graph, and the
      |  expensive corpus scan appears once.
      |- **data_novelty_score** — one distinct-shingle explode, one
      |  map-side-combinable (min, count) gram aggregate, one equi-join
      |  back, one per-doc hash aggregate; a hot gram fans out to its
      |  own occurrences only. No window, no self-join.
      |- **data_dsir_resample** — the learned weight table is two
      |  constant-size (4096-bucket) map-side-combinable aggregates,
      |  memo-persisted and BROADCAST into the scoring join; scoring is
      |  one equi-join from the O(tokens) bigram-occurrence relation to
      |  the model plus one per-doc hash aggregate — the plan must show
      |  BroadcastHashJoin on the model side and no vocab-sized
      |  exchange.
      |- **data_lm_backoff** — three memo-persisted count models (each a
      |  map-side-combinable aggregate), three LEFT equi-joins from the
      |  O(tokens) position relation to its tier keys, one tier CASE in
      |  a projection; the backoff decision is pure expression work —
      |  no iterative per-position logic, no float log.
      |- **data_sim_ivfadc** — the residual-encoded IVFADC keeps the
      |  ivfpq query shape: residual computation is a MAP-ONLY literal
      |  centroid lookup (element_at of the collected coarse table — no
      |  join to meet the centroids), codebooks fit on residual slices
      |  with the same bounded O(k × dim) aggregate rounds, and the
      |  per-(query, probed-cell) L2 tables ride the broadcast probe
      |  set; corpus-side scoring touches only the m code columns.
      |- **data_sketch_hll** — ONE scan, two map-side-combinable hash
      |  aggregates (values → 256 registers → harmonic fold); the exact
      |  count rides the register aggregate as sum of per-bucket
      |  distincts (buckets partition users) — no join, no second scan.
      |  Registers merge across shards by per-bucket MAX — the plan must
      |  show partial_max on the register aggregate.
      |- **data_warc_roundtrip** — packing is one hash aggregate per
      |  (source, shard) with the ordered array_sort inside the aggregate
      |  state; the parse half is a map-only projection (compiled
      |  warc_records + explode) — no join anywhere; container size is
      |  bounded by the shard knob, not the corpus.
      |- **data_curriculum_plan** — stage boundaries from an O(distinct
      |  lengths) histogram cumsum broadcast back; position windows
      |  partition by (stage, shard) so the widest sort is corpus/24.
      |- **data_decontaminate_fuzzy** — the eval signature table is a
      |  BROADCAST constant; the corpus side is one scan, a ×|eval|
      |  map-only expand, and one map-side-combinable max(struct) argmax —
      |  the plan must show BroadcastNestedLoopJoin (a bounded cross
      |  expand), never a corpus shuffle. The corpus side below the join
      |  must be an InMemoryTableScan of the SIGNATURE memo — with the
      |  sig projection inlined, the expand re-evaluates
      |  tokenize→shingle→minhash once per pair (measured: 2.4 s scan
      |  vs 33–38 s joined at sf10; barrier = 0.60 s), and the compare is
      |  the compiled arr_eq_count, not an interpreted zip_with.
      |- **data_unigram_em** — both Viterbi rounds are per-row HOF folds
      |  over the DISTINCT-word table with literal cost maps (model
      |  artifacts collected at build); the round-2/round-1 comparison is
      |  one vocab-sized equi-join. The corpus appears only in the
      |  word-frequency aggregate.
      |- **data_corpus_diff** — ONE full-outer hash join on the unique
      |  id with md5 columns computed on the scans; no window, no skew
      |  surface, content never compared beyond the 32-char hash.
      |- **data_unigram_em3** — the K-round generalization of the EM:
      |  every round is the same vocab-sized per-row DP fold under a
      |  literal cost map, usage re-estimation is one explode +
      |  aggregate on the MEMOIZED previous round; the final output is
      |  two vocab-sized equi-joins (round 1 + round K−1 comparisons).
      |  Rounds scale the constant K, never the corpus.
      |- **data_graph_triangles** — degree join, orientation projection,
      |  wedge self-join and the closing-edge join are ALL equi-joins on
      |  the packed (degree, id) key; the pairs relation is the memoized
      |  LSH candidate chain (one build, four consumers). No recursion,
      |  no window.
      |- **data_scd2_history** — lead() and row_number() share ONE
      |  (user_id) partitioning: a single exchange + sort feeds both
      |  windows; partition size is one entity's change history.
      |- **data_mm_jpeg_decode** — the lossy-codec gray roundtrip, FUSED:
      |  one Project evaluates `jpeg_roundtrip_gray(text_gray_pixels(…))`
      |  — compiled pixel build, one encode, one decode, tolerance bands
      |  as primitive loops (boolean parity with the composed
      |  encode→decode→HOF-fold chain pinned in MediaCodecSpec). The
      |  whole body is ONE WholeStageCodegen span over the scan — no
      |  shuffle, no UDF, no interpreted HOF (the folds were the
      |  measured 3.3×-row hot spot, not the codec).
      |- **data_mm_jpeg_rgb_decode** — the color twin: one Project with
      |  `jpeg_roundtrip_rgb(text_rgb_pixels(…))` — per-channel mean
      |  bands + the per-pixel LUMA band (what 4:2:0 subsampling
      |  actually preserves) inside the fused pass. Map-only to the
      |  dump sort.
      |- **data_dedup_band_index_serve** — the maintained NEAR-dup serve:
      |  the stored band index's scan carries `PartitionFilters: [...
      |  dynamicpruningexpression(shard IN ...)]` on the bucket-shard
      |  directory key and `ReadSchema` holds only (ref_id, band, bucket);
      |  the hit/candidate counts ride ONE `BroadcastHashJoin` whose build
      |  side is the batch's band rows — the 100 TB index streams, never
      |  shuffles, never recomputes corpus signatures (the hot-bucket cap
      |  applied AT BUILD bounds every serve's per-bucket fan-out).
      |- **data_bpe_bytes** — the byte-level trainer keeps the
      |  bpe_train/bpe_pretok plan shape: ONE corpus scan into the
      |  pretoken-frequency HashAggregate; the byte-unicode w0 split
      |  (hex of the UTF-8 encoding indexed into the 256-entry literal)
      |  is a map-only projection over the VOCAB-sized word table; each
      |  round is one hash aggregate + one map-only merge with a 1-row
      |  `orderBy().limit(1)` driver pull. Rounds scale with vocabulary,
      |  never the corpus.
      |- **data_sim_ivf_append** — the MAINTAINED-IVF serve: centroids
      |  come from the stored `_centroids` artifact (bounded broadcast),
      |  the probe read carries the literal cell-IN in `PartitionFilters`
      |  (planning-time directory prune over the appended layout), and
      |  scoring joins the broadcast probe set into the pruned scan —
      |  ingest appended with frozen centroids is invisible to the plan
      |  AND the result (serve-after-append hash-equals the from-scratch
      |  recompute). The drift audit reads ONLY the `cell` partition
      |  column — zero data columns, metadata-cost retrain signal.
      |- **data_mixture_sample** — temperature mixing APPLIED: ONE
      |  memoized corpus scan builds the per-source 16-bit-hash-bucket
      |  histogram (bounded at sources × 2¹⁶ entries whatever the
      |  corpus size — a model pull), cached in one partition; the
      |  serve is then a SINGLE one-task stage — the global weight-sum
      |  window plans with no exchange (the single-partition cache
      |  already satisfies AllTuples) and the realized count is an
      |  in-row fold over the histogram (strict `<` on exact dyadic
      |  doubles — bit-identical to the per-doc comparison). Zero
      |  joins, zero serve-time corpus scans (was: two scans + two
      |  broadcast-build jobs per run).
      |- **data_bpe_oov_encode** — serving a SHIPPED tokenizer on new
      |  data: the trained word table and the OOV merge-replay table are
      |  BOTH vocab-sized (the unseen-word table is a map-side-combinable
      |  distinct over pretokens, never corpus-sized; its 8 merge folds
      |  are map-only on that bounded table), union'd into one model
      |  relation that enters the (doc, pretoken) explode through an
      |  EXPLICIT `BroadcastExchange` — the union's size estimate is
      |  planner-opaque, and without the hint the static planner chose a
      |  SortMergeJoin that shuffled+sorted the corpus-sized explode
      |  (measured 61 → 15 s at sf10); one per-doc xor-checksum
      |  aggregate (single-long state — the collect_list text form
      |  OOM'd the probe heap). Two corpus scans at encode time (the
      |  unseen-word distinct + the encode join), both linear.
      |- **data_search_index_serve** — the maintained RETRIEVAL serve:
      |  the stored term-sharded postings scan carries
      |  `PartitionFilters: [... dynamicpruningexpression(shard IN …)]`
      |  and streams through a `BroadcastHashJoin` whose build side is
      |  the query-term set; the idf side is the stored `_df` dictionary
      |  joined to the SAME broadcast terms and crossed with the 1-row
      |  `_stats` artifact — vocabulary-sized streams, never a corpus
      |  pass, integer-exact fixed-point scores; per-query top-k through
      |  `WindowGroupLimit`. The append twin must stay INTEGER-identical
      |  to the full recompute — df and N enter every idf, so the
      |  increment arithmetic is what the hash checks.
      |- **data_sim_ivf_retrain** — serve AFTER the retrain lifecycle
      |  (refit over the pinned index read, re-assign, atomic manifest
      |  swap): the plan must be indistinguishable from the maintained
      |  serve — stored-centroid broadcast, literal cell-IN in
      |  `PartitionFilters` over the NEW generation's files, no trace of
      |  the build in the serving plan (the rebuild is an offline step,
      |  not a query-time cost). Result hash-equals the from-scratch
      |  fitted recompute — a retrain is indistinguishable from having
      |  built fresh.
      |- **data_dedup_semantic_index_serve** — SemDeDup served from the
      |  stored IVF index: batch assigned map-only against the
      |  stored-centroid literals, the index scan pruned to the batch's
      |  probed cells (literal cell-IN in `PartitionFilters`) and
      |  STREAMED through a `BroadcastHashJoin` of the bounded batch —
      |  the corpus-side embedding table never shuffles and is never
      |  re-clustered at serve time (the per-run k-means refit of
      |  `data_dedup_semantic` is gone; candidates are bounded by
      |  batch × cell population).
      |- **data_pack_tokenized** — tokenized shards at rest: the id'd
      |  vocabulary table is vocab-sized end to end (symbol explode +
      |  one join + one re-aggregate, all bounded), the corpus pays one
      |  pretoken explode into a `BroadcastExchange` of that vocabulary,
      |  and the per-doc/per-bin assemblies partition by bucket — the
      |  running-offset window never sees more than one bucket's docs,
      |  and `collect_list` payloads are bounded by document length and
      |  the bin's token budget (sequences must materialize somewhere;
      |  that is what a training shard IS). The manifest side is a scan
      |  of the written artifact + one per-shard hash aggregate.
      |- **data_pack_tokenized_append** — the maintained-shard lifecycle's
      |  serve (the stored incrementally-maintained manifest artifact: one
      |  bounded scan + the dump sort). The append inside the build memo
      |  follows the maintained-index disciplines this file audits
      |  elsewhere: novelty = stored `doc_ids` membership streamed against
      |  a broadcast of the batch ids (batch-bounded output, index never
      |  shuffled), continuation bins from a bin-column-only aggregate
      |  broadcast into the batch's per-bucket running-offset window, and
      |  the artifact increment computed from the READ-BACK of exactly the
      |  files the commit publishes.
      |- **data_search_index_asof** — time travel with ARTIFACT pairing:
      |  identical plan shape to `data_search_index_serve` (pruned
      |  postings scan streamed through the query broadcast,
      |  vocabulary-sized dictionary stream, WindowGroupLimit top-k) —
      |  the pin selects version v's postings files AND version v's
      |  df/N artifact directories together; a later dictionary would
      |  flip idfs even over the correct old postings.
      |- **data_dedup_components_append** — the maintained CLUSTER index
      |  serve: one streamed index scan map-joined against the broadcast
      |  forwarding table (rep -> canonical, bounded by ever-superseded
      |  reps), then a component-size aggregate. The append inside the
      |  build memo is batch/artifact-bounded except one literal-IN
      |  shard-pruned index probe; merges write ONLY a new forwarding
      |  artifact version — stored rows are immutable, the incremental
      |  transitive-closure design.
      |- **data_dedup_band_index_asof** — the band family's time travel
      |  (data-only pin): same streamed-broadcast + shard-pruned plan
      |  as `data_dedup_band_index_serve`, over the pre-append
      |  version's file list. With this every maintained family
      |  time-travels at the query level.
      |- **data_sim_ivf_asof** — time travel ACROSS a retrain: the
      |  pinned serve routes with the OLD generation's centroid
      |  artifact over the OLD generation's cell files (the current
      |  quantizer's cells did not exist under the old model —
      |  structurally wrong probes, not subtly wrong scores). Plan
      |  shape identical to `data_sim_ivf_append`'s serve: bounded
      |  centroid broadcast, literal-IN cell pruning on the pinned
      |  file list, per-query WindowGroupLimit.
      |- **data_shard_tfrecord** — the wire-format roundtrip: one
      |  compiled `tfrecord_frame` + `tfrecord_parse` call per stored
      |  sequence inside whole-stage codegen (the JPEG fused-roundtrip
      |  precedent — CRCs re-derived from the actual bytes, never
      |  assumed), map-only over the pinned artifact scan, then one
      |  per-shard hash aggregate. No join, no shuffle beyond the
      |  aggregate.
      |- **data_dedup_components_asof / _compact / _stats** — the cluster
      |  family's lifecycle completion. The asof serve is plan-identical
      |  to `data_dedup_components_append`'s (streamed pinned scan ⋈
      |  broadcast forwarding), with BOTH sides pinned to the pre-merge
      |  manifest — version v's rows resolved with version v's
      |  forwarding table (the current table would predict merges into
      |  the past). The compact serve is the same plan over the FOLDED
      |  index: canonical reps baked into the rewritten shard rows, the
      |  broadcast side now an empty relation — folding bounds the one
      |  table every serve ships to every executor. The stats query is
      |  a 1-row artifact read (exact-incremented per append from
      |  batch-bounded merge-graph counts) + the dump sort — the gate
      |  receipt's component count costs no index scan at any size.
      |- **data_shard_tfrecord_files** — the file-level differential: one
      |  binaryFile scan of the `.tfrecord` artifact, `tfrecord_split` +
      |  per-record `tfrecord_parse` as codegen projections behind a
      |  posexplode (position + the filename's `-r<firstRank>` = the
      |  record's per-shard RANK, the written order contract — rank is
      |  contiguous by definition where bin numbers skip on oversized
      |  documents), one join back to the stored parquet rows on
      |  (shard, rank) — the parquet side recomputes the expected frame
      |  in its scan projection and is ranked by one per-shard
      |  row_number window over bin order — proving every payload
      |  survived the disk roundtrip at its bin's position, one
      |  per-shard hash aggregate. Both join sides reduce to ~60-byte
      |  DIGESTS map-side (md5 of the frame bytes; the bin:hex h52), so
      |  the window, shuffle, and join never move frame bytes or token
      |  arrays. Linear in artifact bytes; the write side
      |  (`writeTfRecordShards`) is repartition(shard) + a staged
      |  streaming per-task byte sink — no shard's bytes ever
      |  materialize.
      |- **data_shard_tfrecord_append** — the MAINTAINED wire-format
      |  artifact's differential: the serve plan is data_shard_tfrecord_
      |  files' exactly (binaryFile scan of the manifest-listed files —
      |  build and continuation alike — codegen split/parse, join back,
      |  per-shard aggregate). The APPEND itself scans only the source
      |  files added since the last sync (the "src" artifact's manifest
      |  delta), screens bins against a broadcast of the ≤16-row "bins"
      |  coverage artifact, and streams continuation frames through the
      |  staged speculation-safe sink — append cost is O(batch), the
      |  at-rest bytes never rewrite, and the read-back increment touches
      |  only the files that landed.
      |- **data_pipeline_e2e** — the four-hop maintained-pipeline
      |  composite (fate gate → survivor prune → tokenized shards →
      |  TFRecord mirror, each hop manifest-pinned to the upstream
      |  version it read). The SERVE plan audited here is the chain's
      |  final differential — identical in shape to
      |  data_shard_tfrecord_files (binaryFile scan of the mirror's
      |  manifest-listed files, codegen split/parse, digest-reduced
      |  join back, per-shard aggregate). The BUILD is the four hops
      |  themselves, each the already-audited operator it delegates to:
      |  fate's linear component joins + broadcast source gate, the
      |  pruned corpus's equi-join, the frozen-vocab pack append's
      |  broadcast novelty screen, and the mirror roll's O(batch)
      |  source-delta scan. The chain adds only 1-row lineage artifacts
      |  and manifest commits on top — no new shuffle anywhere.
      |- **data_pipeline_asof** — time travel across the whole lineage:
      |  the serve is data_pipeline_e2e's exact plan shape over PINNED
      |  manifests — the mirror's file list from `loadAt(tfrV1)`, the
      |  expected frames from `readDataAt(shards, srcPin)` where srcPin
      |  is the shard version the PINNED mirror's own `src` artifact
      |  names (artifact pairing: wire bytes checked against the exact
      |  table state they were framed from, never "the latest"). The
      |  pin resolution is two manifest reads; nothing else changes —
      |  same binaryFile scan, codegen split/parse, digest-reduced
      |  join, per-shard aggregate.
      |- **data_unigram_segment** — the Viterbi DP is a per-row HOF fold
      |  over the DISTINCT-word table (vocab-sized, like the BPE trainer)
      |  with the piece-cost map as a bounded literal; the corpus scan
      |  appears once, in the word-frequency aggregate.
      |
      |The final `Sort` over `Exchange SinglePartition, REPARTITION_BY_NUM`
      |in every dump is the deterministic result-dump sort (Out.ordered) —
      |single-task over final result rows only; the query body below the
      |exchange keeps full parallelism.
      |
      |## Unpartitioned-window audit (every `Window` without partitionBy)
      |
      |Exhaustive inventory (VERDICT r15 #6) of every Spark-side window
      |that moves its input to one partition, with the proof each input is
      |bounded (model/universe-sized), never O(corpus). `WindowExec: No
      |Partition Defined` warnings in a Verify log come from exactly these
      |sites and are expected.
      |
      || site | window | input bound |
      ||---|---|---|
      || `Similarity.fitCentroids` seed (`Similarity.scala`) | `row_number` over id | post-`limit(k)`: exactly k seed rows |
      || `TrainQueries.tokenizedDocs` vocab ids | `row_number` over sym | distinct final symbols of the trained table — vocab-sized (≤ base alphabet + merge rounds) |
      || `TrainQueries.curriculumPlan` terciles | cumsum over `n_tok` histogram | O(distinct token lengths) — the value-histogram percentile pattern |
      || `DataQueries.qualityThreshold` p75 | cumsum over `n_tok` histogram | same histogram pattern; the histogram is additionally persisted (one corpus pass, bounded cache) |
      || `DataQueries` bpe pair top-k (`data_bpe_pairs`) | `rank` over counts | post-`orderBy().limit(k)`: exactly k rows |
      || `RankFeatures.monthlyCountsRanked` | rank+pivot after explicit `coalesce(1)` | ≤ tiers × entities × 3 enum-like rows; the cardinality PRECONDITION is in the operator's scaladoc |
      || `ExportsEtl` / `GlobalAggs` | — | the reference's `OVER ()` windows are REWRITTEN as crossJoin-of-aggregates; no unpartitioned window exists in these plans |
      |
      |Every O(corpus) global computation in the repo (global aggregates,
      |percentiles, as-of alignment) goes through aggregate + broadcast
      |crossJoin or a partitioned window — the W1 pattern.
      |""".stripMargin

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = Sessions.start(4, aqe = false)
    spark.sparkContext.setLogLevel("ERROR")
    val sections = Audited.map { name =>
      val q = Registry.all.find(_._1 == name)
        .getOrElse(sys.error(s"unknown audited query $name"))._2
      val plan = q.build(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
        // Compact inlined literal vectors (broadcast centroids/weights):
        // a k×dim literal fold prints every double, ballooning the dump
        // to MBs without telling the auditor anything per-element.
        .replaceAll("\\[(-?[0-9.E-]+,){8,}-?[0-9.E-]+\\]", "[«literal-vec»]")
        // ...and cap pathological single lines (a k-cell argmin is ONE
        // Project line whose expression tree prints hundreds of KB): the
        // audit reads operators and exchanges, not full expression trees.
        .linesIterator.map { l =>
          if (l.length <= 2000) l
          else l.take(2000) + s" …(+${l.length - 2000} chars)"
        }.mkString("\n")
      s"## $name\n\n```\n${plan.trim}\n```\n"
    }
    Files.writeString(Paths.get(out), Header + "\n" + sections.mkString("\n"))
    println(s"wrote $out")
    spark.stop()
  }
}
