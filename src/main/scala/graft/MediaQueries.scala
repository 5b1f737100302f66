package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.data.Multimodal
import graft.functions.MediaFunctions
import graft.Out.OrderedOps

/** Feature-level multimodal queries over REAL container bytes (the
  * [[graft.functions.MediaCodecImpl]] WAV/BMP codecs): perceptual-hash
  * image dedup and frame-level audio features. Like `data_mm_decode`, the
  * oracles never touch the container bytes — they derive every value from
  * the SOURCE text (the encoders' input), so agreement proves the decode
  * and the integer feature arithmetic on top of it.
  */
object MediaQueries {

  /** PCM frame length for the audio feature extractor. */
  val FrameLen = 16

  /** Frame-energy threshold below which a frame counts as silence (sum of
    * squared PCM16 samples over a [[FrameLen]]-sample frame). */
  val SilenceTau = 1500000000L

  private[graft] val W = Multimodal.BmpWidth

  /** Memo-persisted per-image 56-bit perceptual difference-hash
    * (doc_id, phash) relation — the image-corpus analog of the text
    * exact-dedup content key: a near-dup fingerprint that survives
    * uniform brightness shifts (gradient signs, not absolute luminance),
    * computed by the FUSED `media_dhash` expression (one header parse +
    * one pixel pass per row, inside the scan's codegen — never a per-bit
    * re-decode). At rest the hash column is the Hamming-band join key
    * for threshold near-dup (the SimHash band pattern).
    *
    * Why the memo barrier: the dup-group aggregate, the join-back, the
    * pushed-down isNotNull filter AND the Hamming band fan-out all read
    * `phash` — without it, CollapseProject + predicate pushdown inline
    * the fused encode+decode+hash expression into every consumer (4
    * container decodes per row, observed in the plan audit). One decode
    * per row, cached; same pattern as `cmstoks`/`phraseocc`. (The
    * isNotNull filter stays OUTSIDE the memo: inside, predicate pushdown
    * would clone the fused expression into a pre-cache Filter and the
    * build would hash every row twice.) */
  private def hashedImages(spark: SparkSession, dir: String): DataFrame = {
    MediaFunctions.register(spark)
    import MediaFunctions.media_dhash
    Tables.memoBy(spark, s"mmphash:$dir") {
      Multimodal.packRealMedia(
          Tables.documents(spark, dir), "doc_id", "text")
        .select(col("doc_id"), media_dhash(col("payload")).as("phash"))
    }.where(col("phash").isNotNull)
  }

  private def mmPhash(spark: SparkSession, dir: String): DataFrame = {
    val hashed = hashedImages(spark, dir)
    val groups = hashed.groupBy(col("phash"))
      .agg(count(lit(1)).as("n_same_hash"), min(col("doc_id")).as("keeper"))
    hashed.join(groups, Seq("phash"))
      .select(col("doc_id"), col("phash"), col("n_same_hash"),
        (col("doc_id") > col("keeper")).as("is_dup"))
      .dumpOrdered("doc_id")
  }

  /** Frame-level audio features over decoded WAV payloads: per
    * [[FrameLen]]-sample frame, the energy (sum of squared samples —
    * integer domain, oracle-replayable), zero-crossing count (sign flips
    * between adjacent samples within the frame), and a silence flag — the
    * speech/music screening features an audio curation pipeline gates on.
    *
    * Scale: `media_values` decodes once per row into a materialized array
    * attribute; the frame fan-out is a Generate over the frame index that
    * FORWARDS that attribute (the decode does not re-run per frame), and
    * every per-frame feature is arithmetic on a 16-element slice. Map-only
    * end to end — featurization is a projection, never a shuffle. */
  private def mmAudioFrames(spark: SparkSession, dir: String): DataFrame = {
    MediaFunctions.register(spark)
    import MediaFunctions.media_values
    val s = Multimodal.packRealMedia(
        Tables.documents(spark, dir), "doc_id", "text")
      .where(col("doc_id") % 2 === 0)
      .select(col("doc_id"), media_values(col("payload")).as("samples"))
      .withColumn("k", floor(size(col("samples")) / FrameLen).cast("int"))
      .where(col("k") >= 1)
    val frames = s
      .select(col("doc_id"), col("samples"),
        explode(sequence(lit(0), col("k") - 1)).as("frame_id"))
      .withColumn("frame",
        slice(col("samples"), col("frame_id") * FrameLen + 1, lit(FrameLen)))
    frames
      .select(col("doc_id"), col("frame_id").cast("long").as("frame_id"),
        aggregate(col("frame"), lit(0L),
          (acc, v) => acc + v.cast("long") * v.cast("long")).as("energy"),
        size(filter(
          zip_with(slice(col("frame"), 1, FrameLen - 1),
            slice(col("frame"), 2, FrameLen - 1),
            (a, b) => a.cast("long") * b.cast("long")),
          p => p < 0)).cast("long").as("n_zero_cross"))
      .withColumn("is_silent", col("energy") < SilenceTau)
      .dumpOrdered("doc_id", "frame_id")
  }

  val ResizeDim = 4   // thumbnail grid (ResizeDim × ResizeDim)

  /** Nearest-neighbor thumbnail of every image: the fused `media_resize`
    * expression (one header parse + one OUTPUT-pixel pass per row — the
    * full-resolution pixel array is never materialized), dumped as the
    * pixel CSV plus its integer sum — the downsample step feeding any
    * image-embedding or near-dup pipeline. Map-only to the dump sort. */
  private def mmResize(spark: SparkSession, dir: String): DataFrame = {
    MediaFunctions.register(spark)
    import MediaFunctions.media_resize
    Multimodal.packRealMedia(Tables.documents(spark, dir), "doc_id", "text")
      .select(col("doc_id"),
        media_resize(col("payload"), ResizeDim, ResizeDim).as("px"))
      .where(col("px").isNotNull)
      .select(col("doc_id"), array_join(col("px"), ",").as("px_csv"),
        aggregate(col("px"), lit(0L), (a, v) => a + v).as("sum_px"))
      .dumpOrdered("doc_id")
  }

  val HamBands = 4    // 56-bit hash -> 4 bands of 14 bits
  val BandBits = 14
  val HamThresh = 3   // ≤ 3 differing bits can dirty at most 3 of the 4
                      // bands -> a clean shared band is GUARANTEED
                      // (pigeonhole), so banding is exact at this radius

  /** Hot-(band, bv) bucket cap for the image Hamming band join — same
    * rationale and guard as the text LSH
    * ([[graft.data.Dedup.capHotBuckets]]): a
    * 14-bit band value shared by more than this many DISTINCT hashes is
    * non-discriminative (e.g. an all-zero gradient band across a
    * flat-image corpus), and uncapped it makes the candidate join
    * quadratic in the bucket. Capping trades the pigeonhole exactness
    * guarantee ONLY for pairs whose every clean shared band is hot —
    * pairs that collide with a constant fraction of the corpus in all
    * four bands, i.e. the non-informative ones. */
  val HotBandCap = 64

  /** Distinct-hash near-dup pairs (pa < pb, Hamming ≤ [[HamThresh]]) —
    * the SimHash band pattern applied to images, at PHASH granularity:
    * the corpus first collapses to one row per distinct hash, so a
    * mega-cluster of identical images (the common case in a real crawl —
    * they share all four band values) enters the candidate join exactly
    * ONCE instead of quadratically. Candidates come ONLY from an
    * equi-join on (band, 14-bit band value) routed through the
    * [[HotBandCap]] guard (never an all-pairs comparison); the exact
    * Hamming distance is one XOR + popcount per candidate. Under a
    * 10k-identical-image corpus the collapse took 203M naive candidates
    * to 2. Shared by the pair dump and the cluster query. */
  private def repPairs(spark: SparkSession, dir: String): DataFrame = {
    val ph = hashedImages(spark, dir).select(col("phash")).distinct()
    val banded = ph.select(col("phash"),
        explode(array((0 until HamBands).map(b =>
          struct(lit(b.toLong).as("band"),
            shiftright(col("phash"), b * BandBits)
              .bitwiseAND(lit((1L << BandBits) - 1)).as("bv"))): _*)).as("bb"))
      .select(col("phash"), col("bb.band").as("band"), col("bb.bv").as("bv"))
    val capped = graft.data.Dedup.capHotBuckets(banded, Seq("band", "bv"),
      HotBandCap)
    val lhs = capped.select(col("band"), col("bv"), col("phash").as("pa"))
    val rhs = capped.select(col("band"), col("bv"), col("phash").as("pb"))
    lhs.join(rhs, Seq("band", "bv"))
      .where(col("pa") < col("pb"))
      .select(col("pa"), col("pb"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("pa").bitwiseXOR(col("pb"))).cast("long"))
      .where(col("hamming") <= HamThresh)
  }

  /** Doc-level near-dup pairs: the distinct-hash [[repPairs]] expanded
    * back to documents — cross-group pairs by joining each side's hash
    * group members (each doc has ONE hash, so no pair arises twice), plus
    * the within-group hamming-0 pairs of identical-hash clusters. The
    * expansion is output-sized by the query's emit-all-pairs contract;
    * the candidate GENERATION above stays linear + capped. */
  private def nearDupPairs(spark: SparkSession, dir: String): DataFrame = {
    val hashed = hashedImages(spark, dir)
    val cross = repPairs(spark, dir)
      .join(hashed.select(col("phash").as("pa"), col("doc_id").as("ida")),
        Seq("pa"))
      .join(hashed.select(col("phash").as("pb"), col("doc_id").as("idb")),
        Seq("pb"))
      .select(least(col("ida"), col("idb")).as("doc_a"),
        greatest(col("ida"), col("idb")).as("doc_b"), col("hamming"))
    val within = hashed.select(col("phash"), col("doc_id").as("doc_a"))
      .join(hashed.select(col("phash"), col("doc_id").as("doc_b")),
        Seq("phash"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), lit(0L).as("hamming"))
    cross.unionAll(within)
  }

  private def mmNearDup(spark: SparkSession, dir: String): DataFrame =
    nearDupPairs(spark, dir).dumpOrderedTail("doc_a", "doc_b")

  /** Image near-dup CLUSTERS: the pairwise Hamming matches close under
    * transitivity via the same min-label connected components the text
    * dedup uses ([[graft.data.Dedup.connectedComponents]]) — component
    * id = min doc_id, the canonical keeper per visual-duplicate group.
    *
    * Scale: the component graph never materializes the quadratic
    * within-cluster pair set — identical-hash groups enter as a STAR
    * (member → group keeper, linear in docs) which spans the same
    * connectivity as the clique, and cross-hash edges are the
    * [[repPairs]] at keeper granularity. Same pairs→groups→filter
    * production chain as `data_dedup_components`, applied to the image
    * modality. */
  private def mmComponents(spark: SparkSession, dir: String): DataFrame = {
    val hashed = hashedImages(spark, dir)
    val reps = hashed.groupBy(col("phash")).agg(min(col("doc_id")).as("rep"))
    val crossEdges = repPairs(spark, dir)
      .join(reps.select(col("phash").as("pa"), col("rep").as("ra")), Seq("pa"))
      .join(reps.select(col("phash").as("pb"), col("rep").as("rb")), Seq("pb"))
      .select(col("ra").as("src"), col("rb").as("dst"))
    val starEdges = hashed.join(reps, Seq("phash"))
      .where(col("doc_id") =!= col("rep"))
      .select(col("doc_id").as("src"), col("rep").as("dst"))
    val labels = graft.data.Dedup.connectedComponents(
      crossEdges.unionAll(starEdges), "src", "dst")
    val sizes = labels.groupBy(col("component"))
      .agg(count(lit(1)).as("component_size"))
    labels.join(sizes, Seq("component"))
      .select(col("id").as("doc_id"), col("component"), col("component_size"))
      .dumpOrdered("doc_id")
  }

  /** Decode + perceptual-hash over the THIRD container format — Netpbm
    * P5 PGM, the real-world uncompressed interchange graymap: every
    * document with at least one full pixel row packs into a real P5 file
    * (ASCII header + raw raster, [[graft.functions.MediaCodecImpl
    * .pgmEncode]]), and the fused `media_decode` + `media_dhash`
    * expressions parse it back. The oracle derives every value from the
    * SOURCE text, so agreement proves the header tokenizer, the unpadded
    * top-down raster walk, and that the dHash grid arithmetic is
    * container-independent (same phashCte as the BMP queries).
    *
    * Scale: map-only — encode, decode and hash are codegen'd expressions
    * in one projection (codegen subexpression elimination shares the
    * encode between the two consumers); featurization never shuffles. */
  private def mmPgmDecode(spark: SparkSession, dir: String): DataFrame = {
    MediaFunctions.register(spark)
    import MediaFunctions.{media_decode, media_dhash, pgm_encode}
    val pixels = Multimodal.grayPixels(col("text"))
    Tables.documents(spark, dir)
      .where(col("text").isNotNull && length(col("text")) >= W)
      .select(col("doc_id"), pgm_encode(pixels, W).as("payload"))
      .select(col("doc_id"), media_decode(col("payload")).as("m"),
        media_dhash(col("payload")).as("phash"))
      .select(col("doc_id"), col("m.format").as("format"),
        col("m.valid").as("valid"), col("m.width").as("width"),
        col("m.height").as("height"), col("m.n_values").as("n_values"),
        col("m.sum_val").as("sum_val"), col("m.min_val").as("min_val"),
        col("m.max_val").as("max_val"), col("phash"))
      .dumpOrdered("doc_id")
  }

  /** Decode + perceptual-hash over the FOURTH container format — PNG
    * (8-bit grayscale, real zlib-deflate IDAT): the same
    * encode-from-source-text differential as [[mmPgmDecode]], but the
    * container is COMPRESSED and scanline-FILTERED — `png_encode` cycles
    * all five PNG filters across rows, so oracle agreement proves the
    * CRC-verified chunk walk, the real `Inflater` decompression, and
    * every filter inverse (Sub/Up/Average/Paeth reconstruct from
    * already-reconstructed neighbors — a wrong unfilter corrupts every
    * later pixel of the row/image and the integer stats catch it).
    *
    * Scale: map-only, same shape as the PGM query — encode, decode and
    * hash are expressions in one projection; featurization never
    * shuffles. The deflate round-trip adds per-row CPU, not plan
    * structure. */
  private def mmPngDecode(spark: SparkSession, dir: String): DataFrame = {
    MediaFunctions.register(spark)
    import MediaFunctions.{media_decode, media_dhash, png_encode}
    val pixels = Multimodal.grayPixels(col("text"))
    Tables.documents(spark, dir)
      .where(col("text").isNotNull && length(col("text")) >= W)
      .select(col("doc_id"), png_encode(pixels, W).as("payload"))
      .select(col("doc_id"), media_decode(col("payload")).as("m"),
        media_dhash(col("payload")).as("phash"))
      .select(col("doc_id"), col("m.format").as("format"),
        col("m.valid").as("valid"), col("m.width").as("width"),
        col("m.height").as("height"), col("m.n_values").as("n_values"),
        col("m.sum_val").as("sum_val"), col("m.min_val").as("min_val"),
        col("m.max_val").as("max_val"), col("phash"))
      .dumpOrdered("doc_id")
  }

  /** Color-PNG decode differential over the two remaining real-crawl PNG
    * color types: every document's text derives THREE channel streams
    * (r = c%256, g = (3c+7)%256, b = (5c+11)%256), even doc_ids pack
    * them as TRUECOLOR (type 2: 3-byte pixels, bpp-offset filters), odd
    * doc_ids as PALETTE (type 3: first-appearance PLTE + 1-byte indices,
    * ≤64 distinct colors by construction — the code list caps at 64),
    * and `media_decode_rgb` must reproduce the per-channel integer sums
    * the oracle derives from the text alone — proving the
    * Paeth-over-bpp=3 inverses and the PLTE dereference channel by
    * channel (a one-byte-off filter reference corrupts every later
    * pixel of the image and shifts the sums).
    *
    * Scale: map-only like every media featurization — encode and decode
    * are codegen'd expressions in one projection; no shuffle. */
  private def mmPngRgbDecode(spark: SparkSession, dir: String): DataFrame = {
    MediaFunctions.register(spark)
    graft.functions.TextPixelFunctions.register(spark)
    import MediaFunctions.{media_decode_rgb, png_encode_pal, png_encode_rgb}
    // compiled packed-pixel build (bit-parity with the HOF form
    // pinned in MediaProps) — the interpreted transform chain was the
    // image family's measured scan hot spot
    val px = graft.functions.TextPixelFunctions
      .text_rgb_pixels(col("text"), 64, W)
    Tables.documents(spark, dir)
      .where(col("text").isNotNull && length(col("text")) >= W)
      .select(col("doc_id"),
        when(col("doc_id") % 2 === 0, png_encode_rgb(px, W))
          .otherwise(png_encode_pal(px, W)).as("payload"))
      .select(col("doc_id"), media_decode_rgb(col("payload")).as("m"))
      .select(col("doc_id"), col("m.format").as("format"),
        col("m.valid").as("valid"), col("m.width").as("width"),
        col("m.height").as("height"), col("m.n_pixels").as("n_pixels"),
        col("m.sum_r").as("sum_r"), col("m.sum_g").as("sum_g"),
        col("m.sum_b").as("sum_b"), col("m.min_val").as("min_val"),
        col("m.max_val").as("max_val"))
      .dumpOrdered("doc_id")
  }

  /** JPEG roundtrip bands: fixed encode quality plus the error
    * tolerances the query's booleans embed. Measured at q=90 over the
    * text-derived pixels: max per-pixel |err| = 21 and max
    * per-doc mean drift = 0.43 across 500k docs at sf10 — the bands sit
    * 3–5× above (the sketch-approx convention), so a near-threshold doc
    * flipping one engine's boolean is implausible at any SF. */
  val JpegQuality = 90
  val JpegPixTol = 64
  val JpegMeanTol = 2.0

  /** Decode differential for the LOSSY real-crawl format: grayscale
    * baseline JPEG through the JDK's ImageIO codec
    * ([[graft.functions.JpegCodecImpl]]). JPEG's loss rules out the
    * bit-exact oracle every other container has, so this query uses the
    * `ref_sketch_approx` contract: validity, geometry and pixel count
    * hash-compare EXACTLY, and the decode quality is asserted through
    * engine-side tolerance booleans (Spark compares its REAL decode
    * against the source pixels; the oracle's expectation is trivially
    * true by construction — the differential still proves the encode →
    * decode pipeline ran, returned the right geometry everywhere, and
    * stayed inside the measured loss band corpus-wide).
    *
    * Scale: map-only — encode, decode and the error folds are
    * expressions in one projection; no shuffle. */
  private def mmJpegDecode(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.JpegFunctions.register(spark)
    import graft.functions.JpegFunctions._
    // the FUSED roundtrip (encode → decode → bands, one compiled pass;
    // JpegCodecSpec pins boolean parity with the composed
    // encode→decode→HOF-folds chain): the interpreted folds, not the
    // codec, were the measured 3.3×-row hot spot
    Tables.documents(spark, dir)
      .where(col("text").isNotNull && length(col("text")) >= W)
      .select(col("doc_id"), jpeg_roundtrip_gray(
        Multimodal.fullRowPixels(col("text")), W, JpegQuality,
        JpegPixTol, JpegMeanTol).as("m"))
      .select(col("doc_id"), col("m.format").as("format"),
        col("m.valid").as("valid"), col("m.width").as("width"),
        col("m.height").as("height"), col("m.n_values").as("n_values"),
        col("m.mean_within_tol").as("mean_within_tol"),
        col("m.pixels_within_tol").as("pixels_within_tol"))
      .dumpOrdered("doc_id")
  }

  /** Color-JPEG roundtrip bands, shaped by what 4:2:0 chroma
    * subsampling (the JDK writer applies it at EVERY quality) actually
    * preserves: LUMA stays full-resolution — measured max per-pixel
    * luma error 20 at q=90 over the packed text-derived pixels
    * (RGB mode), band 3× above — while per-pixel CHROMA of
    * noise-like synthetic pixels is structurally destroyed (measured
    * max per-channel error 194 — a per-pixel channel band would be
    * vacuous at any honest setting), so chroma is asserted in
    * AGGREGATE: per-channel mean drift, measured max 3.14, band ~4×
    * above. The sketch-approx convention throughout. */
  val JpegRgbLumaTol = 64
  val JpegRgbMeanTol = 12.0

  /** Color decode differential for the lossy real-crawl format: 3-band
    * YCbCr baseline JPEG through the same ImageIO codec
    * ([[graft.functions.JpegCodecImpl.encodeRgb]]/`decodeRgb`), same
    * packed-0xRRGGBB pixel derivation as the PNG truecolor query. Same
    * `ref_sketch_approx` contract as the gray query: validity, geometry
    * and pixel count hash-compare EXACTLY; decode quality is asserted
    * through per-CHANNEL mean-drift booleans plus a whole-image
    * per-pixel LUMA band — the two statistics 4:2:0 subsampling
    * actually preserves (Spark checks its real decode against the
    * source; the oracle's expectation is true by construction).
    *
    * Scale: map-only — encode, decode and the error folds are
    * expressions in one projection; no shuffle. */
  private def mmJpegRgbDecode(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.JpegFunctions.register(spark)
    graft.functions.TextPixelFunctions.register(spark)
    import graft.functions.JpegFunctions.jpeg_roundtrip_rgb
    import graft.functions.TextPixelFunctions.text_rgb_pixels
    // fused like the gray twin (JpegCodecSpec pins boolean parity with
    // the composed encode→decode→per-channel-fold chain)
    Tables.documents(spark, dir)
      .where(col("text").isNotNull && length(col("text")) >= W)
      .select(col("doc_id"), jpeg_roundtrip_rgb(
        text_rgb_pixels(col("text"), 64, W), W, JpegQuality,
        JpegRgbLumaTol, JpegRgbMeanTol).as("m"))
      .select(col("doc_id"), col("m.format").as("format"),
        col("m.valid").as("valid"), col("m.width").as("width"),
        col("m.height").as("height"), col("m.n_pixels").as("n_pixels"),
        col("m.mean_r_within_tol").as("mean_r_within_tol"),
        col("m.mean_g_within_tol").as("mean_g_within_tol"),
        col("m.mean_b_within_tol").as("mean_b_within_tol"),
        col("m.luma_within_tol").as("luma_within_tol"))
      .dumpOrdered("doc_id")
  }

  val ReelFrames = 9  // frames per reel
  val ReelGroup = 3   // consecutive same-content frames per scene
  val ReelShift = 7   // pixel rotation per scene change (= one row at W=7)

  /** Hot-frame-hash cap for the reel overlap join — a frame hash shared
    * by more than this many DISTINCT reels (e.g. a flat-gradient title
    * card every video opens with) is non-discriminative, and uncapped it
    * makes the shared-frame candidate join quadratic in the hash's reel
    * set. Same guard rationale as [[HotBandCap]] / the text LSH cap. */
  val ReelHashCap = 64

  /** Minimum shared distinct frame hashes for a reel pair to surface —
    * one shared frame is noise; two shared scenes of synthetic footage
    * is evidence of copied content. */
  val ReelMinShared = 2

  /** VIDEO-shaped scene-cut detection over a REAL frame container: every
    * document packs into a reel of [[ReelFrames]] stacked complete BMP
    * frames (each scene of [[ReelGroup]] frames shares one pixel
    * rotation; the next scene rotates by [[ReelShift]] more — synthetic
    * footage with known cut structure), the fused `media_reel_dhash`
    * expression walks the container ONCE (frame lengths self-described
    * by the BMP size field) emitting one perceptual hash per frame, and
    * a per-document lag window flags frames whose Hamming distance to
    * the previous frame exceeds [[HamThresh]] — the frame-sampling +
    * temporal-dedup step of a video curation pipeline. The oracle
    * derives every frame's hash from the SOURCE text (rotation replayed
    * on the pixel list), so agreement proves the stacked-container walk
    * and the per-frame decode.
    *
    * Scale: packing + hashing are codegen'd expressions in a map-only
    * projection (the rotated pixel list materializes once per row —
    * CollapseProject keeps the multi-consumer non-cheap projection in
    * its own Project); the only shuffle is the per-DOCUMENT lag window
    * (frames of one doc are one partition's worth of rows, never a
    * global window). */
  /** Memo-persisted per-document reel frame hashes (doc_id, hs) — every
    * document packed into its [[ReelFrames]]-frame stacked-BMP reel and
    * walked ONCE by the fused `media_reel_dhash` expression. Shared by
    * the scene-cut and reel-overlap queries (one pack + hash per
    * document across the family, not per consumer).
    *
    * Why the memo barrier: posexplode's implicit size(hs) > 0 filter
    * would otherwise push below the projection and CLONE the whole
    * 9-frame encode+hash expression into a pre-projection Filter (every
    * row packed and hashed twice — caught in the plan audit; the same
    * fan-out trap as [[hashedImages]]). The cheap text-length filter
    * stays INSIDE (it references only the raw column, so its pushdown
    * reaches the scan). */
  private def reelHashes(spark: SparkSession, dir: String): DataFrame = {
    MediaFunctions.register(spark)
    import MediaFunctions.{bmp_encode, media_reel_dhash}
    val pixFull = Multimodal.fullRowPixels(col("text"))
    def frame(pix: Column, f: Int): Column = {
      val n = size(pix)
      val r = (lit(((f / ReelGroup) * ReelShift).toLong) % n).cast("int")
      bmp_encode(concat(slice(pix, r + lit(1), n - r), slice(pix, lit(1), r)), W)
    }
    Tables.memoBy(spark, s"mmreel:$dir") {
      Tables.documents(spark, dir)
        .where(col("text").isNotNull && length(col("text")) >= W)
        .select(col("doc_id"), pixFull.as("pix"))
        .select(col("doc_id"), media_reel_dhash(concat(
          (0 until ReelFrames).map(f => frame(col("pix"), f)): _*)).as("hs"))
    }
  }

  private def mmSceneCuts(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_id"))
    reelHashes(spark, dir)
      .select(col("doc_id"),
        posexplode(col("hs")).as(Seq("frame_id", "phash")))
      .withColumn("hamming_prev",
        bit_count(col("phash").bitwiseXOR(lag(col("phash"), 1).over(w)))
          .cast("long"))
      .select(col("doc_id"), col("frame_id").cast("long").as("frame_id"),
        col("phash"), col("hamming_prev"),
        coalesce(col("hamming_prev") > HamThresh, lit(false)).as("is_cut"))
      .dumpOrdered("doc_id", "frame_id")
  }

  /** Reel-vs-reel CONTENT OVERLAP — the video analog of containment
    * dedup: two reels sharing ≥ [[ReelMinShared]] distinct frame hashes
    * are duplicate-content candidates, scored by frame containment
    * (shared / min frame count, the video MinHash-containment measure a
    * crawl dedup pipeline gates re-uploads on).
    *
    * Scale: the candidate join is an equi-join on frame HASH — never
    * reel×reel — and routes through the [[ReelHashCap]] hot-hash guard,
    * so a title card shared by a constant fraction of the corpus cannot
    * make candidates quadratic. Frames first collapse to DISTINCT
    * (doc, hash) so a static 9-frame reel contributes each hash once;
    * n_shared then comes from a map-side-combinable count per pair. */
  private def mmReelOverlap(spark: SparkSession, dir: String): DataFrame = {
    val frames = reelHashes(spark, dir)
      .select(col("doc_id"), explode(col("hs")).as("phash"))
      .distinct()
    val nf = frames.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"))
    val keep = frames.groupBy(col("phash"))
      .agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") <= ReelHashCap)
      .select(col("phash"))
    val dk = frames.join(keep, Seq("phash"))
    val pairs = dk.select(col("phash"), col("doc_id").as("doc_a"))
      .join(dk.select(col("phash"), col("doc_id").as("doc_b")), Seq("phash"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= ReelMinShared)
    pairs
      .join(nf.select(col("doc_id").as("doc_a"),
        col("n_frames").as("n_frames_a")), Seq("doc_a"))
      .join(nf.select(col("doc_id").as("doc_b"),
        col("n_frames").as("n_frames_b")), Seq("doc_b"))
      .withColumn("containment", col("n_shared").cast("double")
        / least(col("n_frames_a"), col("n_frames_b")).cast("double"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        col("n_frames_a"), col("n_frames_b"), col("containment"),
        (col("containment") >= 0.5).as("is_dup"))
      .dumpOrdered("doc_a", "doc_b")
  }

  /** Text-code CTE shared by the oracles (same derivation as the
    * `data_mm_decode` oracle). */
  private def codesCte(where: String): String =
    s"""c AS (
       |  SELECT doc_id,
       |    list_transform(range(1, least(length(text), 64) + 1),
       |      i -> ascii(substr(text, i, 1))) AS codes
       |  FROM documents $where)""".stripMargin

  /** Pixel-derivation CTEs (codes → full-row pixel list → valid images
    * with height) — one source of truth for every image oracle. */
  private val pixCtes: String =
    s"""p AS (
       |  SELECT doc_id,
       |    list_transform(codes[1:(len(codes) // $W) * $W], c -> c % 256)
       |      AS pix
       |  FROM c),
       |img AS (
       |  SELECT doc_id, pix, len(pix) // $W AS h FROM p
       |  WHERE len(pix) >= $W)""".stripMargin

  /** Band fan-out + Hamming-cut pair CTEs over `ph` — the exact twin of
    * the Spark plan: distinct-hash banding, the [[HotBandCap]] hot-bucket
    * drop, rep-level candidates, then expansion back to doc pairs (cross
    * groups + within-group hamming-0). Shared by the near-dup pair and
    * cluster oracles. */
  private val pairCtes: String =
    s"""g AS (SELECT DISTINCT phash FROM ph),
       |b AS (
       |  SELECT phash, r AS band,
       |    (phash >> (r * $BandBits)) & ${(1L << BandBits) - 1} AS bv
       |  FROM g, (SELECT unnest(range(0, $HamBands)) AS r) s),
       |keep AS (
       |  SELECT band, bv FROM b GROUP BY band, bv
       |  HAVING count(*) <= $HotBandCap),
       |bk AS (SELECT b.* FROM b JOIN keep USING (band, bv)),
       |rp AS (
       |  SELECT pa, pb, CAST(bit_count(xor(pa, pb)) AS BIGINT) AS hamming
       |  FROM (
       |    SELECT DISTINCT a.phash AS pa, b2.phash AS pb
       |    FROM bk a JOIN bk b2
       |      ON a.band = b2.band AND a.bv = b2.bv AND a.phash < b2.phash) z
       |  WHERE bit_count(xor(pa, pb)) <= $HamThresh),
       |pairs AS (
       |  SELECT least(ma.doc_id, mb.doc_id) AS doc_a,
       |         greatest(ma.doc_id, mb.doc_id) AS doc_b, hamming
       |  FROM rp JOIN ph ma ON ma.phash = rp.pa
       |          JOIN ph mb ON mb.phash = rp.pb
       |  UNION ALL
       |  SELECT x.doc_id, y.doc_id, CAST(0 AS BIGINT)
       |  FROM ph x JOIN ph y
       |    ON x.phash = y.phash AND x.doc_id < y.doc_id)""".stripMargin

  /** 56-bit dHash replay formula over any (pixel-list, height) column
    * pair — ONE source of truth for the single-image and per-frame
    * oracles (a grid/truncation rule change edits exactly one string). */
  private def duckPhash(pix: String, h: String): String =
    s"""CAST(list_sum(list_transform(range(0, 56), i ->
       |      CASE WHEN $pix[((i // 7) * $h // 8) * $W + ((i % 7) * $W // 8) + 1]
       |              < $pix[((i // 7) * $h // 8) * $W
       |                    + (((i % 7) + 1) * $W // 8) + 1]
       |           THEN CAST(1 AS BIGINT) << i ELSE CAST(0 AS BIGINT) END))
       |      AS BIGINT)""".stripMargin

  private val phashCte: String =
    s"""ph AS (
       |  SELECT doc_id, ${duckPhash("pix", "h")} AS phash
       |  FROM img)""".stripMargin

  /** Per-frame reel hash replay CTEs over `img` — the exact twin of the
    * Spark reel packing: frame f rotates the pixel list left by
    * `((f // ReelGroup) * ReelShift) % len(pix)` (rotation preserves
    * length, so the frame keeps the document's height) and each rotated
    * frame hashes through the shared [[duckPhash]] formula. Produces
    * `ph2(doc_id, f, phash)`; shared by the scene-cut and reel-overlap
    * oracles, and NEVER touches the container bytes — agreement proves
    * the stacked-BMP walk. */
  private val reelCtes: String =
    s"""fr2 AS (
       |  SELECT doc_id, h, r AS f,
       |    CAST(((r // $ReelGroup) * $ReelShift) % len(pix) AS INTEGER)
       |      AS rot,
       |    pix
       |  FROM img, (SELECT unnest(range(0, $ReelFrames)) AS r) s),
       |rx AS (
       |  SELECT doc_id, h, f,
       |    pix[rot + 1 : len(pix)] || pix[1 : rot] AS rpix
       |  FROM fr2),
       |ph2 AS (
       |  SELECT doc_id, f, ${duckPhash("rpix", "h")} AS phash
       |  FROM rx)""".stripMargin

  def defs: Seq[(String, Q)] = Seq(

    "data_mm_phash" -> Q(mmPhash, Some(
      s"""WITH ${codesCte("WHERE doc_id % 2 = 1 AND doc_id % 10 <> 3")},
         |$pixCtes,
         |$phashCte,
         |g AS (
         |  SELECT phash, count(*) AS n_same_hash, min(doc_id) AS keeper
         |  FROM ph GROUP BY phash)
         |SELECT ph.doc_id, ph.phash, g.n_same_hash,
         |  ph.doc_id > g.keeper AS is_dup
         |FROM ph JOIN g USING (phash) ORDER BY doc_id""".stripMargin)),

    "data_mm_resize" -> Q(mmResize, Some {
      val D = ResizeDim
      s"""WITH ${codesCte("WHERE doc_id % 2 = 1 AND doc_id % 10 <> 3")},
         |$pixCtes,
         |r AS (
         |  SELECT doc_id,
         |    list_transform(range(0, ${D * D}), i ->
         |      pix[((i // $D) * h // $D) * $W + ((i % $D) * $W // $D) + 1])
         |      AS px
         |  FROM img)
         |SELECT doc_id, array_to_string(px, ',') AS px_csv,
         |  CAST(list_sum(px) AS BIGINT) AS sum_px
         |FROM r ORDER BY doc_id""".stripMargin
    }),

    "data_mm_neardup" -> Q(mmNearDup, Some(
      s"""WITH ${codesCte("WHERE doc_id % 2 = 1 AND doc_id % 10 <> 3")},
         |$pixCtes,
         |$phashCte,
         |$pairCtes
         |SELECT doc_a, doc_b, hamming FROM pairs
         |ORDER BY doc_a, doc_b""".stripMargin)),

    "data_mm_components" -> Q(mmComponents, Some(
      s"""WITH RECURSIVE ${codesCte("WHERE doc_id % 2 = 1 AND doc_id % 10 <> 3")},
         |$pixCtes,
         |$phashCte,
         |$pairCtes,
         |bi AS (SELECT doc_a AS s, doc_b AS d FROM pairs
         |       UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(id, r) AS (
         |  SELECT s, s FROM bi
         |  UNION
         |  SELECT e.d, reach.r FROM reach JOIN bi e ON reach.id = e.s),
         |comp AS (SELECT id AS doc_id, min(r) AS component FROM reach
         |         GROUP BY id),
         |sz AS (SELECT component, count(*) AS component_size FROM comp
         |       GROUP BY component)
         |SELECT c.doc_id, c.component, s2.component_size
         |FROM comp c JOIN sz s2 ON c.component = s2.component
         |ORDER BY doc_id""".stripMargin)),

    "data_mm_pgm_decode" -> Q(mmPgmDecode, Some(
      s"""WITH ${codesCte("")},
         |$pixCtes,
         |$phashCte
         |SELECT i.doc_id, 'pgm' AS format, true AS valid,
         |  CAST($W AS INTEGER) AS width, CAST(i.h AS INTEGER) AS height,
         |  CAST(len(i.pix) AS BIGINT) AS n_values,
         |  CAST(list_sum(i.pix) AS BIGINT) AS sum_val,
         |  CAST(list_min(i.pix) AS BIGINT) AS min_val,
         |  CAST(list_max(i.pix) AS BIGINT) AS max_val,
         |  ph.phash
         |FROM img i JOIN ph USING (doc_id) ORDER BY doc_id""".stripMargin)),

    "data_mm_png_decode" -> Q(mmPngDecode, Some(
      s"""WITH ${codesCte("")},
         |$pixCtes,
         |$phashCte
         |SELECT i.doc_id, 'png' AS format, true AS valid,
         |  CAST($W AS INTEGER) AS width, CAST(i.h AS INTEGER) AS height,
         |  CAST(len(i.pix) AS BIGINT) AS n_values,
         |  CAST(list_sum(i.pix) AS BIGINT) AS sum_val,
         |  CAST(list_min(i.pix) AS BIGINT) AS min_val,
         |  CAST(list_max(i.pix) AS BIGINT) AS max_val,
         |  ph.phash
         |FROM img i JOIN ph USING (doc_id) ORDER BY doc_id""".stripMargin)),

    "data_mm_png_rgb_decode" -> Q(mmPngRgbDecode, Some(
      s"""WITH ${codesCte("")},
         |pc AS (SELECT doc_id, codes[1:(len(codes) // $W) * $W] AS cs FROM c),
         |img AS (
         |  SELECT doc_id,
         |    list_transform(cs, x -> x % 256) AS r,
         |    list_transform(cs, x -> (x * 3 + 7) % 256) AS g,
         |    list_transform(cs, x -> (x * 5 + 11) % 256) AS b,
         |    len(cs) // $W AS h
         |  FROM pc WHERE len(cs) >= $W)
         |SELECT doc_id,
         |  CASE WHEN doc_id % 2 = 0 THEN 'png-rgb' ELSE 'png-pal' END
         |    AS format,
         |  true AS valid,
         |  CAST($W AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
         |  CAST(len(r) AS BIGINT) AS n_pixels,
         |  CAST(list_sum(r) AS BIGINT) AS sum_r,
         |  CAST(list_sum(g) AS BIGINT) AS sum_g,
         |  CAST(list_sum(b) AS BIGINT) AS sum_b,
         |  CAST(least(list_min(r), list_min(g), list_min(b)) AS BIGINT)
         |    AS min_val,
         |  CAST(greatest(list_max(r), list_max(g), list_max(b)) AS BIGINT)
         |    AS max_val
         |FROM img ORDER BY doc_id""".stripMargin)),

    "data_mm_jpeg_decode" -> Q(mmJpegDecode, Some(
      s"""WITH ${codesCte("")},
         |$pixCtes
         |SELECT doc_id, 'jpeg' AS format, true AS valid,
         |  CAST($W AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
         |  CAST(len(pix) AS BIGINT) AS n_values,
         |  true AS mean_within_tol, true AS pixels_within_tol
         |FROM img ORDER BY doc_id""".stripMargin)),

    "data_mm_jpeg_rgb_decode" -> Q(mmJpegRgbDecode, Some(
      s"""WITH ${codesCte("")},
         |pc AS (SELECT doc_id, codes[1:(len(codes) // $W) * $W] AS cs
         |       FROM c),
         |img AS (SELECT doc_id, len(cs) AS n, len(cs) // $W AS h FROM pc
         |        WHERE len(cs) >= $W)
         |SELECT doc_id, 'jpeg' AS format, true AS valid,
         |  CAST($W AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
         |  CAST(n AS BIGINT) AS n_pixels,
         |  true AS mean_r_within_tol, true AS mean_g_within_tol,
         |  true AS mean_b_within_tol, true AS luma_within_tol
         |FROM img ORDER BY doc_id""".stripMargin)),

    "data_mm_scene_cuts" -> Q(mmSceneCuts, Some(
      s"""WITH ${codesCte("")},
         |$pixCtes,
         |$reelCtes,
         |lg AS (
         |  SELECT doc_id, f, phash,
         |    lag(phash) OVER (PARTITION BY doc_id ORDER BY f) AS prev
         |  FROM ph2)
         |SELECT doc_id, CAST(f AS BIGINT) AS frame_id, phash,
         |  CAST(bit_count(xor(phash, prev)) AS BIGINT) AS hamming_prev,
         |  COALESCE(bit_count(xor(phash, prev)) > $HamThresh, false) AS is_cut
         |FROM lg ORDER BY doc_id, frame_id""".stripMargin)),

    "data_mm_reel_overlap" -> Q(mmReelOverlap, Some(
      s"""WITH ${codesCte("")},
         |$pixCtes,
         |$reelCtes,
         |df AS (SELECT DISTINCT doc_id, phash FROM ph2),
         |nf AS (SELECT doc_id, count(*) AS n_frames FROM df GROUP BY doc_id),
         |keep AS (
         |  SELECT phash FROM df GROUP BY phash
         |  HAVING count(*) <= $ReelHashCap),
         |dk AS (SELECT df.* FROM df JOIN keep USING (phash)),
         |pr AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    count(*) AS n_shared
         |  FROM dk a JOIN dk b
         |    ON a.phash = b.phash AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |  HAVING count(*) >= $ReelMinShared)
         |SELECT pr.doc_a, pr.doc_b, pr.n_shared,
         |  na.n_frames AS n_frames_a, nb.n_frames AS n_frames_b,
         |  CAST(pr.n_shared AS DOUBLE)
         |    / CAST(least(na.n_frames, nb.n_frames) AS DOUBLE) AS containment,
         |  CAST(pr.n_shared AS DOUBLE)
         |    / CAST(least(na.n_frames, nb.n_frames) AS DOUBLE) >= 0.5
         |    AS is_dup
         |FROM pr JOIN nf na ON pr.doc_a = na.doc_id
         |        JOIN nf nb ON pr.doc_b = nb.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin)),

    "data_mm_audio_frames" -> Q(mmAudioFrames, Some(
      s"""WITH ${codesCte("WHERE doc_id % 2 = 0")},
         |s AS (
         |  SELECT doc_id,
         |    list_transform(codes, c -> ((c % 128) - 64) * 256) AS samples
         |  FROM c),
         |k AS (
         |  SELECT doc_id, samples, len(samples) // $FrameLen AS k FROM s
         |  WHERE len(samples) >= $FrameLen),
         |f AS (
         |  SELECT doc_id, samples, unnest(range(0, k)) AS frame_id FROM k),
         |fr AS (
         |  SELECT doc_id, frame_id,
         |    samples[frame_id * $FrameLen + 1 : frame_id * $FrameLen + $FrameLen]
         |      AS frame
         |  FROM f),
         |feat AS (
         |  SELECT doc_id, CAST(frame_id AS BIGINT) AS frame_id,
         |    CAST(list_sum(list_transform(frame,
         |      v -> CAST(v AS BIGINT) * v)) AS BIGINT) AS energy,
         |    CAST(len(list_filter(range(1, $FrameLen), i ->
         |      CAST(frame[i] AS BIGINT) * frame[i + 1] < 0)) AS BIGINT)
         |      AS n_zero_cross
         |  FROM fr)
         |SELECT doc_id, frame_id, energy, n_zero_cross,
         |  energy < $SilenceTau AS is_silent
         |FROM feat ORDER BY doc_id, frame_id""".stripMargin)))
}
