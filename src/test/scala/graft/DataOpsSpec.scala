package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.data.{Dedup, Similarity, TextAnalysis}

/** Unit-level edge cases for the training-data operators. */
class DataOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def pin(p: String) = graft.data.IndexManifest.load(spark, p).get

  test("minhashSigAgg is bit-identical to the per-row HOF signature") {
    // The aggregate form is the scale path (codegen'd md5s, map-side
    // minima); the HOF expression is the composable form. Same values —
    // including the all-null signature for empty shingle arrays.
    val docs = Seq(
      (1L, Seq("a b c", "b c d", "c d e")),
      (2L, Seq("a b c")),
      (3L, Seq.empty[String])
    ).toDF("doc_id", "sh")
    val k = 5
    val hof = docs
      .select($"doc_id", graft.data.Dedup.minhashSig($"sh", k).as("sig"))
      .orderBy("doc_id").as[(Long, Seq[Option[String]])].collect().toSeq
    val agg = graft.data.Dedup.minhashSigAgg(docs, "doc_id", "sh", k)
      .orderBy("doc_id").as[(Long, Seq[Option[String]])].collect().toSeq
    assert(agg == hof)
    assert(agg.find(_._1 == 3L).get._2 == Seq.fill(k)(None))
  }

  test("MinHashSig expression is bit-identical to the HOF definition") {
    // minhashSig now routes through the one-pass compiled expression;
    // the HOF form is the semantic definition (and the DuckDB oracle's
    // shape). Any divergence desynchronizes the LSH family from its
    // oracles, so assert identity across the awkward inputs: NULL array,
    // empty array, NULL elements, repeated shingles, multi-byte UTF-8.
    val docs = Seq(
      (1L, Seq("a b c", "b c d", "c d e", "a b c")),
      (2L, Seq("solo")),
      (3L, Seq.empty[String]),
      (4L, null.asInstanceOf[Seq[String]]),
      (5L, Seq("héllo wörld ünïcode", "日本語 テスト one")),
      (6L, Seq(null, "after-null", null))
    ).toDF("doc_id", "sh")
    val k = 7
    val fast = docs.select($"doc_id", Dedup.minhashSig($"sh", k).as("sig"))
      .orderBy("doc_id").as[(Long, Option[Seq[Option[String]]])].collect().toSeq
    val hof = docs.select($"doc_id", Dedup.minhashSigHof($"sh", k).as("sig"))
      .orderBy("doc_id").as[(Long, Option[Seq[Option[String]]])].collect().toSeq
    assert(fast == hof)
    // NULL array behaves like empty: the outer transform runs over the
    // seed sequence either way -> k NULLs, never a NULL array.
    assert(fast.find(_._1 == 4L).get._2.get.forall(_.isEmpty))
    assert(fast.find(_._1 == 3L).get._2.get.forall(_.isEmpty))
  }

  test("WordShingles expression is bit-identical to the HOF definition") {
    // shingles() now routes through the one-pass compiled expression; the
    // HOF form is the semantic definition (and the DuckDB oracles'
    // shape). Divergence desynchronizes every shingle consumer from its
    // oracle, so assert identity across the awkward inputs: NULL array,
    // short array, empty strings, NULL elements (concat_ws skips them),
    // multi-byte UTF-8, and both widths the queries use (2 and 3).
    val docs = Seq(
      (1L, Seq("a", "b", "c", "d")),
      (2L, Seq("solo")),
      (3L, Seq.empty[String]),
      (4L, null.asInstanceOf[Seq[String]]),
      (5L, Seq("", "x", "", "y")),
      (6L, Seq("héllo", "wörld", "日本語", "テスト")),
      (7L, Seq(null, "mid", null, "end"))
    ).toDF("doc_id", "w")
    for (n <- Seq(2, 3)) {
      val fast = docs.select($"doc_id", TextAnalysis.shingles($"w", n).as("sh"))
        .orderBy("doc_id").as[(Long, Seq[String])].collect().toSeq
      val hof = docs.select($"doc_id", TextAnalysis.shinglesHof($"w", n).as("sh"))
        .orderBy("doc_id").as[(Long, Seq[String])].collect().toSeq
      assert(fast == hof, s"n=$n")
      // NULL and short arrays both yield EMPTY (never null)
      assert(fast.find(_._1 == 4L).get._2 == Seq.empty)
      assert(fast.find(_._1 == 2L).get._2 == Seq.empty)
    }
  }

  test("MinHashMergeAggregator over per-doc sigs equals row-streaming group sig") {
    // min is associative: elementwise-min of per-doc signatures == the
    // signature of the group's shingle multiset. The group query ships the
    // merge plan (map-only per-doc sigs + O(groups x k) aggregate); the
    // row-streaming MinHashAggregator over exploded shingles is the
    // semantic definition. Include a doc with an empty shingle array
    // (all-null sig) to cover null-skipping in the merge.
    val k = 5
    val docs = Seq(
      ("en", 1L, Seq("a b", "b c", "c d")),
      ("en", 2L, Seq("b c", "x y")),    // overlaps doc 1
      ("en", 3L, Seq.empty[String]),    // all-null sig, must not poison min
      ("de", 4L, Seq("u v", "v w"))
    ).toDF("lang", "doc_id", "sh")
    val merge = udaf(new graft.functions.MinHashMergeAggregator(k))
    val viaMerge = docs
      .select($"lang", Dedup.minhashSig(array_distinct($"sh"), k).as("ds"))
      .groupBy($"lang").agg(merge($"ds").as("sig"))
      .orderBy("lang").as[(String, Seq[Option[String]])].collect().toSeq
    val rowAgg = udaf(new graft.functions.MinHashAggregator(k))
    val viaRows = docs
      .select($"lang", explode_outer($"sh").as("s"))
      .groupBy($"lang").agg(rowAgg($"s").as("sig"))
      .orderBy("lang").as[(String, Seq[Option[String]])].collect().toSeq
    assert(viaMerge == viaRows)
    assert(viaMerge.forall(_._2.forall(_.isDefined)))
  }

  test("KMV sketch equals brute-force bottom-k md5 and estimates within error") {
    import java.security.MessageDigest
    def md5hex(s: String): String =
      MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    val k = 16
    val values = (1 to 500).map(i => s"v${i % 200}") // 200 distinct, repeated
    val expected = values.distinct.map(md5hex).sorted.take(k)
    val agg = udaf(new graft.functions.KmvAggregator(k))
    val got = values.toDF("v").repartition(4)
      .agg(agg($"v").as("hs")).as[Seq[String]].head()
    assert(got == expected, "sketch must be the k smallest distinct md5s")
    // (k-1)/U estimator within 50% of the true 200 (1/sqrt(k) ~ 25% rsd)
    val kthFrac = java.lang.Long.parseLong(got.last.take(13), 16) / math.pow(16, 13)
    val est = (k - 1) / kthFrac
    assert(math.abs(est - 200) / 200.0 < 0.5, s"estimate $est vs 200")
  }

  test("ivfTopK with nprobe = #cells equals brute force") {
    val corpus = Seq(
      (0L, Array(1f, 0f), 0), (1L, Array(0.9f, 0.1f), 0),
      (2L, Array(0f, 1f), 1), (3L, Array(0.1f, 0.9f), 1),
      (4L, Array(0.7f, 0.7f), 2)).toDF("vec_id", "embedding", "label")
    val queries = corpus.where($"vec_id" < 2)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val bf = Similarity.bruteForceTopK(queries, corpus, k = 3)
      .orderBy("q_id", "rnk").collect().toSeq
    val ivf = Similarity.ivfTopK(queries, corpus, "label", k = 3, nprobe = 3)
      .drop("cell").orderBy("q_id", "rnk").collect().toSeq
    assert(ivf == bf)
  }

  test("ivfTopKFitted with nprobe = kCells equals brute force; centroids well-formed") {
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val q = emb.where($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val cents = graft.data.Similarity.fitCentroids(emb, k = 4, rounds = 2)
      .orderBy("cell").collect()
    assert(cents.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(cents.forall(_.getSeq[Double](1).length ==
      emb.select(size($"embedding")).head.getInt(0)))
    // probing every cell must degrade to exact brute-force top-k
    val brute = graft.data.Similarity.bruteForceTopK(q, emb, k = 3)
      .select($"q_id", $"rnk", $"neighbor_id")
      .orderBy("q_id", "rnk").as[(Long, Long, Long)].collect().toSeq
    val fitted = graft.data.Similarity
      .ivfTopKFitted(q, emb, kCells = 4, rounds = 2, k = 3, nprobe = 4)
      .select($"q_id", $"rnk", $"neighbor_id")
      .orderBy("q_id", "rnk").as[(Long, Long, Long)].collect().toSeq
    assert(fitted == brute)
  }

  test("assignCellsBroadcast (map-only) equals the declarative window assignCells") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = graft.data.Similarity.fitCentroids(emb, k = 5, rounds = 1)
    val windowed = graft.data.Similarity.assignCells(emb, cents)
      .select($"vec_id", $"cell").orderBy("vec_id")
      .as[(Long, Long)].collect().toSeq
    val mapOnly = graft.data.Similarity.assignCellsBroadcast(emb, cents)
      .select($"vec_id", $"cell").orderBy("vec_id")
      .as[(Long, Long)].collect().toSeq
    assert(mapOnly == windowed)
    // the map-only form plans NO exchange below the dump sort
    val plan = graft.data.Similarity.assignCellsBroadcast(emb, cents)
      .queryExecution.executedPlan
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }
    assert(exchanges.isEmpty, s"expected shuffle-free assignment:\n$plan")
  }

  test("pc1 scores are bit-identical under repartitioning; v is unit norm") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val a = Similarity.pc1Scores(emb, rounds = 2)
      .orderBy("vec_id").as[(Long, Double)].collect().toSeq
    // exact double equality across partitionings — the quantized-long
    // accumulation is the reason this holds at all
    val b = Similarity.pc1Scores(emb.repartition(7), rounds = 2)
      .orderBy("vec_id").as[(Long, Double)].collect().toSeq
    assert(a == b)
    val v = Similarity.pc1(emb, rounds = 2).select($"v").head.getSeq[Double](0)
    assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-9, "v not unit norm")
  }

  test("shingles: fewer than n words yields empty, order preserved") {
    val df = Seq("a b c d", "a b", "").toDF("t")
    val got = df.select(
      TextAnalysis.shingles(TextAnalysis.tokens($"t"), 3)).as[Seq[String]]
      .collect().toSeq
    assert(got == Seq(Seq("a b c", "b c d"), Seq.empty, Seq.empty))
  }

  test("fingerprint is invariant to word order and repetition") {
    val df = Seq(("b a a c", "c b a"), ("x y", "y x")).toDF("s1", "s2")
    val got = df.select(
      (TextAnalysis.fingerprint($"s1") === TextAnalysis.fingerprint($"s2"))
        .as("eq")).as[Boolean].collect()
    assert(got.forall(identity))
  }

  test("langId breaks ties by declaration order (en first)") {
    // no markers at all -> every score 0 -> first language wins
    val got = Seq("zzz qqq").toDF("t")
      .select(TextAnalysis.langId(TextAnalysis.tokens($"t"))).as[String].head()
    assert(got == "en")
  }

  test("identical texts share minhash signature and simhash") {
    val df = Seq(("dup", "the quick brown fox jumps over the lazy dog"),
      ("dup2", "the quick brown fox jumps over the lazy dog"),
      ("other", "completely different words here now ok then")).toDF("id", "t")
      .withColumn("w", TextAnalysis.tokens($"t"))
      .withColumn("sh", TextAnalysis.shingles($"w", 3))
      .withColumn("sig", Dedup.minhashSig($"sh", 12))
      .withColumn("sim", Dedup.simhash16($"w"))
    val byId = df.select("id", "sig", "sim")
      .as[(String, Seq[String], String)].collect()
      .map { case (id, sig, sim) => id -> ((sig, sim)) }.toMap
    assert(byId("dup") == byId("dup2"))
    assert(byId("dup") != byId("other"))
    assert(byId("dup")._2.length == 16 &&
      byId("dup")._2.forall(c => c == '0' || c == '1'))
  }

  test("estJaccard is 1 for identical signatures, in [0,1] otherwise") {
    val df = Seq(
      (Seq("a", "b", "c"), Seq("a", "b", "c")),
      (Seq("a", "b", "c"), Seq("a", "x", "y"))).toDF("sa", "sb")
    val got = df.select(Dedup.estJaccard($"sa", $"sb", 3)).as[Double].collect()
    assert(got(0) == 1.0)
    assert(got(1) >= 0.0 && got(1) <= 1.0 && got(1) == 1.0 / 3)
  }

  test("jaccard on distinct shingle sets: intersection over union") {
    val df = Seq((Seq("a", "b"), Seq("b", "c"))).toDF("a", "b")
    assert(df.select(Dedup.jaccard($"a", $"b")).as[Double].head() == 1.0 / 3)
  }

  test("bpe token count: letter runs, digit runs, punct runs") {
    val got = Seq("Hello world42 --ok").toDF("t")
      .select(TextAnalysis.bpeTokenCount($"t")).as[Long].head()
    // hello | world | 42 | -- | ok
    assert(got == 5L)
  }

  test("sampleFrames: every stride-th byte, capped, empty for short payloads") {
    import graft.data.Multimodal
    val df = Seq("abcdefghij", "ab", "").toDF("t")
      .select(Multimodal.sampleFrames($"t".cast("binary"), stride = 3,
        maxFrames = 2).as("f"))
    val got = df.as[Seq[Array[Byte]]].collect().toSeq
      .map(_.map(b => new String(b, "UTF-8")).toList)
    // len 10 / stride 3 = 3 frames capped at 2: bytes at 1-based 1 and 4
    assert(got == Seq(List("a", "d"), List.empty, List.empty))
  }

  test("exact dedup elects min-id keeper and sizes groups") {
    val df = Seq((10L, "same"), (3L, "same"), (7L, "unique")).toDF("id", "t")
    val got = Dedup.exact(df, "id", "t")
      .select("id", "keeper_id", "group_size", "is_dup")
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(got == Seq((3L, 3L, 2L, false), (7L, 7L, 1L, false),
      (10L, 3L, 2L, true)))
  }

  test("capHotBuckets drops only degenerate buckets, bounding candidates") {
    // One degenerate bucket (100 members — would be 4950 pairs) and two
    // discriminative ones (3 and 2 members) across two bands.
    val buckets =
      ((1 to 100).map(i => (s"d$i", 0L, "HOT")) ++
        Seq(("a", 0L, "cold1"), ("b", 0L, "cold1"), ("c", 0L, "cold1"),
            ("a", 1L, "cold2"), ("d", 1L, "cold2")))
        .toDF("doc_id", "band", "bucket")
    val capped = Dedup.capHotBuckets(buckets, Seq("band", "bucket"), cap = 10)
    // every HOT row gone, every discriminative row kept
    assert(capped.where($"bucket" === "HOT").count() == 0)
    assert(capped.count() == 5)
    // the candidate self-join over the capped buckets is bounded:
    // C(3,2) + C(2,2) = 4 pairs instead of 4950 + 4
    val a = capped.select($"doc_id".as("id_a"), $"band", $"bucket")
    val b = capped.select($"doc_id".as("id_b"), $"band", $"bucket")
    val pairs = a.join(b, Seq("band", "bucket")).where($"id_a" < $"id_b")
    assert(pairs.count() == 4)
  }

  test("connectedComponentsStar matches min-label and survives long chains") {
    // chain 0-1-…-63: diameter 63. Min-label propagation needs
    // diameter+1 iterations, so a 10-round budget must fail LOUDLY —
    // never return a silently-split labeling.
    val chain = (0 until 63).map(i => (i.toLong, i + 1L)).toDF("a", "b")
    assertThrows[IllegalStateException] {
      Dedup.connectedComponents(chain, "a", "b", maxIter = 10)
    }
    // the star contraction converges in O(log² n) rounds on the same graph
    val star = Dedup.connectedComponentsStar(chain, "a", "b")
    assert(star.select($"component").distinct().as[Long].collect().toSeq == Seq(0L))
    assert(star.count() == 64)
    // mixed shapes (two components, self-loops, a cycle): star ≡ min-label
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (12L, 11L),
      (20L, 20L), (5L, 5L), (3L, 1L)).toDF("a", "b")
    val viaLabels = Dedup.connectedComponents(edges, "a", "b")
      .orderBy("id").as[(Long, Long)].collect().toSeq
    val viaStars = Dedup.connectedComponentsStar(edges, "a", "b")
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(viaStars == viaLabels)
  }

  test("connectedComponents: chain, cycle, disjoint pair, empty edges") {
    // Chain 1-2-3-4-5-6 (diameter forces multiple label iterations),
    // cycle 10-11-12-10, disjoint pair 20-21.
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (5L, 4L), (5L, 6L),
      (10L, 11L), (11L, 12L), (12L, 10L), (21L, 20L)).toDF("a", "b")
    val got = Dedup.connectedComponents(edges, "a", "b")
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      6L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))

    val empty = Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b")
    assert(empty.count() == 0)
  }

  test("winnowPositions: window minima, ties leftmost, short and empty docs") {
    val docs = Seq(
      (1L, Seq("d", "b", "c", "a", "e", "f")), // windows of 3: min at 1,3,3,3
      (2L, Seq("c", "a", "b")),                // shorter than w -> global min
      (3L, Seq("a", "x", "a")),                // tie 'a': leftmost in each window
      (4L, Seq.empty[String])                  // no hashes -> no fingerprints
    ).toDF("doc_id", "h")
    val got = docs
      .select($"doc_id", TextAnalysis.winnowPositions($"h", 3).as("sel"))
      .orderBy("doc_id").as[(Long, Seq[Long])].collect().toSeq
    assert(got == Seq(
      1L -> Seq(1L, 3L),
      2L -> Seq(1L),       // w=3 == len: one window, min 'a' at 1
      3L -> Seq(0L),       // single window [a,x,a]: leftmost 'a'
      4L -> Seq.empty[Long]))
    // w larger than every doc: global-min rule for all non-empty docs
    val short = docs.where($"doc_id" === 2L)
      .select(TextAnalysis.winnowPositions($"h", 10).as("sel"))
      .as[Seq[Long]].head()
    assert(short == Seq(1L))
  }

  test("ngramRepStats: duplicate and top fractions on a repetitive doc") {
    val df = Seq((1L, "a b a b a"), (2L, "x y"), (3L, "solo")).toDF("doc_id", "text")
    val w = TextAnalysis.tokens($"text")
    val stats = TextAnalysis.ngramRepStats(TextAnalysis.shingles(w, 2), "bi")
    val got = df.select($"doc_id" +: stats.map { case (n, c) => c.as(n) }: _*)
      .orderBy("doc_id")
      .as[(Long, Long, Option[Double], Option[Double])].collect().toSeq
    // "a b a b a": bigrams [a b, b a, a b, b a] -> all duplicated, top 2/4
    assert(got == Seq(
      (1L, 4L, Some(1.0), Some(0.5)),
      (2L, 1L, Some(0.0), Some(1.0)),  // one bigram: no dups, top is itself
      (3L, 0L, None, None)))           // too short for bigrams
  }

  test("gopherColumns: each rule flags independently") {
    val fine = Seq.range(0, 60).map(i => s"word$i").mkString(" ") +
      " the a of"  // 63 words, 3 stopwords, all alphabetic
    val df = Seq(
      (1L, fine),
      (2L, "too short but the a of"),          // fails word count only
      (3L, Seq.range(0, 60).map(_ => "#### ...").mkString(" "))  // symbols
    ).toDF("doc_id", "text")
    val cols = TextAnalysis.gopherColumns($"text")
    val got = df.select($"doc_id" +: cols.map { case (n, c) => c.as(n) }: _*)
      .orderBy("doc_id")
    val rows = got.collect()
    val idx = got.columns.zipWithIndex.toMap
    assert(rows(0).getBoolean(idx("passes_gopher")), "well-formed doc passes")
    assert(!rows(1).getBoolean(idx("r_word_count")) &&
      rows(1).getBoolean(idx("r_stopwords")), "short doc fails only length-ish rules")
    assert(!rows(2).getBoolean(idx("r_symbol_ratio")) &&
      !rows(2).getBoolean(idx("r_alpha_words")), "symbol doc fails symbol+alpha")
    assert(!rows(2).getBoolean(idx("passes_gopher")))
  }

  test("semanticDedup: within-cell lower-id keeper, cross-cell blindness") {
    // Two clusters of two identical vectors each: the higher id in each
    // cluster is the semantic dup; nothing compares across cells.
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)),
      (3L, Seq(1.0f, 0.0f)), (4L, Seq(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val got = Dedup.semanticDedup(vecs, kCells = 2, rounds = 1, tau = 0.9)
      .orderBy("vec_id")
      .as[(Long, Long, Long, Option[Double], Boolean)].collect().toSeq
    assert(got == Seq(
      (1L, 0L, 0L, None, false),
      (2L, 1L, 0L, None, false),
      (3L, 0L, 1L, Some(1.0), true),
      (4L, 1L, 1L, Some(1.0), true)))
  }

  test("semanticDedupScaled == semanticDedup at the derived cell count") {
    val vecs = Tables.embeddings(spark, TestSpark.sf)
    val n = vecs.count()
    val target = 16
    val k = ((n + target - 1) / target).toInt
    val scaled = Dedup.semanticDedupScaled(vecs, rounds = 1, tau = 0.3,
      targetCellSize = target).orderBy("vec_id").collect().toSeq
    val explicit = Dedup.semanticDedup(vecs, kCells = k, rounds = 1,
      tau = 0.3).orderBy("vec_id").collect().toSeq
    assert(scaled == explicit && scaled.nonEmpty)
    // cells really are bounded-ish: max cell population ≪ corpus
    val maxCell = Dedup.semanticDedupScaled(vecs, rounds = 1, tau = 0.3,
        targetCellSize = target)
      .groupBy("cell").count().agg(max("count")).as[Long].head()
    assert(maxCell < n, s"degenerate single cell: $maxCell of $n")
  }

  test("WinnowSelect expression is bit-identical to the HOF definition") {
    graft.functions.WinnowFunctions.register(spark)
    import graft.functions.WinnowFunctions.winnow_select
    // The DataOpsSpec winnowPositions fixtures plus adversarial tie/order
    // patterns: strictly decreasing (every window min moves), strictly
    // increasing (one min per start), all-equal (leftmost everywhere),
    // and a longer pseudo-random hex mix.
    val rng = new scala.util.Random(7)
    val docs = Seq(
      Seq("d", "b", "c", "a", "e", "f"),
      Seq("c", "a", "b"),
      Seq("a", "x", "a"),
      Seq.empty[String],
      Seq("f", "e", "d", "c", "b", "a"),
      Seq("a", "b", "c", "d", "e", "f"),
      Seq("m", "m", "m", "m", "m"),
      Seq.fill(64)(rng.nextInt(16).toHexString * 4)
    ).zipWithIndex.map { case (h, i) => (i.toLong, h) }
      .toDF("doc_id", "h")
    for (w <- Seq(1, 2, 4, 10)) {
      val fast = docs.select($"doc_id", winnow_select($"h", w).as("s"))
        .orderBy("doc_id").as[(Long, Seq[Long])].collect().toSeq
      val hof = docs.select($"doc_id",
          TextAnalysis.winnowPositions($"h", w).as("s"))
        .orderBy("doc_id").as[(Long, Seq[Long])].collect().toSeq
      assert(fast == hof, s"w=$w")
    }
  }

  test("winnow_fingerprint fused expression = composable HOF chain on testdata") {
    val a = Registry.byName("data_winnow_fingerprint").build(spark, TestSpark.sf)
      .collect().map(_.toSeq).toSeq
    val b = DataQueries.winnowFingerprintHof(spark, TestSpark.sf)
      .collect().map(_.toSeq).toSeq
    assert(a.nonEmpty && a == b)
    // degenerate inputs: empty shingle array -> zero counts + md5("")
    // rollup; NULL shingle array propagates NULL (matching the HOF chain,
    // where transform over a NULL array is NULL)
    graft.functions.WinnowFunctions.register(spark)
    import graft.functions.WinnowFunctions.winnow_fingerprint
    val weird = Seq((1L, Seq.empty[String]), (2L, null.asInstanceOf[Seq[String]]))
      .toDF("doc_id", "sh")
      .select($"doc_id", winnow_fingerprint($"sh", 4).as("s"))
      .orderBy("doc_id").collect().toSeq
    assert(weird(0).getStruct(1).toSeq ==
      Seq(0L, 0L, "d41d8cd98f00b204e9800998ecf8427e"))
    assert(weird(1).isNullAt(1), "NULL shingle array must propagate NULL")
  }

  test("NgramStats expression = HOF definition; query = distributed shape") {
    graft.functions.NgramFunctions.register(spark)
    import graft.functions.NgramFunctions.ngram_stats
    // Edge fixtures: heavy repetition, exactly n tokens, fewer than n,
    // repeated single token, multi-byte UTF-8.
    val docs = Seq(
      (1L, "a b a b a"), (2L, "x y"), (3L, "solo"),
      (4L, "z z z z z z"), (5L, "héllo wörld héllo wörld héllo")
    ).toDF("doc_id", "text")
      .select($"doc_id", TextAnalysis.tokens($"text").as("toks"))
    for (n <- Seq(2, 3)) {
      val viaExpr = docs.select($"doc_id", ngram_stats($"toks", n).as("s"))
        .select($"doc_id", $"s.total", $"s.dup", $"s.top")
        .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
      val hof = TextAnalysis.ngramRepStats(
        TextAnalysis.shingles($"toks", n), "g")
      val viaHof = docs.select($"doc_id",
          hof.head._2.as("t"),
          (hof(1)._2 * hof.head._2).as("d"),  // dup_frac * total = dup
          (hof(2)._2 * hof.head._2).as("x"))  // top_frac * total = top
        .na.fill(0.0)
        // frac * total round-trips through doubles — round, don't truncate
        .select($"doc_id", $"t", round($"d").cast("long"), round($"x").cast("long"))
        .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(viaExpr == viaHof, s"n=$n")
    }
    // Empty array → zero stats; NULL array propagates NULL like the HOF
    // (size/transform over NULL), so the expression and HOF agree there too
    val weird = Seq((1L, Seq.empty[String]), (2L, null.asInstanceOf[Seq[String]]))
      .toDF("doc_id", "toks")
    val z = weird.select($"doc_id", ngram_stats($"toks", 2).as("s"))
      .orderBy("doc_id").collect().toSeq
    assert(z(0).getStruct(1).toSeq == Seq(0L, 0L, 0L))
    assert(z(1).isNullAt(1), "NULL token array must propagate NULL")
    // Full-query parity: expression plan vs distributed plan on testdata
    val a = Registry.byName("data_ngram_coverage").build(spark, TestSpark.sf)
      .collect().map(_.toSeq).toSeq
    val b = DataQueries.ngramCoverageDistributed(spark, TestSpark.sf)
      .collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("cdcChunkHashes: boundaries match the scalar rule; insertions stay local") {
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def hex4(tok: String): Long = java.lang.Long.parseLong(md5hex(tok).take(4), 16)
    def chunksOf(toks: Seq[String], d: Int): Seq[String] = {
      val starts = 1 +: (2 to toks.length).filter(p => hex4(toks(p - 1)) % d == 0)
      starts.zipWithIndex.map { case (s, c) =>
        val e = if (c < starts.length - 1) starts(c + 1) - 1 else toks.length
        md5hex(toks.slice(s - 1, e).mkString(" "))
      }
    }
    val toks = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta",
      "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron", "pi")
    val d = 4
    val df = Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
    val got = Dedup.cdcChunkHashes(df, "doc_id", "text", d)
      .orderBy("chunk_idx").as[(Long, Long, String)].collect().toSeq
    val expected = chunksOf(toks, d).zipWithIndex
      .map { case (h, i) => (1L, i.toLong, h) }
    assert(got == expected)
    assert(got.length > 1, "fixture must actually produce a boundary")
    // a front insertion re-keys only chunks BEFORE the first boundary:
    // every chunk from the first boundary on is shared with the original
    val shifted = Seq((2L, ("zzz" +: toks).mkString(" "))).toDF("doc_id", "text")
    val gotShift = Dedup.cdcChunkHashes(shifted, "doc_id", "text", d)
      .as[(Long, Long, String)].collect().map(_._3).toSet
    assert(got.drop(1).map(_._3).toSet.subsetOf(gotShift),
      "every chunk after the first boundary must survive the insertion")
  }

  test("incrementalCellScreen counts corpus-known spans per batch doc") {
    // cells of 2 words; corpus holds "a b" and "c d"; batch doc 10 reuses
    // both (4 cells, 2 known), doc 11 is fully novel.
    val corpus = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "a b x y c d z w"),   // cells: [a b][x y][c d][z w] -> 2 dups
      (11L, "q r s t")            // cells: [q r][s t] -> 0 dups
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalCellScreen(batch, corpus, "doc_id", "text", 2)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double, Boolean)].collect().toSeq
    assert(got == Seq((10L, 4L, 2L, 0.5, true), (11L, 2L, 0L, 0.0, false)))
  }

  test("WordCells expression is bit-identical to the HOF cell definition") {
    // the compiled one-pass form replaced the per-cell transform lambda on
    // every chunk/cell dedup scan — any divergence desynchronizes the span
    // family from its oracles, so assert identity across the awkward
    // inputs: NULL array, empty array, NULL words, short tail, C > len
    graft.functions.WordCellFunctions.register(spark)
    import graft.functions.WordCellFunctions.word_cells
    val docs = Seq(
      (1L, Seq("a", "b", "c", "d", "e")),   // short tail cell
      (2L, Seq("x")),                       // single sub-width cell
      (3L, Seq.empty[String]),              // zero cells
      (4L, null.asInstanceOf[Seq[String]]), // NULL array: zero cells
      (5L, Seq("p", null, "q", "r"))        // null word skipped in concat
    ).toDF("doc_id", "toks")
    val C = 2
    def hof = docs.withColumn("n", size($"toks").cast("long"))
      .select($"doc_id", explode(when($"n" > 0, transform(
        sequence(lit(0L), expr(s"(n + ${C - 1}) div $C") - 1),
        i => struct(i.as("chunk_id"),
          concat_ws(" ", slice($"toks", (i * C + 1).cast("int"), lit(C)))
            .as("chunk"))))).as("ch"))
      .select($"doc_id", $"ch.chunk_id", $"ch.chunk")
      .as[(Long, Long, String)].collect().sortBy(r => (r._1, r._2)).toSeq
    val got = docs
      .select($"doc_id", explode(word_cells($"toks", C)).as("ch"))
      .select($"doc_id", $"ch.chunk_id", $"ch.chunk")
      .as[(Long, Long, String)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == hof)
    assert(got.exists(_._1 == 5L)) // the null-word doc still yields cells
    assert(!got.exists(r => r._1 == 3L || r._1 == 4L))
  }

  test("indexedCellScreen over the stored index equals the per-batch screen") {
    val corpus = Seq((1L, "a b c d"), (2L, "a b e f")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "a b x y c d z w"), // 4 cells, 2 known
      (11L, "q r s t"),         // fully novel
      (12L, "a b a b")          // duplicate batch cells: each occurrence counts
    ).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft_idx_spec")
      .resolve("cells").toString
    Dedup.writeCellIndex(corpus, "doc_id", "text", 2, path)
    val idx = spark.read.parquet(path)
    // layout contract: shard is the directory key (partition pruning's
    // handle) and must be derivable from the hash — a drifted shard rule
    // would silently serve misses
    assert(idx.columns.toSet == Set("cell_hash", "shard"))
    assert(idx.where($"shard" =!= Dedup.cellShard($"cell_hash")).isEmpty)
    assert(new java.io.File(path).listFiles().exists(_.getName.startsWith("shard=")))
    val served = Dedup.indexedCellScreen(
        Dedup.cellHashes(batch, "doc_id", "text", 2), idx, "doc_id")
      .orderBy("doc_id").as[(Long, Long, Long, Double, Boolean)].collect().toSeq
    val direct = Dedup.incrementalCellScreen(batch, corpus, "doc_id", "text", 2)
      .orderBy("doc_id").as[(Long, Long, Long, Double, Boolean)].collect().toSeq
    assert(served == direct)
    assert(served == Seq((10L, 4L, 2L, 0.5, true), (11L, 2L, 0L, 0.0, false),
      (12L, 2L, 2L, 1.0, true)))
  }

  test("appendCellIndex: novel cells only; re-serve sees every batch cell") {
    val corpus = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val batch = Seq((10L, "a b x y"), (11L, "x y z w")).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft_idx_append")
      .resolve("cells").toString
    Dedup.writeCellIndex(corpus, "doc_id", "text", 2, path)
    val n0 = spark.read.parquet(path).count()
    val bc = Dedup.cellHashes(batch, "doc_id", "text", 2)
    Dedup.appendCellIndex(bc, path)
    // only the NOVEL distinct hashes landed: batch cells are
    // [a b][x y] + [x y][z w] -> 3 distinct, one ([a b]) already indexed
    val idx = spark.read.parquet(path)
    assert(idx.count() == n0 + 2)
    assert(idx.select($"cell_hash").distinct().count() == idx.count(),
      "append must never duplicate an index row")
    // re-serving the same batch now reports every cell as a duplicate
    val served = Dedup.indexedCellScreen(bc, idx, "doc_id")
      .orderBy("doc_id").as[(Long, Long, Long, Double, Boolean)]
      .collect().toSeq
    assert(served == Seq((10L, 2L, 2L, 1.0, true), (11L, 2L, 2L, 1.0, true)))
    // idempotence: a second append of the same batch is a no-op
    Dedup.appendCellIndex(bc, path)
    assert(spark.read.parquet(path).count() == n0 + 2)
  }

  test("band index lifecycle: serve counts collisions; append is novel-only, " +
      "idempotent, and makes the batch fully indexed") {
    // near-dup fixture: 10/11 share doc 1's text verbatim (all bands
    // collide), 12 shares a long prefix (some bands collide), 13 is
    // disjoint text (no collision)
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "completely different corpus content about something else"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      (13L, "unrelated novel words nowhere near anything stored here"))
      .toDF("doc_id", "text")
    val k = 6; val b = 3; val r = 2
    val path = java.nio.file.Files.createTempDirectory("graft_band_idx")
      .resolve("bands").toString
    Dedup.writeBandIndex(Dedup.bandRows(corpus, "doc_id", "text", k, b, r),
      "doc_id", cap = 64, path)
    val idx = spark.read.parquet(path)
    // layout contract: shard derives from the bucket hash, ref_id kept
    assert(idx.columns.toSet == Set("ref_id", "band", "bucket", "shard"))
    assert(idx.where($"shard" =!= Dedup.cellShard($"bucket")).isEmpty)
    val bb = Dedup.bandRows(batch, "doc_id", "text", k, b, r)
    val served = Dedup.indexedBandScreen(bb, idx, "doc_id")
      .orderBy("doc_id").as[(Long, Long, Long, Long, Boolean)]
      .collect().toSeq
    // the verbatim copy collides in all b bands with exactly doc 1;
    // the disjoint doc collides nowhere
    assert(served == Seq((10L, b.toLong, b.toLong, 1L, true),
      (13L, b.toLong, 0L, 0L, false)))
    // append: only novel (band, bucket, ref) rows land — doc 10's rows
    // are all new (its ref_id differs from doc 1's even on shared
    // buckets), a re-append adds nothing
    val n0 = idx.count()
    Dedup.appendBandIndex(bb, "doc_id", cap = 64, path)
    val n1 = spark.read.parquet(path).count()
    assert(n1 == n0 + 2 * b, s"expected ${n0 + 2 * b} rows, got $n1")
    Dedup.appendBandIndex(bb, "doc_id", cap = 64, path)
    assert(spark.read.parquet(path).count() == n1, "re-append must be a no-op")
    // the cross-batch first-seen law: after the append every batch band
    // collides (with at least its own stored row)
    val after = Dedup.indexedBandScreen(bb, spark.read.parquet(path), "doc_id")
      .orderBy("doc_id").as[(Long, Long, Long, Long, Boolean)]
      .collect().toSeq
    assert(after.forall(row => row._3 == row._2 && row._5))
    assert(after.find(_._1 == 10L).get._4 == 2L) // candidates: doc 1 + self
  }

  test("band index: the build and its appends write one column order, " +
      "so the pinned read's schema does not depend on file order") {
    import graft.data.IndexManifest
    import scala.jdk.CollectionConverters._
    val k = 6; val b = 3; val r = 2
    def bands(id: Long, text: String) = Dedup.bandRows(
      Seq((id, text)).toDF("doc_id", "text"), "doc_id", "text", k, b, r)
    val path = java.nio.file.Files.createTempDirectory("graft_band_order")
      .resolve("bands").toString
    Dedup.writeBandIndex(bands(1L, "the quick brown fox jumps over the dog"),
      "doc_id", cap = 64, path)
    Dedup.appendBandIndex(bands(2L, "unrelated novel words nowhere near it"),
      "doc_id", cap = 64, path)
    val snap = IndexManifest.load(spark, path).get
    val conf = spark.sessionState.newHadoopConf()
    // the column order each data file's parquet footer declares
    val orders = snap.dataFiles.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(snap.root, f), conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try reader.getFooter.getFileMetaData.getSchema.getFields.asScala
        .map(_.getName).toSeq
      finally reader.close()
    }
    assert(snap.dataFiles.length >= 2, "build and append must both land")
    assert(orders.distinct == Seq(Seq("ref_id", "band", "bucket")),
      s"footer column orders: ${orders.distinct}")
  }

  test("writeBandIndex drops hot buckets at build; appendBandIndex refuses " +
      "saturated buckets") {
    // every corpus doc shares one text -> every (band, bucket) holds 3
    // refs; cap 2 empties the index at build
    val hot = Seq((1L, "a b c d e f"), (2L, "a b c d e f"),
      (3L, "a b c d e f")).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft_band_cap")
      .resolve("bands").toString
    val k = 4; val b = 2; val r = 2
    Dedup.writeBandIndex(Dedup.bandRows(hot, "doc_id", "text", k, b, r),
      "doc_id", cap = 2, path)
    // every bucket capped -> nothing stored (an all-capped write leaves
    // no shard directories at all; like writeCellIndex, the lifecycle
    // assumes a non-degenerate corpus to bootstrap from)
    assert(!new java.io.File(path).listFiles()
        .exists(_.getName.startsWith("shard=")),
      "a bucket above the cap must not be stored")
    // the dropped buckets persist as TOMBSTONES: a later SMALL batch
    // into a build-dropped bucket (stored count 0, novel 1 <= cap)
    // would have been silently re-admitted pre-tombstone — it must be
    // refused forever
    Dedup.appendBandIndex(
      Dedup.bandRows(Seq((9L, "a b c d e f")).toDF("doc_id", "text"),
        "doc_id", "text", k, b, r),
      "doc_id", cap = 2, path)
    assert(!new java.io.File(path).listFiles()
        .exists(_.getName.startsWith("shard=")),
      "an append must honor the build's tombstones")
    // and a NEW degenerate bucket arriving in one bursty append is
    // tombstoned too: replaying a smaller slice of it later cannot
    // sneak it back in
    Dedup.appendBandIndex(
      Dedup.bandRows(Seq((20L, "q r s t u v"), (21L, "q r s t u v"),
        (22L, "q r s t u v")).toDF("doc_id", "text"),
        "doc_id", "text", k, b, r),
      "doc_id", cap = 2, path)
    Dedup.appendBandIndex(
      Dedup.bandRows(Seq((23L, "q r s t u v")).toDF("doc_id", "text"),
        "doc_id", "text", k, b, r),
      "doc_id", cap = 2, path)
    assert(!new java.io.File(path).listFiles()
        .exists(_.getName.startsWith("shard=")),
      "an append-created degenerate bucket must tombstone as well")
    // rebuild under a loose cap, then append two more refs per bucket:
    // the first fills the bucket TO the cap universe (stored count 3 < 4),
    // the second finds it saturated and drops
    Dedup.writeBandIndex(Dedup.bandRows(hot, "doc_id", "text", k, b, r),
      "doc_id", cap = 4, path)
    val add1 = Dedup.bandRows(Seq((10L, "a b c d e f")).toDF("doc_id", "text"),
      "doc_id", "text", k, b, r)
    Dedup.appendBandIndex(add1, "doc_id", cap = 4, path)
    assert(spark.read.parquet(path).count() == 3L * b + b)
    val add2 = Dedup.bandRows(Seq((11L, "a b c d e f")).toDF("doc_id", "text"),
      "doc_id", "text", k, b, r)
    Dedup.appendBandIndex(add2, "doc_id", cap = 4, path)
    assert(spark.read.parquet(path).count() == 4L * b,
      "an append into a bucket at cap must drop")
  }

  test("compactIndex shrinks shard files and leaves serve results identical") {
    import graft.data.Dedup
    val corpus = Seq((1L, "a b c d"), (2L, "e f g h")).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft_idx_compact")
      .resolve("cells").toString
    Dedup.writeCellIndex(corpus, "doc_id", "text", 2, path)
    // N appends -> N extra files per touched shard directory
    (0 until 5).foreach { i =>
      Dedup.appendCellIndex(
        Dedup.cellHashes(Seq((100L + i, s"w$i x$i y$i z$i"))
          .toDF("doc_id", "text"), "doc_id", "text", 2), path)
    }
    val batch = Seq((200L, "a b w0 x0 q q")).toDF("doc_id", "text")
    val bc = Dedup.cellHashes(batch, "doc_id", "text", 2)
    def files() = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("shard=")).map(d =>
        d.listFiles().count(f => f.isFile &&
          !f.getName.startsWith("_") && !f.getName.startsWith("."))).sum
    def serve() = Dedup.indexedCellScreen(
        bc, spark.read.parquet(path), "doc_id")
      .orderBy("doc_id").as[(Long, Long, Long, Double, Boolean)]
      .collect().toSeq
    val beforeRows = serve()
    val beforeFiles = files()
    val (nShards, fBefore, fAfter) =
      Dedup.compactIndex(spark, path, maxFilesPerShard = 1)
    assert(nShards > 0 && fBefore > fAfter,
      s"compaction did nothing: $nShards shards, $fBefore -> $fAfter")
    val afterFiles = files()
    assert(afterFiles < beforeFiles,
      s"file count must drop: $beforeFiles -> $afterFiles")
    // every shard now holds at most the target file count
    assert(new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("shard=")).forall(d =>
        d.listFiles().count(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith(".")) <= 1))
    // the law that makes compaction safe: identical serve results
    assert(serve() == beforeRows)
    // idempotent: nothing left over the threshold
    assert(Dedup.compactIndex(spark, path, maxFilesPerShard = 1)._1 == 0)
  }

  /** Spark jobs started by `body` (see [[JobTasks]]). */
  private def jobsRun(body: => Unit): Int = JobTasks(spark)(body).size

  test("compactIndex rewrites every over-full shard in one write job: 16 " +
      "over-full shards cost the same jobs as 4, each ends with one file, " +
      "and the serve is identical") {
    import graft.data.IndexManifest
    val corpus = (1L to 80L).map(i => (i, s"a$i b$i c$i d$i"))
      .toDF("doc_id", "text")
    val batch = Seq((500L, "a1 b1 zz yy"))
      .toDF("doc_id", "text")
    val cells = Dedup.cellHashes(
      (1L to 80L).map(i => (1000L + i, s"p$i q$i r$i s$i"))
        .toDF("doc_id", "text"), "doc_id", "text", 2).localCheckpoint(true)
    def filesPerShard(path: String) = IndexManifest.load(spark, path).get
      .dataFiles.groupBy(_.takeWhile(_ != '/')).map { case (d, fs) =>
        d -> fs.length }
    // a build into every shard, then ONE append: the touched shards hold
    // two files each, so the compaction's pinned read stays at or under
    // Spark's 32-path serial file-listing threshold (past it the read
    // itself adds a listing job, whatever the shard count)
    def index(appended: org.apache.spark.sql.DataFrame): String = {
      val path = java.nio.file.Files.createTempDirectory("graft_idx_jobs")
        .resolve("cells").toString
      Dedup.writeCellIndex(corpus, "doc_id", "text", 2, path)
      assert(filesPerShard(path).size == 16, "the build must fill every shard")
      Dedup.appendCellIndex(appended, path)
      path
    }
    def compact(path: String): Int = {
      val bc = Dedup.cellHashes(batch, "doc_id", "text", 2)
      def serve() = Dedup.indexedCellScreen(bc,
          IndexManifest.readData(spark, path), "doc_id")
        .as[(Long, Long, Long, Double, Boolean)].collect().toSeq
      val before = serve()
      val jobs = jobsRun {
        Dedup.compactIndex(spark, path, maxFilesPerShard = 1): Unit
      }
      assert(filesPerShard(path).values.forall(_ <= 1),
        s"every shard must end with one file: ${filesPerShard(path)}")
      assert(serve() == before, "compaction must not change the serve")
      jobs
    }
    val all16 = index(cells)
    val only4 = index(cells.where(Dedup.cellShard($"cell_hash") < 4))
    assert(filesPerShard(all16).count(_._2 > 1) == 16)
    assert(filesPerShard(only4).count(_._2 > 1) == 4)
    val (jobs16, jobs4) = (compact(all16), compact(only4))
    assert(jobs16 == jobs4,
      s"16 over-full shards ran $jobs16 jobs, 4 ran $jobs4 — the rewrite " +
        "must not run per shard")
  }

  test("fitCentroids' session memo refits a path rewritten in place") {
    val p = java.nio.file.Files.createTempDirectory("graft_fit_memo")
      .resolve("emb").toString
    def write(shift: Float): Unit =
      (1L to 20L).map(i => (i, Seq((i % 3).toFloat + shift,
          (i % 5).toFloat + shift)))
        .toDF("vec_id", "embedding").write.mode("overwrite").parquet(p)
    def fit() = Similarity.fitCentroids(spark.read.parquet(p), k = 2,
      rounds = 1).as[(Long, Seq[Double])].collect().toSeq
    write(0f)
    val before = fit()
    assert(before.forall(_._2.forall(_ < 10.0)))
    // every vector shifted by +100 under the SAME path: the plan hash is
    // unchanged, the input files are not
    write(100f)
    val after = fit()
    assert(after.forall(_._2.forall(_ > 90.0)),
      s"the memo answered with centroids of the overwritten input: $after")
  }

  test("Tables.memoBy rebuilds a path rewritten in place") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_memo_by")
    val p = tmp.resolve("t").toString
    // another writer replaces the directory: this session's writer would
    // also refresh its cached plans over the path, which hides a stale memo
    def write(ids: Seq[Long]): Unit = {
      val staged = tmp.resolve(s"staged-${ids.head}")
      ids.toDF("id").write.parquet(staged.toString)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p))
      java.nio.file.Files.move(staged, tmp.resolve("t")): Unit
    }
    def memoIds() = Tables.memoBy(spark, s"memo-rewrite:$p")(
      spark.read.parquet(p)).as[Long].collect().sorted.toSeq
    write(1L to 5L)
    assert(memoIds() == (1L to 5L))
    // same path, same key, same plan hash; the input files are new
    write(11L to 13L)
    assert(memoIds() == (11L to 13L),
      "the memo answered with the frame of the overwritten input")
    assert(memoIds() == (11L to 13L))
  }

  test("data_bpe_train's merge-list memo retrains a corpus rewritten in place") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe_memo").toString
    def write(text: String): Unit =
      (1L to 6L).map(i => (i, text)).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def firstMerge() = Registry.byName("data_bpe_train").build(spark, dir)
      .select("lhs", "rhs").as[(String, String)].collect().head
    write("ab ab ab abc")
    assert(firstMerge() == ("a", "b"))
    write("xy xy xy xyz")
    assert(firstMerge() == ("x", "y"),
      "the merge list of the overwritten corpus was served")
  }

  test("data_sim_opq's rotation memo refits embeddings rewritten in place") {
    val src = Tables.embeddings(spark, TestSpark.sf)
    // the same vectors with their coordinates reversed: another principal
    // axis, so another Householder vector
    val reversed = src.withColumn("embedding", reverse(col("embedding")))
    def write(dir: String, emb: org.apache.spark.sql.DataFrame): Unit =
      emb.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    def opq(dir: String) =
      Registry.byName("data_sim_opq").build(spark, dir).collect().toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft_opq_memo").toString
    write(dir, src)
    opq(dir): Unit
    write(dir, reversed)
    val fresh = java.nio.file.Files.createTempDirectory("graft_opq_fresh").toString
    write(fresh, reversed)
    assert(opq(dir) == opq(fresh),
      "the rewritten embeddings were rotated by the overwritten corpus's vector")
  }

  test("a manifest snapshot past 32 files reads its rows with no more jobs " +
      "than a 16-file one") {
    import graft.data.IndexManifest
    val path = java.nio.file.Files.createTempDirectory("graft_idx_many")
      .resolve("cells").toString
    def batch(tag: String) = Dedup.cellHashes(
      (1L to 80L).map(i => (i, s"$tag$i b$tag$i c$tag$i d$tag$i"))
        .toDF("doc_id", "text"), "doc_id", "text", 2)
    Dedup.writeCellIndex((1L to 80L).map(i => (i, s"a$i b$i c$i d$i"))
      .toDF("doc_id", "text"), "doc_id", "text", 2, path)
    def files = IndexManifest.load(spark, path).get.dataFiles.size
    def read() = IndexManifest.readData(spark, path)
      .orderBy("cell_hash").collect().toSeq
    assert(files == 16, "the build must fill every shard")
    val jobs16 = jobsRun(read(): Unit)
    Seq("p", "q").foreach(t => Dedup.appendCellIndex(batch(t), path))
    assert(files >= 40, s"appends must grow the snapshot past 32 files: $files")
    val jobsMany = jobsRun(read(): Unit)
    assert(jobsMany <= jobs16, s"$files files ran $jobsMany jobs, 16 ran " +
      s"$jobs16 — the pinned read must not list its known files")
    // the same rows a directory read of the index finds, shard included
    assert(read() == spark.read.parquet(path).orderBy("cell_hash")
      .select(IndexManifest.readData(spark, path).columns.map(col): _*)
      .collect().toSeq)
  }

  test("manifest snapshot isolation: a reader sees exactly the pre- or " +
      "post-state of any mutation, never the union; reconcile removes " +
      "crash orphans") {
    import graft.data.{Dedup, IndexManifest}
    val corpus = Seq((1L, "a b c d"), (2L, "e f g h")).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft_idx_crash")
      .resolve("cells").toString
    Dedup.writeCellIndex(corpus, "doc_id", "text", 2, path)
    Dedup.appendCellIndex(Dedup.cellHashes(
      Seq((10L, "p q r s")).toDF("doc_id", "text"), "doc_id", "text", 2), path)
    val trueRows = IndexManifest.readData(spark, path).count()
    val d = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("shard="))
      .find(_.listFiles().exists(f =>
        f.isFile && f.getName.startsWith("part-"))).get
    // --- crash DURING a compaction rewrite (before the commit): a fresh
    // compact- file is physically in the directory, but no manifest
    // lists it — every pinned read still sees exactly the pre-state
    val src = d.listFiles().filter(f => f.isFile &&
      !f.getName.startsWith("_") && !f.getName.startsWith(".")).head
    val orphan = new java.io.File(d, "compact-crashdup.parquet")
    java.nio.file.Files.copy(src.toPath, orphan.toPath)
    // the DIRECTORY holds duplicate rows; the PINNED read does not
    assert(spark.read.parquet(path).count() > trueRows)
    assert(IndexManifest.readData(spark, path).count() == trueRows)
    // the next mutation reconciles the orphan away before doing its work
    Dedup.compactIndex(spark, path, maxFilesPerShard = 1)
    assert(!orphan.exists(), "reconcile must remove the crash orphan")
    assert(spark.read.parquet(path).count() == trueRows)
    assert(IndexManifest.readData(spark, path).count() == trueRows)
    // --- crash AFTER a commit, mid-deletion: a superseded old file is
    // still physically present but unreferenced — same repair
    val committed = d.listFiles().filter(f => f.isFile &&
      !f.getName.startsWith("_") && !f.getName.startsWith(".")).head
    val stale = new java.io.File(d, "part-staleold.parquet")
    java.nio.file.Files.copy(committed.toPath, stale.toPath)
    assert(spark.read.parquet(path).count() > trueRows)
    assert(IndexManifest.readData(spark, path).count() == trueRows,
      "a pinned reader must never see the union")
    // an APPEND deliberately does NOT sweep data-file orphans (a live
    // concurrent appender's staged-in files would be indistinguishable
    // from debris — the optimistic-concurrency contract): its novelty
    // check reads the pinned pre-state (orphans invisible), its staged
    // write attributes files by construction, and the orphan stays
    // harmless debris...
    Dedup.appendCellIndex(Dedup.cellHashes(
      Seq((11L, "t u v w")).toDF("doc_id", "text"), "doc_id", "text", 2), path)
    assert(stale.exists(),
      "an append must leave possibly-live unreferenced files alone")
    val afterAppend = IndexManifest.readData(spark, path).count()
    assert(afterAppend > trueRows) // the new batch's novel cells landed
    // ... until the next FULL reconcile (compaction/retrain — exclusive
    // writer window) sweeps it
    Dedup.compactIndex(spark, path, maxFilesPerShard = 1)
    assert(!stale.exists(),
      "the full reconcile must finish the cleanup")
    assert(IndexManifest.readData(spark, path).count() == afterAppend)
    assert(spark.read.parquet(path).count() == afterAppend)
  }

  test("maintained components: merges touch only the forwarding artifact, " +
      "a new smaller id becomes the canonical, chains merge transitively, " +
      "and replays change nothing") {
    import graft.data.{Dedup, IndexManifest}
    val path = java.nio.file.Files.createTempDirectory("graft_comp_idx")
      .resolve("comp").toString
    // corpus clusters: {10, 11} (rep 10) and {20, 21} (rep 20), {30} alone
    Dedup.writeComponentsIndex(
      Seq((10L, 11L), (20L, 21L), (30L, 30L)).toDF("a", "b"), "a", "b", path)
    def serve() = Dedup.componentsIndexServe(spark, pin(path))
      .as[(Long, Long)].collect().toMap
    assert(serve() == Map(10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L,
      30L -> 30L))
    val dataFiles0 = IndexManifest.load(spark, path).get.dataFiles.toSet
    // batch 1: a CHAIN through a new node — 11~40, 40~21 merges the two
    // stored clusters and the new node transitively (canonical = 10)
    Dedup.appendComponentsEdges(
      Seq((11L, 40L), (40L, 21L)).toDF("a", "b"), "a", "b", path)
    assert(serve() == Map(10L -> 10L, 11L -> 10L, 20L -> 10L, 21L -> 10L,
      30L -> 30L, 40L -> 10L))
    // the merge REWROTE NOTHING: every original data file is still
    // listed (only the new node's row was appended)
    assert(dataFiles0.subsetOf(
      IndexManifest.load(spark, path).get.dataFiles.toSet),
      "a merge must never rewrite stored rows")
    // forwarding is flat: 20 -> 10, no entry chains through another
    val fw1 = Dedup.readComponentsForward(spark, pin(path))
      .as[(Long, Long)].collect().toMap
    assert(fw1 == Map(20L -> 10L))
    // batch 2: a NEW node with a SMALLER id than the canonical joins —
    // it becomes the new canonical, and the old forwarding entry
    // re-points (stays flat: 20 -> 5, not 20 -> 10 -> 5)
    Dedup.appendComponentsEdges(
      Seq((5L, 40L)).toDF("a", "b"), "a", "b", path)
    assert(serve() == Map(5L -> 5L, 10L -> 5L, 11L -> 5L, 20L -> 5L,
      21L -> 5L, 30L -> 30L, 40L -> 5L))
    assert(Dedup.readComponentsForward(spark, pin(path))
      .as[(Long, Long)].collect().toMap == Map(20L -> 5L, 10L -> 5L))
    // replay of both batches: a no-op (same serve, same forwarding)
    val v = IndexManifest.load(spark, path).get.version
    Dedup.appendComponentsEdges(
      Seq((11L, 40L), (40L, 21L), (5L, 40L)).toDF("a", "b"), "a", "b", path)
    assert(serve() == Map(5L -> 5L, 10L -> 5L, 11L -> 5L, 20L -> 5L,
      21L -> 5L, 30L -> 30L, 40L -> 5L))
    assert(Dedup.readComponentsForward(spark, pin(path))
      .as[(Long, Long)].collect().toMap == Map(20L -> 5L, 10L -> 5L))
    assert(IndexManifest.load(spark, path).get.dataFiles.size ==
      IndexManifest.loadAt(spark, path, v).get.dataFiles.size,
      "a replay must append no data files")
  }

  test("cluster-index lifecycle completion: time travel pairs rows with " +
      "their forwarding version, the fold truncates the broadcast table " +
      "with a bit-identical serve, and the stats artifact tracks merges") {
    import graft.data.{Dedup, IndexManifest}
    val path = java.nio.file.Files.createTempDirectory("graft_comp_fold")
      .resolve("comp").toString
    Dedup.writeComponentsIndex(
      Seq((10L, 11L), (20L, 21L), (30L, 30L)).toDF("a", "b"), "a", "b", path)
    assert(Dedup.readComponentsStats(spark, pin(path)).head().getLong(0) == 3L)
    val v1 = IndexManifest.load(spark, path).get.version
    // a chain through a new node merges the two stored clusters
    Dedup.appendComponentsEdges(
      Seq((11L, 40L), (40L, 21L)).toDF("a", "b"), "a", "b", path)
    // exact-maintained count: 3 components - 2 engaged + 1 group = 2
    assert(Dedup.readComponentsStats(spark, pin(path)).head().getLong(0) == 2L)
    def serve() = Dedup.componentsIndexServe(spark, pin(path))
      .as[(Long, Long)].collect().toMap
    val cur = serve()
    assert(cur == Map(10L -> 10L, 11L -> 10L, 20L -> 10L, 21L -> 10L,
      30L -> 30L, 40L -> 10L))
    // TIME TRAVEL: the v1 pin serves v1's rows with v1's (empty)
    // forwarding — the CURRENT table knows 20 -> 10 and would silently
    // predict the merge into the past
    assert(Dedup.componentsIndexServe(spark,
      IndexManifest.loadAt(spark, path, v1).get)
      .as[(Long, Long)].collect().toMap ==
      Map(10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 30L -> 30L))
    // the FOLD: affected shards rewrite with canonical reps, the
    // forwarding table truncates, and the serve is bit-identical
    val (nsh, _) = Dedup.compactComponentsIndex(spark, path,
      retainVersions = 2)
    assert(nsh > 0, "the fold must have rewritten the affected shards")
    assert(Dedup.readComponentsForward(spark, pin(path)).isEmpty,
      "the fold must truncate the forwarding artifact")
    assert(serve() == cur, "folding must be invisible to the serve")
    assert(IndexManifest.readData(spark, path)
      .where($"rep" === 20L).isEmpty,
      "stored rows must now carry canonical reps directly")
    // time travel ACROSS the fold (retainVersions = 2): the pre-fold
    // version still serves, paired with its own non-empty forwarding
    val preFold = IndexManifest.versions(spark, path).head
    assert(Dedup.componentsIndexServe(spark,
      IndexManifest.loadAt(spark, path, preFold).get)
      .as[(Long, Long)].collect().toMap == cur)
    // idempotent: an empty forwarding table folds nothing
    assert(Dedup.compactComponentsIndex(spark, path)._1 == 0)
    // the stats artifact survives the fold unchanged
    assert(Dedup.readComponentsStats(spark, pin(path)).head().getLong(0) == 2L)
  }

  test("fold vs gate concurrency: an append landing inside the fold's " +
      "claim window wins the version; the fold reloads the winner's " +
      "state (rows AND artifacts), re-folds, and both mutations land " +
      "with serve-equals-rebuild intact") {
    import graft.data.{Dedup, IndexManifest}
    val path = java.nio.file.Files.createTempDirectory("graft_comp_race")
      .resolve("comp").toString
    Dedup.writeComponentsIndex(
      Seq((10L, 11L), (20L, 21L), (30L, 30L)).toDF("a", "b"), "a", "b", path)
    // a merge so the fold has forwarding to bake in
    Dedup.appendComponentsEdges(Seq((11L, 21L)).toDF("a", "b"), "a", "b", path)
    assert(Dedup.readComponentsForward(spark, pin(path))
      .as[(Long, Long)].collect().toMap == Map(20L -> 10L))
    // the gate's append commits INSIDE the fold's claim window: the
    // fold's CAS at snap.version + 1 must lose loudly, reload the
    // winner's snapshot, and re-fold — appends keep priority
    var interleaved = false
    val (nsh, _) = Dedup.compactComponentsIndex(spark, path,
      retainVersions = 2,
      preCommitHook = () => if (!interleaved) {
        interleaved = true
        Dedup.appendComponentsEdges(Seq((30L, 50L)).toDF("a", "b"),
          "a", "b", path)
      })
    assert(nsh > 0, "the fold must have rewritten the affected shards")
    assert(interleaved, "the seam must have run")
    // both landed: the interleaved node 50 is stored AND the fold
    // truncated the forwarding table with canonical reps baked in
    assert(Dedup.readComponentsForward(spark, pin(path)).isEmpty,
      "the re-folded forwarding table must be empty")
    assert(Dedup.componentsIndexServe(spark, pin(path))
      .as[(Long, Long)].collect().toMap ==
      Map(10L -> 10L, 11L -> 10L, 20L -> 10L, 21L -> 10L,
        30L -> 30L, 50L -> 30L),
      "serve must equal a rebuild over the union of all edges")
    assert(IndexManifest.readData(spark, path)
      .where($"rep" === 20L).isEmpty,
      "stored rows must carry canonical reps after the re-fold")
    assert(Dedup.readComponentsStats(spark, pin(path)).head().getLong(0) == 2L)
  }

  test("retention: compactIndex(retainVersions=2) keeps the pre-compaction " +
      "snapshot physically readable (time travel); the next vacuum " +
      "boundary reclaims it") {
    import graft.data.{Dedup, IndexManifest}
    val corpus = Seq((1L, "a b c d"), (2L, "e f g h")).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft_idx_retain")
      .resolve("cells").toString
    Dedup.writeCellIndex(corpus, "doc_id", "text", 2, path)
    (0 until 3).foreach { i =>
      Dedup.appendCellIndex(
        Dedup.cellHashes(Seq((100L + i, s"w$i x$i y$i z$i"))
          .toDF("doc_id", "text"), "doc_id", "text", 2), path)
    }
    val preVersion = IndexManifest.load(spark, path).get.version
    val preRows = IndexManifest.readData(spark, path).count()
    val preFiles = IndexManifest.load(spark, path).get.dataFiles
    val (nShards, _, _) = Dedup.compactIndex(spark, path,
      maxFilesPerShard = 1, retainVersions = 2)
    assert(nShards > 0, "compaction must have rewritten something")
    // the superseded files are still on disk: an executing reader pinned
    // to the pre-compaction manifest cannot race a deletion
    assert(preFiles.forall(f => new java.io.File(path, f).exists()),
      "retainVersions=2 must keep every pre-compaction file")
    // ... and the pre-compaction snapshot is reconstructable exactly
    assert(IndexManifest.readDataAt(spark, path, preVersion).count() == preRows)
    assert(IndexManifest.readData(spark, path).count() == preRows,
      "compaction must not change the row set")
    // the retention boundary: an explicit vacuum to the newest version
    // reclaims the superseded files (what a later compaction's closing
    // vacuum would also do once the window slides past them)
    IndexManifest.vacuum(spark, path, keepLast = 1)
    val kept = IndexManifest.load(spark, path).get.dataFiles.toSet
    assert(preFiles.filterNot(kept).forall(f =>
      !new java.io.File(path, f).exists()),
      "vacuum past the window must delete the superseded files")
    intercept[java.util.NoSuchElementException] {
      IndexManifest.readDataAt(spark, path, preVersion)
    }
    assert(IndexManifest.readData(spark, path).count() == preRows)
  }

  test("linearScoreColumns is the mean hashed-bucket weight") {
    // Weight of a token = (hex4(md5 tok) % 64) % 7 - 3: recompute in plain
    // Scala and compare — the operator must be exactly this arithmetic.
    def weight(tok: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(md.substring(0, 4), 16) % 64) % 7 - 3
    }
    val df = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val cols = TextAnalysis.linearScoreColumns($"text")
    val row = df.select(cols.map { case (n, c) => c.as(n) }: _*).head()
    val toks = Seq("alpha", "beta", "gamma", "delta")
    val expectedSum = toks.map(weight).sum
    assert(row.getLong(0) == 4L)
    assert(row.getLong(1) == expectedSum)
    assert(row.getDouble(2) == expectedSum.toDouble / 4.0)
  }

  test("OPQ Householder: orthogonal, involutive, aligns PC1, and cuts PQ " +
      "reconstruction error on anisotropic data") {
    // planted dominant direction: 3 clusters along ones(8) — energy that
    // STRADDLES every 2-dim subspace boundary, the case OPQ exists for —
    // plus small deterministic noise (no randomness: resume-safe)
    // noise comparable to the PER-SUBSPACE cluster separation (0.707)
    // but well under the ROTATED axis separation (2.0): raw marginals
    // blur, the rotated first coordinate separates — the regime OPQ is
    // published for
    val dim = 8
    val d0 = Array.fill(dim)(1.0 / math.sqrt(dim))
    val rows = (0 until 48).map { i =>
      val c = (i % 3) - 1
      (i.toLong, (0 until dim).map { j =>
        (c * 2.0 * d0(j) + 0.35 * (((i * 7 + j * 3) % 5) - 2)).toFloat
      })
    }
    val corpus = rows.toDF("vec_id", "embedding")
    val u = Similarity.opqHouseholder(corpus, rounds = 4)
    val rot = Similarity.opqRotate(corpus, "embedding", u)
      .as[(Long, Seq[Double])].collect().sortBy(_._1).map(_._2.toArray)
    val raw = rows.map(_._2.map(_.toDouble).toArray).toArray

    // orthogonality: norms preserved row-for-row
    raw.zip(rot).foreach { case (a, b) =>
      val na = a.map(x => x * x).sum; val nb = b.map(x => x * x).sum
      assert(math.abs(na - nb) < 1e-9, s"norm drift: $na vs $nb")
    }
    // involution: H(H(x)) == x
    val twice = Similarity.opqRotate(
        Similarity.opqRotate(corpus, "embedding", u), "embedding", u)
      .as[(Long, Seq[Double])].collect().sortBy(_._1).map(_._2.toArray)
    raw.zip(twice).foreach { case (a, b) =>
      a.zip(b).foreach { case (x, y) => assert(math.abs(x - y) < 1e-9) }
    }
    // alignment: the planted direction's variance lands in coordinate 0
    def varOf(col: Int, m: Array[Array[Double]]): Double = {
      val xs = m.map(_(col)); val mu = xs.sum / xs.length
      xs.map(x => (x - mu) * (x - mu)).sum / xs.length
    }
    val v0 = varOf(0, rot)
    (1 until dim).foreach(j => assert(v0 > 5 * varOf(j, rot),
      s"coordinate $j variance not dominated: $v0 vs ${varOf(j, rot)}"))

    // the OPQ objective: PQ reconstruction error strictly lower in the
    // rotated space at the same (m, k, rounds) code budget
    def pqError(df: org.apache.spark.sql.DataFrame): Double = {
      val m = 4; val k = 3; val sub = dim / m
      val cb = Similarity.pqCodebooks(df, m, k, rounds = 2)
      val cents = cb.collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Double](2)).toMap
      val enc = Similarity.pqEncode(df, cb, m)
        .select($"vec_id", $"embedding",
          array((0 until m).map(s => col(s"code_$s")): _*).as("codes"))
        .as[(Long, Seq[Double], Seq[Long])].collect()
      enc.map { case (_, vec, codes) =>
        (0 until m).map { s =>
          val cv = cents((s, codes(s)))
          vec.slice(s * sub, (s + 1) * sub).zip(cv)
            .map { case (x, c) => (x - c) * (x - c) }.sum
        }.sum
      }.sum / enc.length
    }
    val errRaw = pqError(corpus.select($"vec_id",
      transform($"embedding", x => x.cast("double")).as("embedding")))
    val errRot = pqError(Similarity.opqRotate(corpus, "embedding", u))
    assert(errRot < errRaw * 0.8,
      s"rotation must cut quantization error: $errRot !< 0.8 * $errRaw")
  }

  test("pqTopK: identical vectors share codes; nearest neighbor is the twin") {
    val corpus = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 1.0f)), (1L, Seq(0.0f, 1.0f, 1.0f, 0.0f)),
      (2L, Seq(1.0f, 0.0f, 0.0f, 1.0f)), (3L, Seq(0.0f, 1.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val cb = Similarity.pqCodebooks(corpus, m = 2, k = 2, rounds = 1)
    assert(cb.count() == 4) // m * k codebook rows
    val enc = Similarity.pqEncode(corpus, cb, m = 2)
      .select($"vec_id", $"code_0", $"code_1")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    // identical vectors must get identical code words
    assert(enc(0)._2 == enc(2)._2 && enc(0)._3 == enc(2)._3)
    assert(enc(1)._2 == enc(3)._2 && enc(1)._3 == enc(3)._3)
    assert(enc(0)._2 != enc(1)._2 || enc(0)._3 != enc(1)._3)
    val queries = corpus.where($"vec_id" === 0L)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val top = Similarity.pqTopK(queries, corpus, m = 2, k = 2, rounds = 1,
        topK = 3)
      .orderBy("rnk").as[(Long, Long, Long, Long)].collect().toSeq
    // the twin (id 2, same codes) must outscore the orthogonal pair
    assert(top.head._3 == 2L)
    assert(top.head._4 > top(1)._4)
  }

  test("ivfPqTopK probes the query's coarse cell and finds the twin") {
    val corpus = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 1.0f)), (1L, Seq(0.0f, 1.0f, 1.0f, 0.0f)),
      (2L, Seq(1.0f, 0.0f, 0.0f, 1.0f)), (3L, Seq(0.0f, 1.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val queries = corpus.where($"vec_id" === 0L)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    // nprobe=1: only the query's own coarse cell is scored, so the
    // orthogonal pair (other cell) must NOT appear in the results
    val top = Similarity.ivfPqTopK(queries, corpus, kCells = 2,
        coarseRounds = 1, m = 2, k = 2, rounds = 1, topK = 3, nprobe = 1)
      .orderBy("rnk")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(top.map(_._4) == Seq(2L), s"got $top") // only the twin, id 2
  }

  test("bruteForceL2TopK ranks by distance, not direction") {
    val corpus = Seq(
      (0L, Seq(1.0f, 0.0f)),  // query
      (1L, Seq(3.0f, 0.0f)),  // same direction, far away
      (2L, Seq(0.5f, 0.5f))   // off-direction, close
    ).toDF("vec_id", "embedding")
    val queries = corpus.where($"vec_id" === 0L)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val l2 = Similarity.bruteForceL2TopK(queries, corpus, k = 2)
      .orderBy("rnk").select($"neighbor_id").as[Long].collect().toSeq
    val cos = Similarity.bruteForceTopK(queries, corpus, k = 2)
      .orderBy("rnk").select($"neighbor_id").as[Long].collect().toSeq
    assert(l2 == Seq(2L, 1L))  // nearest by ‖q−x‖²
    assert(cos == Seq(1L, 2L)) // nearest by angle — the metrics disagree
  }

  test("ivfAdcTopK probes the coarse cell and finds the residual-coded twin") {
    val corpus = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 1.0f)), (1L, Seq(0.0f, 1.0f, 1.0f, 0.0f)),
      (2L, Seq(1.0f, 0.0f, 0.0f, 1.0f)), (3L, Seq(0.0f, 1.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val queries = corpus.where($"vec_id" === 0L)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    // nprobe=1: only the query's own coarse cell is scored; the twin
    // (identical vector -> identical residual -> identical codes -> zero
    // table distance) is the only candidate and must surface
    val top = Similarity.ivfAdcTopK(queries, corpus, kCells = 2,
        coarseRounds = 1, m = 2, k = 2, rounds = 1, topK = 3, nprobe = 1)
      .orderBy("rnk")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(top.map(_._4) == Seq(2L), s"got $top")
    assert(top.head._5 == 0L) // exact-twin residual distance is zero
  }

  test("refineTopK with a full-corpus shortlist reproduces brute force") {
    // Refine is exact re-scoring: when the shortlist is the whole corpus,
    // the result must be bit-identical to bruteForceTopK (same fold, same
    // id tie-break). On testdata embeddings, a full-depth IVF-PQ shortlist
    // refines to the brute-force ranking.
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val q = emb.where($"vec_id" < 3)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val n = emb.count().toInt
    val brute = Similarity.bruteForceTopK(q, emb, k = 3)
      .select($"q_id", $"rnk", $"neighbor_id", $"cos_sim")
      .orderBy("q_id", "rnk").collect().toSeq
    val refined = Similarity.ivfPqRefineTopK(q, emb, kCells = 2,
        coarseRounds = 1, m = 2, k = 2, rounds = 1, shortK = n, topK = 3,
        nprobe = 2)
      .orderBy("q_id", "rnk").collect().toSeq
    assert(refined == brute)
  }

  test("sq8TopK ranks by integer quantized dot with id tie-break") {
    val corpus = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(2.0f, 0.0f)),  // same direction as q
      (2L, Seq(0.0f, 1.0f)), (3L, Seq(0.7f, 0.7f))
    ).toDF("vec_id", "embedding")
    val queries = corpus.where($"vec_id" === 0L)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val got = Similarity.sq8TopK(queries, corpus, k = 3)
      .orderBy("rnk").as[(Long, Long, Long, Long)].collect().toSeq
    // quantized: q=(127,0); id1=(127,0) dot 16129; id3=(90,90) dot 11430;
    // id2=(0,127) dot 0. Magnitude is normalized away (id1 scores as a dup).
    assert(got == Seq((0L, 1L, 1L, 16129L), (0L, 2L, 3L, 11430L),
      (0L, 3L, 2L, 0L)))
  }

  test("data_tfidf_selfmrr accounting identities hold on sf0.001") {
    val r = Registry.byName("data_tfidf_selfmrr")
      .build(spark, TestSpark.sf).collect()(0)
    val (nQ, nHits, mrr) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    assert(nQ > 0 && nHits <= nQ)
    assert(mrr >= 0.0 && mrr <= 1.0)
    // every hit contributes at most 1/1 and at least 1/K: mrr brackets
    if (nHits > 0) {
      assert(mrr <= nHits.toDouble / nQ)
      assert(mrr >= nHits.toDouble / (nQ * 10))
    } else assert(mrr == 0.0)
    // the lcm scaling is exact: mrr * n * 2520 must be an integer
    val scaled = mrr * nQ * 2520
    assert(math.abs(scaled - math.rint(scaled)) < 1e-6)
  }

  test("data_dedup_lsh_recall invariants hold on sf0.001") {
    val r = Registry.byName("data_dedup_lsh_recall")
      .build(spark, TestSpark.sf).collect()(0)
    val (nTrue, nCand, nDec) = (r.getAs[Long]("n_true"),
      r.getAs[Long]("n_cand"), r.getAs[Long]("n_decided"))
    val (candHit, decHit) = (r.getAs[Long]("n_cand_hit"),
      r.getAs[Long]("n_dec_hit"))
    assert(nDec <= nCand)          // deciding filters candidates
    assert(candHit <= nTrue && candHit <= nCand)
    assert(decHit <= candHit)      // decided hits are a subset
    if (nTrue > 0) {
      val cr = r.getAs[Double]("candidate_recall")
      assert(cr >= 0.0 && cr <= 1.0)
      assert(cr == candHit.toDouble / nTrue)
    }
  }

  test("data_quality_propagate: component-consistent flags, exact min/low accounting") {
    val rows = Registry.byName("data_quality_propagate")
      .build(spark, TestSpark.sf)
      .select($"doc_id", $"component", $"component_size", $"score",
        $"component_min_score", $"n_low", $"is_contaminated")
      .as[(Long, Long, Long, Double, Double, Long, Boolean)].collect().toSeq
    assert(rows.nonEmpty)
    val byComp = rows.groupBy(_._2)
    byComp.foreach { case (comp, ms) =>
      val minScore = ms.map(_._4).min
      val nLow = ms.count(_._4 < 1.0).toLong
      ms.foreach { case (_, _, sz, _, cmin, nl, flag) =>
        assert(sz == ms.size, s"component $comp size")
        assert(cmin == minScore, s"component $comp min")
        assert(nl == nLow, s"component $comp n_low")
        assert(flag == (nLow > 0), s"component $comp flag")
      }
    }
    // the law holds in both directions corpus-wide: a component is
    // flagged iff it holds a below-floor member (checked per component
    // above); multi-member components exist so the grouping is exercised
    assert(byComp.values.exists(_.size > 1))
    assert(rows.exists(_._7) && rows.exists(!_._7))
  }

  test("data_lm_backoff: independent replay of the stupid-backoff tiers") {
    val rows = Registry.byName("data_lm_backoff").build(spark, TestSpark.sf)
      .select($"doc_id", $"n_pos", $"n_tri_hit", $"n_bi_backoff",
        $"n_uni_backoff", $"bo_score", $"avg_score", $"is_fluent")
      .as[(Long, Long, Long, Long, Long, Long, Double, Boolean)]
      .collect().toSeq
    val docs = Tables.documents(spark, TestSpark.sf)
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    // train the three count models independently
    def toks(t: String) = t.split("\\s+", -1).toSeq
    def grams(k: Int): Map[String, Long] = docs
      .flatMap { case (_, t) => toks(t).sliding(k).filter(_.size == k)
        .map(_.mkString(" ")) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val (g3, g2, g1) = (grams(3), grams(2), grams(1))
    def lg(c: Long) = 63 - java.lang.Long.numberOfLeadingZeros(c + 1)
    val byId = rows.map(r => r._1 -> r).toMap
    docs.foreach { case (id, t) =>
      val w = toks(t)
      if (w.size >= 3) {
        val scores = (2 until w.size).map { i =>
          val (k3, k2, k1) = (s"${w(i - 2)} ${w(i - 1)} ${w(i)}",
            s"${w(i - 1)} ${w(i)}", w(i))
          if (g3.getOrElse(k3, 0L) >= 2) (0, lg(g3(k3)).toLong)
          else if (g2.getOrElse(k2, 0L) >= 2) (1, lg(g2(k2)) - 4L)
          else (2, lg(g1.getOrElse(k1, 0L)) - 8L)
        }
        val (_, np, t0, t1, t2, bo, avg, fl) = byId(id)
        assert(np == scores.size, s"doc $id n_pos")
        assert(t0 == scores.count(_._1 == 0), s"doc $id tri")
        assert(t1 == scores.count(_._1 == 1), s"doc $id bi")
        assert(t2 == scores.count(_._1 == 2), s"doc $id uni")
        assert(bo == scores.map(_._2).sum, s"doc $id score")
        assert(avg == bo.toDouble / np && fl == (avg >= 1.5), s"doc $id gate")
      } else assert(!byId.contains(id), s"doc $id too short")
    }
    // backoff is real on this corpus: both backoff tiers fire somewhere
    assert(rows.map(_._4).sum > 0)
  }

  test("data_dsir_resample: independent replay of the learned importance weights") {
    val rows = Registry.byName("data_dsir_resample").build(spark, TestSpark.sf)
      .select($"doc_id", $"n_toks", $"is_target", $"dsir_sum", $"avg_w",
        $"is_selected")
      .as[(Long, Long, Boolean, Long, Double, Boolean)].collect().toSeq
    val docs = Tables.documents(spark, TestSpark.sf)
      .select($"doc_id", $"lang", $"text")
      .as[(Long, String, String)].collect().toSeq
    // learn the hashed-bigram target/raw models independently
    def bigramBuckets(t: String): Seq[Long] = t.split("\\s+", -1).toSeq
      .sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
      .map { g =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(g.getBytes("UTF-8")).take(2)
          .map("%02x".format(_)).mkString
        java.lang.Long.parseLong(h, 16) % 4096L
      }
    val occ = docs.flatMap { case (id, lang, t) =>
      bigramBuckets(t).map(b => (id, lang, b)) }
    def lg(c: Long) = (63 - java.lang.Long.numberOfLeadingZeros(c + 1)).toLong
    val raw = occ.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val tgt = occ.filter(_._2 == "en").groupBy(_._3).view
      .mapValues(_.size.toLong).toMap
    val w = raw.map { case (b, rc) => b -> (lg(tgt.getOrElse(b, 0L)) - lg(rc)) }
    val byId = rows.map(r => r._1 -> r).toMap
    docs.foreach { case (id, lang, t) =>
      val bs = bigramBuckets(t)
      if (bs.nonEmpty) {
        val (_, n, isT, sw, avg, sel) = byId(id)
        assert(n == bs.size, s"doc $id n_toks")
        assert(isT == (lang == "en"), s"doc $id target flag")
        assert(sw == bs.map(w).sum, s"doc $id weight sum")
        assert(avg == sw.toDouble / n, s"doc $id avg")
        assert(sel == (sw * 1000000L >= -1150000L * n), s"doc $id gate")
      } else assert(!byId.contains(id), s"doc $id no bigrams")
    }
    // the estimator detects the target distribution: selection rate among
    // target docs strictly exceeds the rate among non-target docs, and
    // both selection classes are populated
    val (t0, t1) = rows.partition(_._3)
    def rate(s: Seq[(Long, Long, Boolean, Long, Double, Boolean)]) =
      s.count(_._6).toDouble / s.size
    assert(rate(t0) > rate(t1))
    assert(rows.exists(_._6) && rows.exists(!_._6))
  }

  test("data_novelty_score: first-occurrence law and monotone ingestion order") {
    val rows = Registry.byName("data_novelty_score").build(spark, TestSpark.sf)
      .select($"doc_id", $"n_grams", $"n_novel", $"n_unique",
        $"novelty_frac", $"is_redundant")
      .as[(Long, Long, Long, Long, Double, Boolean)].collect().toSeq
    val docs = Tables.documents(spark, TestSpark.sf)
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    def grams(t: String): Set[String] = t.split("\\s+", -1).toSeq
      .sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
    // independent replay: a gram is novel in exactly the min-doc_id doc
    val firstDoc = docs.flatMap { case (id, t) => grams(t).map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val inDocs = docs.flatMap { case (id, t) => grams(t).map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.size).toMap
    val byId = rows.map(r => r._1 -> r).toMap
    docs.foreach { case (id, t) =>
      val g = grams(t)
      if (g.nonEmpty) {
        val (_, n, nv, nu, frac, red) = byId(id)
        assert(n == g.size, s"doc $id n_grams")
        assert(nv == g.count(firstDoc(_) == id), s"doc $id novel")
        assert(nu == g.count(inDocs(_) == 1), s"doc $id unique")
        assert(frac == nv.toDouble / n && red == (nv * 100 < 50 * n))
      } else assert(!byId.contains(id))
    }
    // the very first doc is 100% novel; unique grams are always novel
    assert(byId(rows.map(_._1).min)._5 == 1.0)
    rows.foreach(r => assert(r._4 <= r._3, s"doc ${r._1} unique <= novel"))
    assert(rows.exists(_._6) && rows.exists(!_._6))
  }

  test("data_source_pagerank: independent replay of the weighted rounds") {
    val rows = Registry.byName("data_source_pagerank")
      .build(spark, TestSpark.sf)
      .select($"source", $"n_neighbors", $"wq_out", $"pr_q", $"pr_norm")
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    val docs = Tables.documents(spark, TestSpark.sf)
      .select($"doc_id", $"source", $"text")
      .as[(Long, String, String)].collect().toSeq
    def grams(t: String): Set[String] = t.split("\\s+", -1).toSeq
      .sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
    // rebuild the capped shingle-overlap edge weights independently
    val bySrc = docs.groupBy(_._2).view
      .mapValues(_.flatMap(d => grams(d._3)).toSet).toMap
    val srcsOf = bySrc.toSeq.flatMap { case (s, gs) => gs.map(_ -> s) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet)
      .filter(_._2.size <= 64).toMap
    val shared = srcsOf.values.toSeq
      .flatMap(ss => for (a <- ss; b <- ss if a != b) yield (a, b))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val wTot = shared.toSeq.groupBy(_._1._1).view
      .mapValues(_.map(_._2).sum).toMap
    val wq = shared.map { case ((a, b), ns) => (a, b) -> ns * 1000000L / wTot(a) }
    val nodes = docs.map(_._2).distinct.sorted
    val pr0 = 1000000000000L / nodes.size
    var pr = nodes.map(_ -> pr0).toMap
    for (_ <- 1 to 5) {
      val acc = wq.toSeq
        .map { case ((a, b), q) => b -> pr(a) * q / 1000000L }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      pr = nodes.map(s => s -> (15L * pr0 + 85L * acc.getOrElse(s, 0L)) / 100L)
        .toMap
    }
    assert(rows.map(_._1).sorted == nodes)
    rows.foreach { case (s, nN, wqOut, prQ, prN) =>
      assert(nN == shared.keys.count(_._1 == s), s"src $s degree")
      assert(wqOut == wq.collect { case ((a, _), q) if a == s => q }.sum)
      assert(prQ == pr(s), s"src $s pagerank")
      assert(prN == prQ.toDouble / 1e12)
      // teleport floor: no node falls under the undamped share
      assert(prQ >= 15L * pr0 / 100L - 1, s"src $s teleport floor")
    }
    // mass approximately conserved (floors only lose): sum <= PrQ, and
    // the graph carries signal — ranks are not all equal
    assert(rows.map(_._4).sum <= 1000000000000L)
    assert(rows.map(_._4).distinct.size > 1)
  }

  test("data_boilerplate_strip: clean text is exactly the non-shared blocks, in order") {
    val rows = Registry.byName("data_boilerplate_strip")
      .build(spark, TestSpark.sf)
      .select($"doc_id", $"n_blocks", $"n_boiler", $"clean_text", $"is_all_boiler")
      .as[(Long, Long, Long, String, Boolean)].collect().toSeq
    val docs = Tables.documents(spark, TestSpark.sf)
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    // independent replay: segment every doc into 8-token blocks, count
    // distinct docs per block, strip blocks shared by >= 2 docs
    def blocksOf(text: String): Seq[String] =
      text.split("\\s+", -1).toSeq.grouped(8).map(_.mkString(" ")).toSeq
    val docCount = docs.flatMap { case (id, t) => blocksOf(t).distinct.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.size).toMap
    val byId = rows.map(r => r._1 -> r).toMap
    docs.foreach { case (id, t) =>
      val bs = blocksOf(t)
      val kept = bs.filter(docCount(_) < 2)
      val (_, nb, nboil, clean, allb) = byId(id)
      assert(nb == bs.size, s"doc $id n_blocks")
      assert(nboil == bs.size - kept.size, s"doc $id n_boiler")
      assert(clean == kept.mkString(" "), s"doc $id clean_text")
      assert(allb == kept.isEmpty, s"doc $id all_boiler")
    }
    assert(rows.exists(_._3 > 0)) // boilerplate exists at this sf
  }

  test("data_source_reputation: exact accounting, blocked iff over either threshold") {
    val rows = Registry.byName("data_source_reputation")
      .build(spark, TestSpark.sf)
      .select($"source", $"n_docs", $"n_near_dup", $"sum_q6",
        $"near_dup_frac", $"mean_q6", $"is_blocked")
      .as[(String, Long, Long, Long, Double, Double, Boolean)].collect().toSeq
    assert(rows.nonEmpty)
    val corpus = Tables.documents(spark, TestSpark.sf).count()
    assert(rows.map(_._2).sum == corpus) // every doc in exactly one source
    rows.foreach { case (src, n, nd, sq, f, mq, blocked) =>
      assert(nd <= n, src)
      assert(f == nd.toDouble / n, src)
      assert(mq == sq.toDouble / n, src)
      assert(blocked == (f > 0.15 || mq < 1000000.0), src)
    }
  }

  test("data_curation_fate: first-drop-wins precedence consistent with the signals") {
    val rows = Registry.byName("data_curation_fate")
      .build(spark, TestSpark.sf)
      .select($"doc_id", $"fate", $"component", $"score", $"avg_logcount",
        $"boiler_frac", $"source_blocked")
      .as[(Long, String, Long, Double, Option[Double], Double, Boolean)]
      .collect().toSeq
    assert(rows.nonEmpty)
    rows.foreach { case (id, fate, comp, score, avg, bf, blocked) =>
      // each fate implies its own signal AND the non-firing of all
      // earlier signals in the precedence chain
      fate match {
        case "source_blocked" => assert(blocked, id)
        case "near_dup" => assert(!blocked && comp != id, id)
        case "quality" => assert(!blocked && comp == id && score < 1.0, id)
        case "not_fluent" =>
          assert(!blocked && comp == id && score >= 1.0 &&
            avg.exists(_ < 4.3), id)
        case "boilerplate" =>
          assert(!blocked && comp == id && score >= 1.0 &&
            avg.forall(_ >= 4.3) && bf > 0.5, id)
        case "kept" | "sample" =>
          assert(!blocked && comp == id && score >= 1.0 &&
            avg.forall(_ >= 4.3) && bf <= 0.5, id)
        case "exact_dup" | "contaminated" => // valid but data-dependent
        case other => fail(s"unknown fate $other for doc $id")
      }
    }
    // the composition is non-degenerate: most signals fire at this sf
    assert(rows.map(_._2).distinct.size >= 5, rows.map(_._2).distinct)
  }

  test("data_lm_score: floor-log2 domain, bigram counts match tokenization") {
    val rows = Registry.byName("data_lm_score").build(spark, TestSpark.sf)
      .select($"doc_id", $"n_bigrams", $"lm_score", $"avg_logcount",
        $"is_fluent")
      .as[(Long, Long, Long, Double, Boolean)].collect().toSeq
    assert(rows.nonEmpty)
    rows.foreach { case (id, nb, total, avg, fluent) =>
      assert(nb > 0 && total >= nb, s"doc $id") // every bigram count >= 1 -> lg >= 1
      assert(avg == total.toDouble / nb, s"doc $id avg")
      assert(fluent == (avg >= 4.5), s"doc $id gate")
    }
    assert(rows.exists(_._5) && rows.exists(!_._5)) // the gate splits the corpus
    // n_bigrams == tokens-1 for every doc with >= 2 whitespace tokens
    val docs = Tables.documents(spark, TestSpark.sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val byId = rows.map(r => r._1 -> r._2).toMap
    docs.foreach { case (id, text) =>
      val nTok = text.split("\\s+", -1).length
      if (nTok >= 2) assert(byId(id) == nTok - 1L, s"doc $id bigrams")
      else assert(!byId.contains(id), s"doc $id should have no bigrams")
    }
  }

  test("corpus diff statuses match independently recomputed membership draws") {
    def bucket(seed: String, id: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$seed|$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.take(4), 16) % 100
    }
    val rows = Registry.byName("data_corpus_diff").build(spark, TestSpark.sf)
      .select($"doc_id", $"status")
      .as[(Long, String)].collect().toSeq
    assert(rows.nonEmpty)
    val byStatus = rows.groupBy(_._2).view.mapValues(_.size).toMap
    // all four fates occur at this sf — the check is not vacuous
    assert(Set("added", "removed", "changed", "unchanged")
      .subsetOf(byStatus.keySet), byStatus.toString)
    rows.foreach { case (id, st) =>
      val inA = bucket("snapA", id) < 90
      val inB = bucket("snapB", id) < 90
      val edited = bucket("edit", id) < 20
      val expect =
        if (!inA && inB) "added"
        else if (inA && !inB) "removed"
        else if (edited) "changed"
        else "unchanged"
      assert(st == expect, s"doc $id: $st != $expect")
    }
    // docs in neither snapshot appear in neither side of the full outer
    val ids = rows.map(_._1).toSet
    val all = Tables.documents(spark, TestSpark.sf)
      .select($"doc_id").as[Long].collect().toSeq
    all.filterNot(ids).foreach { id =>
      assert(bucket("snapA", id) >= 90 && bucket("snapB", id) >= 90,
        s"doc $id missing from the diff but in a snapshot")
    }
  }

  test("triangle counts match brute force on known graph shapes") {
    // K4 (every node in 3 of the 4 triangles) ∪ a square (0 triangles)
    // ∪ a triangle with a pendant — exercises orientation ties, closed
    // and open wedges, and the zero-count LEFT join.
    val edges = Seq(
      // K4 on 1..4
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      // square on 10..13
      (10L, 11L), (11L, 12L), (12L, 13L), (10L, 13L),
      // triangle 20,21,22 with pendant 23
      (20L, 21L), (20L, 22L), (21L, 22L), (22L, 23L)
    ).toDF("id_a", "id_b")
    val got = DataQueries.triangleCounts(edges)
      .select($"doc_id", $"degree", $"n_triangles")
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    val expected = Seq(
      (1L, 3L, 3L), (2L, 3L, 3L), (3L, 3L, 3L), (4L, 3L, 3L),
      (10L, 2L, 0L), (11L, 2L, 0L), (12L, 2L, 0L), (13L, 2L, 0L),
      (20L, 2L, 1L), (21L, 2L, 1L), (22L, 3L, 1L), (23L, 1L, 0L))
    assert(got == expected)
    // global triangle law: per-node counts sum to 3 × the triangle count
    assert(got.map(_._3).sum == 3 * (4 + 0 + 1))
  }

  test("fuzzy decontamination mechanism: signature match separates a " +
      "paraphrase from an unrelated doc") {
    import graft.data.{Dedup, TextAnalysis}
    // A first-token perturbation of the 12-token doc breaks only the
    // first of its 10 trigram shingles (true J = 9/11 ≈ 0.82, expected
    // signature agreement ≈ 10/12): the signature comparison must put
    // the paraphrase far above an unrelated doc.
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val para = "ALPHA " + base.stripPrefix("alpha ")
    val unrel = "one two three four five six seven eight nine ten eleven twelve"
    val sigs = Seq((0L, base), (1L, para), (2L, unrel)).toDF("doc_id", "text")
      .select(col("doc_id"), Dedup.minhashSig(
        TextAnalysis.shingles(TextAnalysis.tokens(col("text")), 3), 12).as("sig"))
      .as[(Long, Seq[String])].collect().toMap
    def matches(a: Long, b: Long) =
      sigs(a).zip(sigs(b)).count { case (x, y) => x == y }
    assert(matches(0L, 1L) >= 6, s"paraphrase matched only ${matches(0L, 1L)}/12")
    assert(matches(0L, 2L) == 0, "unrelated doc shares signature components")
    // query-level internal consistency on the real corpus
    val q = Registry.byName("data_decontaminate_fuzzy")
      .build(spark, TestSpark.sf)
      .select($"n_match", $"est_jaccard", $"is_contaminated")
      .as[(Long, Double, Boolean)].collect()
    assert(q.nonEmpty)
    q.foreach { case (m, j, c) =>
      assert(m >= 0 && m <= 12 && j == m / 12.0 && c == (m >= 6))
    }
  }
}
