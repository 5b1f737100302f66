package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.data.{Indexing, TextAnalysis}

/** Unit-level invariants for the indexing/membership family:
  * duplicate-span removal, count-min sketch, Bloom membership, and the
  * positional inverted index. */
class IndexOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def pin(p: String) = graft.data.IndexManifest.load(spark, p).get

  test("removeDupSpans removes exactly the corpus-duplicated n-gram spans") {
    // Docs 1 and 2 share the 3-gram "a b c" (a cross-doc duplicate);
    // doc 3 repeats "x y z" twice WITHIN itself (count >= 2 still);
    // doc 4 has no duplicated span; doc 5 is NULL text.
    val docs = Seq(
      (1L, "a b c p q"),
      (2L, "u v a b c"),
      (3L, "x y z w x y z"),
      (4L, "one two three four"),
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = Indexing.removeDupSpans(docs, "doc_id", "text", 3)
      .orderBy("doc_id")
      .as[(Long, Option[Long], Option[Long], Option[Double], Option[String])]
      .collect()

    // doc 1: span at pos 0 covers tokens 0-2 -> "p q" remains
    assert(out(0) == ((1L, Some(5L), Some(3L), Some(0.4), Some("p q"))))
    // doc 2: span at pos 2 covers tokens 2-4 -> "u v" remains
    assert(out(1) == ((2L, Some(5L), Some(3L), Some(0.4), Some("u v"))))
    // doc 3: "x y z" occurs at pos 0 and 4; covered 0-2 and 4-6 -> "w"
    assert(out(2) == ((3L, Some(7L), Some(6L), out(2)._4, Some("w"))))
    // doc 4: nothing duplicated, text unchanged
    assert(out(3) == ((4L, Some(4L), Some(0L), Some(1.0), Some("one two three four"))))
    // doc 5: NULL propagates
    assert(out(4) == ((5L, None, None, None, None)))
  }

  test("CMS estimate is never below the exact count (one-sided error)") {
    val toks = Tables.documentsHot(spark, TestSpark.sf)
      .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
    val cms = Indexing.cmsTable(toks, "tok", 4, 16)
    val exact = toks.groupBy(col("tok")).agg(count(lit(1)).as("exact_cnt"))
    val est = Indexing.cmsEstimate(cms, exact, "tok", 4, 16)
    val bad = est.where(col("est_cnt") < col("exact_cnt")).count()
    assert(bad == 0)
    // and the sketch total mass per row equals the token count
    val n = toks.count()
    val mass = cms.groupBy(col("r")).agg(sum(col("cnt")).as("mass"))
      .select(col("mass")).as[Long].collect()
    assert(mass.forall(_ == n))
  }

  test("Bloom membership has zero false negatives vs the exact set") {
    val sh = Tables.documentsHot(spark, TestSpark.sf)
      .select(col("doc_id"), explode(array_distinct(TextAnalysis.shingles(
        TextAnalysis.tokens(col("text")), 3))).as("sh"))
    val members = sh.where(col("doc_id") < 10).select(col("sh")).distinct()
    val bits = Indexing.bloomBits(members, "sh", 3, 4096)
    val probes = sh.where(col("doc_id") >= 10)
    val withHit = Indexing.bloomMightContain(bits, probes, "sh", 3, 4096)
    // every probe shingle that IS a member must be flagged
    val falseNeg = withHit
      .join(members.withColumn("__m", lit(1)), Seq("sh"), "left")
      .where(col("__m").isNotNull && !col("bloom_hit"))
      .count()
    assert(falseNeg == 0)
  }

  test("bitmap-literal Bloom probe matches the join-form probe exactly") {
    val sh = Tables.documentsHot(spark, TestSpark.sf)
      .select(col("doc_id"), explode(array_distinct(TextAnalysis.shingles(
        TextAnalysis.tokens(col("text")), 3))).as("sh"))
    val bits = Indexing.bloomBits(
      sh.where(col("doc_id") < 10).select(col("sh")).distinct(), "sh", 3, 4096)
    val probes = sh.where(col("doc_id") >= 10)
    val joinForm = Indexing.bloomMightContain(bits, probes, "sh", 3, 4096)
    val bitmap = Indexing.bloomBitmapString(bits, 4096)
    assert(bitmap.length == 4096)
    val mapForm = probes.withColumn("bloom_hit",
      Indexing.bloomHitColumn(bitmap, col("sh"), 3))
    val diff = joinForm.withColumnRenamed("bloom_hit", "hit_join")
      .join(mapForm, Seq("doc_id", "sh"))
      .where(col("hit_join") =!= col("bloom_hit")).count()
    assert(diff == 0)
  }

  test("postings reconstruct the token stream (positions and counts)") {
    val docs = Seq((1L, "b a b c b"), (2L, "c c")).toDF("doc_id", "text")
    val p = Indexing.postings(docs, "doc_id", "text")
      .orderBy("term", "doc_id")
      .as[(String, Long, Long, Seq[Long])].collect()
    assert(p.toSeq == Seq(
      ("a", 1L, 1L, Seq(1L)),
      ("b", 1L, 3L, Seq(0L, 2L, 4L)),
      ("c", 1L, 1L, Seq(3L)),
      ("c", 2L, 2L, Seq(0L, 1L))))
    // n_occ matches the positions list everywhere on real data
    val real = Indexing.postings(
      Tables.documentsHot(spark, TestSpark.sf), "doc_id", "text")
    assert(real.where(size(col("positions")) =!= col("n_occ")).count() == 0)
  }

  test("HLL registers merge by per-bucket MAX (sketch mergeability)") {
    // The distributed-sketch law: registers built on any shard split
    // MAX-merge to exactly the whole-corpus registers. Split events on
    // event_id parity — two disjoint "shards".
    val e = Tables.events(spark, TestSpark.sf)
      .where(col("event_type").isNotNull && col("user_id").isNotNull)
    // only mj is the mergeable sketch component — nd sums correctly only
    // over value-disjoint shards, and an event_id row split is NOT
    // value-disjoint (the same user appears in both halves), so it is
    // dropped before merging, exactly as the hllRegisters scaladoc says.
    val whole = Indexing.hllRegisters(e, "user_id", Seq("event_type"))
      .drop("nd")
    val merged = Indexing.hllRegisters(
        e.where(col("event_id") % 2 === 0), "user_id", Seq("event_type"))
      .unionByName(Indexing.hllRegisters(
        e.where(col("event_id") % 2 === 1), "user_id", Seq("event_type")))
      .groupBy(col("event_type"), col("bucket"))
      .agg(max(col("mj")).as("mj"))
    assert(whole.exceptAll(merged).count() == 0)
    assert(merged.exceptAll(whole).count() == 0)
  }

  test("HLL estimate lands within the m=256 error regime; ranks in [1,49]") {
    val e = Tables.events(spark, TestSpark.sf)
      .where(col("event_type").isNotNull && col("user_id").isNotNull)
    val regs = Indexing.hllRegisters(e, "user_id", Seq("event_type"))
    assert(regs.where(col("mj") < 1 || col("mj") > 49).count() == 0)
    assert(regs.where(col("bucket") < 0 || col("bucket") > 255).count() == 0)
    val est = Indexing.hllEstimate(regs, Seq("event_type"))
    // the one-pass exact count (per-bucket distinct sums) must equal the
    // plain count-distinct — the bucket-partition law
    val plain = e.groupBy(col("event_type"))
      .agg(count_distinct(col("user_id")).as("n_plain"))
    assert(est.join(plain, Seq("event_type"))
      .where(col("n_exact") =!= col("n_plain")).count() == 0)
    // Testdata cardinalities sit in the small-range regime, so the
    // linear-counting branch must fire and land tight (σ for linear
    // counting at this load factor is ~2-3%; allow 15%).
    val bad = est.where(
      abs(col("est_distinct") / col("n_exact") - 1.0) > 0.15).count()
    assert(bad == 0)
    // The raw harmonic estimator is the one the correction replaces —
    // biased HIGH in this regime, never below the corrected value.
    assert(est.where(col("raw_est") < col("est_distinct")).count() == 0)
  }

  test("phraseMatches counts adjacent pairs from the index only") {
    val docs = Seq(
      (1L, "to be or not to be"),
      (2L, "be to be to"),
      (3L, "to to be")
    ).toDF("doc_id", "text")
    val occ = Indexing.occurrences(docs, "doc_id", "text")
    val m = Indexing.phraseMatches(occ, "doc_id", lit("to"), lit("be"))
      .orderBy("doc_id").as[(Long, Long)].collect()
    assert(m.toSeq == Seq((1L, 2L), (2L, 1L), (3L, 1L)))
  }

  test("maintained postings index: idempotent append, exact df/N increments, " +
      "artifact rebuild repairs a corrupted dictionary") {
    import graft.data.{Indexing, IndexManifest}
    val corpus = Seq((1L, "alpha beta gamma"), (2L, "alpha delta"))
      .toDF("doc_id", "text")
    val batch = Seq((10L, "alpha epsilon"), (11L, "zeta zeta beta"))
      .toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft_post_idx")
      .resolve("postings").toString
    Indexing.writePostingsIndex(corpus, "doc_id", "text", path)
    // layout + artifacts (manifest-pinned reads)
    assert(IndexManifest.readData(spark, path).columns.toSet ==
      Set("doc_id", "term", "tf", "shard"))
    assert(Indexing.readPostingsStats(spark, pin(path)).as[Long].head() == 2L)
    val df0 = Indexing.readPostingsDf(spark, pin(path))
      .as[(String, Long)].collect().toMap
    assert(df0 == Map("alpha" -> 2L, "beta" -> 1L, "gamma" -> 1L,
      "delta" -> 1L))
    Indexing.appendPostingsIndex(batch, "doc_id", "text", path)
    val df1 = Indexing.readPostingsDf(spark, pin(path))
      .as[(String, Long)].collect().toMap
    // exact increments: alpha +1 (doc 10), beta +1 (doc 11), epsilon
    // and zeta enter at 1 (zeta's tf=2 is ONE doc)
    assert(df1 == Map("alpha" -> 3L, "beta" -> 2L, "gamma" -> 1L,
      "delta" -> 1L, "epsilon" -> 1L, "zeta" -> 1L))
    assert(Indexing.readPostingsStats(spark, pin(path)).as[Long].head() == 4L)
    val n1 = IndexManifest.readData(spark, path).count()
    // idempotent: a full replay appends nothing and increments nothing
    Indexing.appendPostingsIndex(batch, "doc_id", "text", path)
    assert(IndexManifest.readData(spark, path).count() == n1)
    assert(Indexing.readPostingsStats(spark, pin(path)).as[Long].head() == 4L)
    assert(Indexing.readPostingsDf(spark, pin(path))
      .as[(String, Long)].collect().toMap == df1)
    // repair: COMMIT a corrupted dictionary version (an adopted index
    // with wrong artifacts), rebuild re-derives df/N from the postings
    val bogus = IndexManifest.writeArtifact(spark, path, "df",
      Seq(("bogus", 999L)).toDF("term", "df"))
    val snap = IndexManifest.load(spark, path).get
    IndexManifest.commit(spark, path, snap,
      IndexManifest.Delta(artifacts = Map(bogus)))
    assert(Indexing.readPostingsDf(spark, pin(path))
      .as[(String, Long)].collect().toMap == Map("bogus" -> 999L))
    Indexing.rebuildPostingsArtifacts(spark, path)
    assert(Indexing.readPostingsDf(spark, pin(path))
      .as[(String, Long)].collect().toMap == df1)
    assert(Indexing.readPostingsStats(spark, pin(path)).as[Long].head() == 4L)
    // serve equals the integer tf-idf definition computed by hand:
    // score(q="alpha") over 4 docs, idf = (1e6 * 5) div (df + 1)
    val q = Seq((0L, "alpha"), (0L, "zeta")).toDF("query_id", "term")
    val got = Indexing.postingsIndexServe(q, pin(path), k = 10, idfScale = 1000000L)
      .orderBy("rnk").select($"doc_id", $"score", $"n_terms")
      .as[(Long, Long, Long)].collect().toSeq
    val idfAlpha = 1000000L * 5 / 4  // df(alpha)=3
    val idfZeta = 1000000L * 5 / 2   // df(zeta)=1
    val want = Seq(
      (11L, 2 * idfZeta, 1L),             // zeta tf=2
      (1L, idfAlpha, 1L), (2L, idfAlpha, 1L), (10L, idfAlpha, 1L))
      .sortBy(r => (-r._2, r._1))
    assert(got == want)
  }

  test("postings time travel pairs version v's postings with version " +
      "v's dictionary: the pinned serve reproduces the pre-append " +
      "scores exactly") {
    import graft.data.{Indexing, IndexManifest}
    val corpus = Seq((1L, "alpha beta"), (2L, "alpha gamma"))
      .toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft_post_asof")
      .resolve("postings").toString
    Indexing.writePostingsIndex(corpus, "doc_id", "text", path)
    val v1 = IndexManifest.load(spark, path).get.version
    val q = Seq((0L, "alpha")).toDF("query_id", "term")
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("rnk")
      .select($"doc_id", $"score").as[(Long, Long)].collect().toSeq
    val before = rows(Indexing.postingsIndexServe(q, pin(path), 10, 1000000L))
    // three appends of alpha-free docs: df(alpha) stays 2 while N grows
    // 2 -> 5, so idf(alpha) = (1e6·(N+1)) div 3 MUST change (appending
    // alpha docs would grow df and N in lockstep and leave it fixed —
    // the vacuity guard below caught exactly that in a first draft)
    // retention threaded to cover the pin: v1 plus three append
    // versions (the default window of 2 would prune v1 — the knob
    // exists precisely to cover the longest-running pinned serve)
    (10L to 12L).foreach { id =>
      Indexing.appendPostingsIndex(
        Seq((id, "newterm other")).toDF("doc_id", "text"),
        "doc_id", "text", path, retainVersions = 4)
    }
    val now = rows(Indexing.postingsIndexServe(q, pin(path), 10, 1000000L))
    assert(now.map(_._1).toSet == Set(1L, 2L))
    assert(now.find(_._1 == 1L).get._2 != before.head._2,
      "the appends must have changed the current idf — otherwise the " +
        "pairing law below would be vacuous")
    // the pinned serve: v1 postings WITH v1's df/N — exactly the
    // pre-append result, not current-dictionary scores over old files
    assert(rows(Indexing.postingsIndexServe(q,
      IndexManifest.loadAt(spark, path, v1).get, 10, 1000000L))
      == before)
  }
}
