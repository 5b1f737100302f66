package graft

import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the training-run planning family: split determinism,
  * epoch-shuffle permutation structure, PR-curve accounting identities,
  * CUBE margin coverage. */
class TrainOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("data_split_assign: buckets in range, names consistent, deterministic") {
    val build = () => Registry.byName("data_split_assign")
      .build(spark, TestSpark.sf)
      .select($"doc_id", $"split_bucket", $"split")
      .as[(Long, Long, String)].collect().toSeq
    val a = build()
    assert(a.nonEmpty)
    assert(a.forall { case (_, b, _) => b >= 0 && b < 100 })
    assert(a.forall { case (_, b, s) =>
      s == (if (b < 90) "train" else if (b < 95) "val" else "test")
    })
    assert(a.map(_._3).distinct.toSet == Set("train", "val", "test"))
    assert(build() == a) // pure function of ids: bit-stable across runs
  }

  test("tokenized shards reproduce bit-identically under re-ingestion; " +
      "accounting ties out against the encode") {
    val p1 = java.nio.file.Files.createTempDirectory("graft_packtok_a")
      .resolve("shards").toString
    val p2 = java.nio.file.Files.createTempDirectory("graft_packtok_b")
      .resolve("shards").toString
    TrainQueries.writeTokenizedShards(spark, TestSpark.sf, p1)
    TrainQueries.writeTokenizedShards(spark, TestSpark.sf, p2)
    def rows(p: String) = spark.read.parquet(p)
      .select($"shard".cast("long"), $"bin", $"n_docs", $"n_tokens",
        $"token_ids")
      .as[(Long, Long, Long, Long, Seq[Long])].collect().toSeq
      .sortBy(r => (r._1, r._2))
    val a = rows(p1)
    // two independent ingestions produce identical shard CONTENT —
    // sequences, ids, order, accounting — the reproducibility contract
    // a training-shard artifact must satisfy
    assert(a.nonEmpty && a == rows(p2))
    // manifests agree too (same checksum law both reads)
    def manifest(p: String) = TrainQueries.shardTokenManifest(spark, p)
      .orderBy("shard")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(manifest(p1) == manifest(p2))
    // per-sequence accounting: token_ids length == n_tokens; every id
    // is a positive vocab id; bins are packed in doc order
    assert(a.forall(r => r._5.length == r._4 && r._5.forall(_ >= 1L)))
    // totals tie out against the independent byte-BPE encode query
    val encTotal = Registry.byName("data_bpe_bytes_encode")
      .build(spark, TestSpark.sf)
      .agg(org.apache.spark.sql.functions.sum($"n_subtokens"))
      .as[Long].head()
    assert(a.map(_._4).sum == encTotal,
      "packed token mass must equal the encode's subtoken mass")
  }

  test("tokenized-shard appends: continuation bins, replay no-op, " +
      "incremented manifest equals recompute, pre-append version " +
      "time-travel readable") {
    import org.apache.spark.sql.functions.col
    import graft.data.IndexManifest
    val p = java.nio.file.Files.createTempDirectory("graft_packtok_m")
      .resolve("shards").toString
    val sf = TestSpark.sf
    // corpus = even ids, batch = odd ids: both nonempty at any SF, and
    // every shard takes appends (bucket = id % 8 covers odds and evens)
    TrainQueries.writeTokenizedShards(spark, sf, p,
      docWhere = Some(col("doc_id") % 2 === 0))
    val v1 = IndexManifest.load(spark, p).get.version
    def bins() = IndexManifest.readData(spark, p)
      .select(col("shard").cast("long"), col("bin"))
      .as[(Long, Long)].collect().toSeq.sorted
    def manifestArt() = TrainQueries.readShardManifest(spark, p)
      .orderBy("shard").as[(Long, Long, Long, Long, Long)].collect().toSeq
    val binsBefore = bins()
    val artBefore = manifestArt()
    // build-time artifact equals the recompute over the files at rest
    assert(artBefore == TrainQueries.shardTokenManifest(spark, p)
      .orderBy("shard").as[(Long, Long, Long, Long, Long)].collect().toSeq)
    val batch = Tables.documentsHot(spark, sf)
      .where(col("doc_id") % 2 === 1)
    TrainQueries.appendTokenizedShards(spark, sf, batch, p)
    val binsAfter = bins()
    assert(binsAfter.size > binsBefore.size, "the append must add bins")
    // CONTINUATION law: stored bins are untouched, every new bin sits
    // strictly past its shard's stored max — appends never rewrite or
    // re-balance existing training data
    val maxBefore = binsBefore.groupBy(_._1).view.mapValues(_.map(_._2).max)
    val newBins = binsAfter.diff(binsBefore)
    assert(binsBefore.forall(binsAfter.contains))
    assert(newBins.forall { case (s, b) =>
      b > maxBefore.getOrElse(s, -1L) })
    // the incremented artifact IS the recompute — one wrong count or a
    // single flipped checksum bit fails this
    val artAfter = manifestArt()
    assert(artAfter == TrainQueries.shardTokenManifest(spark, p)
      .orderBy("shard").as[(Long, Long, Long, Long, Long)].collect().toSeq)
    assert(artAfter != artBefore)
    // replay: packs nothing, increments nothing
    TrainQueries.appendTokenizedShards(spark, sf, batch, p)
    assert(bins() == binsAfter)
    assert(manifestArt() == artAfter)
    // time travel: the pre-append shard set is still exactly readable,
    // paired with ITS manifest artifact version
    assert(IndexManifest.readDataAt(spark, p, v1)
      .select(col("shard").cast("long"), col("bin"))
      .as[(Long, Long)].collect().toSeq.sorted == binsBefore)
    assert(IndexManifest.loadAt(spark, p, v1).get
      .artifact(spark, "manifest")
      .orderBy("shard").as[(Long, Long, Long, Long, Long)].collect()
      .toSeq == artBefore)
  }

  test("data_epoch_shuffle: contiguous ranks per (epoch, shard), epochs differ") {
    val rows = Registry.byName("data_epoch_shuffle")
      .build(spark, TestSpark.sf)
      .select($"doc_id", $"epoch", $"shard", $"pos")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(rows.nonEmpty)
    rows.groupBy(r => (r._2, r._3)).foreach { case (_, g) =>
      assert(g.map(_._4).sorted == (1L to g.length.toLong)) // a permutation
    }
    val pos0 = rows.filter(_._2 == 0L).map(r => r._1 -> r._4).toMap
    val pos1 = rows.filter(_._2 == 1L).map(r => r._1 -> r._4).toMap
    assert(pos0.keySet == pos1.keySet) // same docs every epoch
    assert(pos0.exists { case (id, p) => pos1(id) != p }) // new permutation
  }

  test("data_classifier_pr: positives conserved, tp monotone in tau") {
    val rows = Registry.byName("data_classifier_pr")
      .build(spark, TestSpark.sf)
      .select($"tau", $"tp", $"fp", $"fn")
      .as[(Double, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(rows.map(_._1) == Seq(-1.0, -0.5, 0.0, 0.5, 1.0))
    // tp + fn = total labeled positives, identical at every threshold
    assert(rows.map(r => r._2 + r._4).distinct.size == 1)
    // raising the threshold can only shrink the predicted-positive set
    assert(rows.map(_._2).sliding(2).forall { case Seq(a, b) => b <= a })
    assert(rows.map(r => r._2 + r._3).sliding(2)
      .forall { case Seq(a, b) => b <= a })
  }

  test("data_pack_sequences: every document lands in exactly one sequence") {
    val rows = Registry.byName("data_pack_sequences")
      .build(spark, TestSpark.sf)
      .select($"bucket", $"bin", $"n_docs", $"sum_tokens")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(rows.nonEmpty)
    val totalDocs = Tables.documents(spark, TestSpark.sf).count()
    assert(rows.map(_._3).sum == totalDocs)
    // bins are distinct non-negative ids per bucket, starting at 0 (a
    // single document longer than 2×PackBin legitimately SKIPS a bin,
    // so contiguity is not an invariant)
    rows.groupBy(_._1).foreach { case (_, g) =>
      val bins = g.map(_._2)
      assert(bins.distinct.size == bins.size && bins.min == 0L)
    }
  }

  test("data_mixture_temperature: valid rates, budget respected, sqrt upweighting") {
    val rows = Registry.byName("data_mixture_temperature")
      .build(spark, TestSpark.sf)
      .select($"source", $"n_docs", $"p", $"alloc_docs", $"sample_rate")
      .as[(String, Long, Double, Long, Double)].collect().toSeq
    assert(rows.nonEmpty)
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-9) // p sums to 1
    assert(rows.map(_._4).sum <= 300L)                // integer allocation
    assert(rows.forall(r => r._5 >= 0.0 && r._5 <= 1.0))
    // temperature property: the smallest source gets at least the
    // sampling rate of the largest (sqrt flattens the distribution)
    val smallest = rows.minBy(_._2)
    val largest = rows.maxBy(_._2)
    assert(smallest._5 >= largest._5)
  }

  test("data_shard_manifest: checksum matches an independent fold and is change-sensitive") {
    val rows = Registry.byName("data_shard_manifest")
      .build(spark, TestSpark.sf)
      .select($"shard", $"n_docs", $"xor_checksum")
      .as[(Long, Long, Long)].collect().toSeq
    assert(rows.map(_._2).sum ==
      Tables.documents(spark, TestSpark.sf).count())
    // independent driver-side fold (order-free xor of 52-bit md5 prefixes)
    def hex4(s: String): Long = java.lang.Long.parseLong(s.take(4), 16)
    def h52(s: String): Long = java.lang.Long.parseLong(s.take(13), 16)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = Tables.documents(spark, TestSpark.sf)
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    val want = docs.filter(_._2 != null)
      .groupBy { case (id, _) => hex4(md5hex(s"shard|$id")) % 8 }
      .view.mapValues(_.map(d => h52(md5hex(d._2))).foldLeft(0L)(_ ^ _)).toMap
    rows.foreach { case (shard, _, xor) => assert(want(shard) == xor) }
    // change-sensitivity: perturbing ONE document flips its shard's xor
    val (id0, t0) = docs.find(_._2 != null).get
    val shard0 = hex4(md5hex(s"shard|$id0")) % 8
    val perturbed = want(shard0) ^ h52(md5hex(t0)) ^ h52(md5hex(t0 + "!"))
    assert(perturbed != want(shard0))
  }

  test("data_cube_stats: all four margins present, totals consistent") {
    val rows = Registry.byName("data_cube_stats")
      .build(spark, TestSpark.sf)
      .select($"gid", $"n_docs")
      .as[(Long, Long)].collect().toSeq
    assert(rows.map(_._1).distinct.sorted == Seq(0L, 1L, 2L, 3L))
    val total = rows.filter(_._1 == 3L).map(_._2).sum // grand total row
    Seq(0L, 1L, 2L).foreach { gid =>
      assert(rows.filter(_._1 == gid).map(_._2).sum == total)
    }
  }

  test("mergeApply: left-to-right non-overlapping BPE merge semantics") {
    def apply1(syms: Seq[String], a: String, b: String): Seq[String] =
      Seq(Tuple1(syms)).toDF("syms")
        .select(TrainQueries.mergeApply($"syms", a, b).as("m"))
        .head().getSeq[String](0)
    // run of equal symbols: only alternate pairs merge, starting left
    assert(apply1(Seq("a", "a", "a"), "a", "a") == Seq("aa", "a"))
    assert(apply1(Seq("a", "a", "a", "a"), "a", "a") == Seq("aa", "aa"))
    // a just-merged top never re-matches as the left element
    assert(apply1(Seq("a", "b", "b"), "a", "b") == Seq("ab", "b"))
    // disjoint matches all merge
    assert(apply1(Seq("x", "a", "b", "y", "a", "b"), "a", "b") ==
      Seq("x", "ab", "y", "ab"))
    // no match: unchanged; empty: unchanged
    assert(apply1(Seq("q", "r"), "a", "b") == Seq("q", "r"))
    assert(apply1(Seq.empty[String], "a", "b") == Seq.empty[String])
    // multi-char symbols from earlier rounds merge like any other
    assert(apply1(Seq("ab", "c", "ab"), "ab", "c") == Seq("abc", "ab"))
  }

  test("data_bpe_train: merge list is well-formed and feeds the encode") {
    val merges = Registry.byName("data_bpe_train")
      .build(spark, TestSpark.sf)
      .select($"step", $"lhs", $"rhs", $"merged", $"pair_count")
      .as[(Long, String, String, String, Long)].collect().toSeq
    assert(merges.map(_._1) == (1L to 8L))
    assert(merges.forall { case (_, l, r, m, c) => m == l + r && c >= 1 })
    // no merge is learned twice
    assert(merges.map(m => (m._2, m._3)).distinct.size == merges.size)
    // encode consistency: replaying the merge list over a word's chars
    // reproduces the trained table's encoding for that word
    val enc = Registry.byName("data_bpe_train_encode")
      .build(spark, TestSpark.sf)
      .select($"doc_id", $"n_words", $"n_subtokens", $"encoded")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(enc.nonEmpty)
    def replay(word: String): Seq[String] =
      merges.foldLeft(word.map(_.toString): Seq[String]) {
        case (syms, (_, a, b, m, _)) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          syms.foreach { s =>
            if (out.nonEmpty && out.last == a && s == b)
              out(out.length - 1) = m
            else out += s
          }
          out.toSeq
      }
    val docs = Tables.documents(spark, TestSpark.sf)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    enc.take(20).foreach { case (id, nw, nst, encoded) =>
      val words = docs(id).split("\\s+", -1).toSeq
      val expect = words.map(w => replay(w).mkString("|")).mkString(" ")
      assert(encoded == expect, s"doc $id encode mismatch")
      assert(nw == words.size && nst == words.map(replay(_).size).sum)
    }
  }

  test("data_split_by_component: no near-dup pair ever crosses the safe split") {
    val rows = Registry.byName("data_split_by_component")
      .build(spark, TestSpark.sf)
      .select($"doc_id", $"component", $"naive_split", $"safe_split",
        $"is_regrouped")
      .as[(Long, Long, String, String, Boolean)].collect().toSeq
    assert(rows.nonEmpty)
    // every member of a component shares ONE safe side — the leakage-
    // freedom guarantee, checked across all components
    val byComp = rows.groupBy(_._2)
    assert(byComp.values.forall(_.map(_._4).distinct.size == 1))
    // the check is not vacuous: multi-member components exist at this sf
    assert(byComp.values.exists(_.size > 1))
    // singletons can't leak, so the safe split must equal the naive one
    rows.filter { case (id, comp, _, _, _) => id == comp &&
        byComp(comp).size == 1 }
      .foreach { case (id, _, n, s, rg) =>
        assert(n == s && !rg, s"singleton $id regrouped") }
    // is_regrouped is exactly the naive/safe disagreement
    assert(rows.forall { case (_, _, n, s, rg) => rg == (n != s) })
    // and the naive split matches data_split_assign (same seed + cuts)
    val naive = Registry.byName("data_split_assign").build(spark, TestSpark.sf)
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    assert(rows.forall { case (id, _, n, _, _) => naive(id) == n })
  }

  test("data_unigram_segment: Viterbi output is lossless and brute-force " +
      "optimal under the learned piece costs") {
    val costs = TrainQueries.uniVocab(
      TrainQueries.uniWords(spark, TestSpark.sf))
      .as[(String, Long)].collect().toMap
    val rows = Registry.byName("data_unigram_segment")
      .build(spark, TestSpark.sf)
      .select($"word", $"n_pieces", $"total_cost", $"encoded")
      .as[(String, Long, Long, String)].collect().toSeq
    assert(rows.nonEmpty)

    // exhaustive minimum over ALL segmentations into vocab pieces <= 4 chars
    def bruteMin(w: String): Long = {
      val dp = Array.fill(w.length + 1)(Long.MaxValue)
      dp(0) = 0L
      for (i <- 1 to w.length; j <- math.max(0, i - 4) until i)
        costs.get(w.substring(j, i)).foreach { c =>
          if (dp(j) != Long.MaxValue && dp(j) + c < dp(i)) dp(i) = dp(j) + c
        }
      dp(w.length)
    }

    rows.foreach { case (w, n, cost, enc) =>
      val pieces = enc.split("\\|").toSeq
      assert(pieces.mkString("") == w, s"lossless: $enc != $w")
      assert(pieces.size.toLong == n)
      assert(pieces.forall(p => costs.contains(p)), s"$enc uses non-vocab piece")
      // the reported segmentation ACHIEVES the reported cost...
      assert(pieces.map(costs).sum == cost, s"$w: cost mismatch")
      // ...and the reported cost is the true optimum
      assert(cost == bruteMin(w), s"$w: $cost != brute ${bruteMin(w)}")
    }
    // non-vacuous: some corpus word genuinely splits into > 1 piece
    assert(rows.exists(_._2 > 1))
  }

  test("data_unigram_em: round 2 is brute-force optimal under the " +
      "usage-re-estimated costs; pruning holds") {
    // rebuild costs2 exactly as the EM step defines them: usage counts
    // from round-1 segmentations, plus unused single chars at their
    // round-1 (substring-count) cost
    val seg1 = Registry.byName("data_unigram_segment")
      .build(spark, TestSpark.sf)
      .select($"word", $"freq", $"encoded")
      .as[(String, Long, String)].collect().toSeq
    val usage = seg1.flatMap { case (_, f, enc) =>
      enc.split("\\|").toSeq.map(_ -> f)
    }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val costs1 = TrainQueries.uniVocab(
      TrainQueries.uniWords(spark, TestSpark.sf))
      .as[(String, Long)].collect().toMap
    def cost(t: Long): Long = 65L - java.lang.Long.toBinaryString(t).length
    val costs2 = usage.map { case (p, t) => p -> cost(t) } ++
      costs1.filter { case (p, _) => p.length == 1 && !usage.contains(p) }

    def bruteMin(w: String): Long = {
      val dp = Array.fill(w.length + 1)(Long.MaxValue)
      dp(0) = 0L
      for (i <- 1 to w.length; j <- math.max(0, i - 4) until i)
        costs2.get(w.substring(j, i)).foreach { c =>
          if (dp(j) != Long.MaxValue && dp(j) + c < dp(i)) dp(i) = dp(j) + c
        }
      dp(w.length)
    }

    val em = Registry.byName("data_unigram_em").build(spark, TestSpark.sf)
      .select($"word", $"total_cost_em", $"encoded_em", $"is_resegmented")
      .as[(String, Long, String, Boolean)].collect().toSeq
    assert(em.nonEmpty)
    val enc1 = seg1.map(r => r._1 -> r._3).toMap
    em.foreach { case (w, c, enc, rs) =>
      val pieces = enc.split("\\|").toSeq
      assert(pieces.mkString("") == w)
      // PRUNE law: every multi-char piece of round 2 survived round 1's
      // usage (candidate substrings that never won are gone)
      assert(pieces.filter(_.length > 1).forall(usage.contains),
        s"$w: unpruned piece in $enc")
      assert(pieces.map(costs2).sum == c)
      assert(c == bruteMin(w), s"$w: $c != brute ${bruteMin(w)}")
      assert(rs == (enc != enc1(w)))
    }
  }

  test("data_unigram_em3: K-round EM matches an independent in-memory EM " +
      "(optimality, pruning and convergence flags at round K)") {
    // full in-memory replica of the EM loop, sharing NO code with the
    // DataFrame side: Viterbi with the exact tie rule (min cost, then
    // smallest backpointer = longest final piece), usage re-estimation,
    // unused-char fallback — iterated the same K rounds
    val wordFreq = TrainQueries.uniWords(spark, TestSpark.sf)
      .as[(String, Long)].collect().toMap
    val costs1 = TrainQueries.uniVocab(
      TrainQueries.uniWords(spark, TestSpark.sf))
      .as[(String, Long)].collect().toMap
    val chars1 = costs1.filter(_._1.length == 1)
    def cost(t: Long): Long = 65L - java.lang.Long.toBinaryString(t).length

    def segment(w: String, costs: Map[String, Long]): Seq[String] = {
      val dp = Array.fill(w.length + 1)((Long.MaxValue, Int.MaxValue))
      dp(0) = (0L, 0)
      for (i <- 1 to w.length) {
        var best = (Long.MaxValue, Int.MaxValue)
        for (j <- math.max(0, i - 4) until i)
          costs.get(w.substring(j, i)).foreach { c =>
            if (dp(j)._1 != Long.MaxValue) {
              val cand = (dp(j)._1 + c, j)
              if (cand._1 < best._1 ||
                  (cand._1 == best._1 && cand._2 < best._2)) best = cand
            }
          }
        dp(i) = best
      }
      val cuts = scala.collection.mutable.ArrayBuffer(w.length)
      while (cuts.last > 0) cuts += dp(cuts.last)._2
      val rev = cuts.reverse
      (1 until rev.length).map(k => w.substring(rev(k - 1), rev(k)))
    }

    val K = 3
    var costs = costs1
    var finalCosts = costs1
    val segs = scala.collection.mutable.ArrayBuffer.empty[Map[String, Seq[String]]]
    for (k <- 1 to K + 1) {
      val seg = wordFreq.keys.map(w => w -> segment(w, costs)).toMap
      segs += seg
      finalCosts = costs
      if (k <= K) {
        val usage = seg.toSeq
          .flatMap { case (w, ps) => ps.map(_ -> wordFreq(w)) }
          .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        costs = usage.map { case (p, t) => p -> cost(t) } ++
          chars1.filter(c => !usage.contains(c._1))
      }
    }

    val rows = Registry.byName("data_unigram_em3").build(spark, TestSpark.sf)
      .select($"word", $"n_pieces_r1", $"n_pieces_em", $"total_cost_em",
        $"is_resegmented", $"is_converged", $"encoded_em")
      .as[(String, Long, Long, Long, Boolean, Boolean, String)]
      .collect().toSeq
    assert(rows.nonEmpty && rows.size == wordFreq.size)
    rows.foreach { case (w, n1, nk, c, rs, cv, enc) =>
      val want = segs(K)(w)
      assert(enc == want.mkString("|"), s"$w: $enc != ${want.mkString("|")}")
      assert(n1 == segs(0)(w).size.toLong && nk == want.size.toLong)
      assert(c == want.map(finalCosts).sum, s"$w: cost")
      assert(rs == (want != segs(0)(w)) && cv == (want == segs(K - 1)(w)))
    }
    // non-vacuous: on this corpus the EM's effect is the PRUNE (the
    // initial vocab already derives from substring frequencies, so the
    // optimal segmentations are a usage fixpoint — is_resegmented stays
    // false, which the per-row flag equality above already proves); the
    // final cost table must be a strict subset of the candidate vocab
    assert(finalCosts.size < costs1.size, "EM never pruned the vocabulary")
    assert(rows.exists(_._6), "no word converged by round K")
  }

  test("data_curriculum_plan: stages are length-monotone terciles; " +
      "positions contiguous per (stage, shard)") {
    val rows = Registry.byName("data_curriculum_plan")
      .build(spark, TestSpark.sf)
      .select($"doc_id", $"n_tok", $"stage", $"shard", $"pos")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val n = rows.size
    assert(n > 0)
    // stage boundaries never interleave lengths: every stage-0 doc is no
    // longer than any stage-1 doc, and stage-1 vs stage-2 likewise
    def lens(s: Long) = rows.filter(_._3 == s).map(_._2)
    assert(lens(0).max <= lens(1).min)
    assert(lens(1).max <= lens(2).min)
    // tercile law: stage 0 holds at least a third, stages cumulate to >= 2/3
    assert(lens(0).size * 3 >= n)
    assert((lens(0).size + lens(1).size) * 3 >= 2 * n)
    // positions are a contiguous 1..k permutation within each (stage, shard)
    rows.groupBy(r => (r._3, r._4)).values.foreach { g =>
      assert(g.map(_._5).sorted == (1L to g.size.toLong))
    }
  }
}
