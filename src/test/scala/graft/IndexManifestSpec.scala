package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.data.IndexManifest
import graft.data.IndexManifest.{Delta, Snapshot}

/** Unit laws of the manifest layer every maintained index publishes
  * through: version monotonicity, pinned reads, orphan reconciliation,
  * and artifact versioning — the mechanics the family-level specs
  * (DataOpsSpec snapshot isolation, PartitionPruningSpec retrain)
  * exercise end to end. */
class IndexManifestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshIndex(): String = {
    val p = java.nio.file.Files.createTempDirectory("graft_manifest")
      .resolve("idx").toString
    Seq((1L, "a"), (2L, "b"), (17L, "c")).toDF("id", "v")
      .withColumn("shard", org.apache.spark.sql.functions.pmod($"id", org.apache.spark.sql.functions.lit(2)))
      .repartition($"shard")
      .write.partitionBy("shard").parquet(p)
    p
  }

  test("commit versions are monotone; load returns the highest; readData " +
      "pins exactly the committed files") {
    val p = freshIndex()
    assert(IndexManifest.load(spark, p).isEmpty)
    val files = IndexManifest.listDataFiles(spark, p)
    assert(files.nonEmpty && files.forall(_.contains("shard=")))
    val v1 = IndexManifest.commit(spark, p, Snapshot.Empty, Delta(files))
    assert(v1 == 1L)
    assert(IndexManifest.load(spark, p).get.version == 1L)
    assert(IndexManifest.readData(spark, p).count() == 3L)
    // a second commit with a SUBSET pins readers to the subset even
    // though every file is still physically present
    val v2 = IndexManifest.commit(spark, p, IndexManifest.load(spark, p).get,
      Delta(removed = files.drop(1)))
    assert(v2 == 2L)
    val pinned = IndexManifest.readData(spark, p).count()
    assert(pinned < 3L, s"subset manifest must pin the subset: $pinned")
    assert(spark.read.parquet(p).count() == 3L) // directory still has all
    // no temp file may linger: the commit is write+rename (the local
    // filesystem's .crc sidecars are expected and ignored by load())
    val mdir = new java.io.File(p, "_manifests")
    assert(mdir.listFiles().forall(f => !f.getName.endsWith(".tmp")),
      "manifest temps must be renamed away")
  }

  test("reconcile deletes data files and artifact versions the manifest " +
      "does not reference, and adopts pre-manifest directories") {
    val p = freshIndex()
    // adoption: no manifest yet -> reconcile commits the listing as v1
    val snap = IndexManifest.reconcile(spark, p)
    assert(snap.version == 1L && snap.dataFiles.nonEmpty)
    // an orphan data file (crashed mutation debris)
    val shardDir = new java.io.File(p).listFiles()
      .find(_.getName.startsWith("shard=")).get
    val src = shardDir.listFiles().find(f => f.isFile &&
      !f.getName.startsWith("_") && !f.getName.startsWith(".")).get
    val orphan = new java.io.File(shardDir, "compact-orphan.parquet")
    java.nio.file.Files.copy(src.toPath, orphan.toPath)
    // an orphan artifact version (written, never committed)
    IndexManifest.writeArtifact(spark, p, "model",
      Seq((0L, 1L)).toDF("k", "n"))
    assert(new java.io.File(p, "_art/model/v000001").exists())
    IndexManifest.reconcile(spark, p)
    assert(!orphan.exists(), "orphan data file must be reconciled away")
    assert(!new java.io.File(p, "_art/model/v000001").exists(),
      "uncommitted artifact version must be reconciled away")
    // a COMMITTED artifact survives reconcile; a superseded version is
    // RETAINED (its manifest is still on the time-travel horizon) until
    // vacuum prunes that horizon
    val a1 = IndexManifest.writeArtifact(spark, p, "model",
      Seq((0L, 1L)).toDF("k", "n"))
    IndexManifest.commit(spark, p,
      IndexManifest.load(spark, p).get, Delta(artifacts = Map(a1)))
    val a2 = IndexManifest.writeArtifact(spark, p, "model",
      Seq((0L, 2L)).toDF("k", "n"))
    IndexManifest.commit(spark, p,
      IndexManifest.load(spark, p).get, Delta(artifacts = Map(a2)))
    IndexManifest.reconcile(spark, p)
    assert(new java.io.File(p, a1._2).exists(),
      "a superseded artifact a retained manifest references must survive " +
        "reconcile — deletion is vacuum's job")
    IndexManifest.vacuum(spark, p, keepLast = 1)
    assert(!new java.io.File(p, a1._2).exists(),
      "vacuum must garbage-collect the superseded artifact version")
    assert(IndexManifest.readArtifact(spark, p, "model")
      .as[(Long, Long)].head() == (0L, 2L))
  }

  test("artifact versions increment; readArtifact falls back to a legacy " +
      "directory when no manifest pointer exists") {
    val p = freshIndex()
    IndexManifest.reconcile(spark, p)
    val a1 = IndexManifest.writeArtifact(spark, p, "df",
      Seq(("x", 1L)).toDF("term", "df"))
    val a2 = IndexManifest.writeArtifact(spark, p, "df",
      Seq(("x", 2L)).toDF("term", "df"))
    assert(a1._2.endsWith("v000001") && a2._2.endsWith("v000002"))
    // legacy fallback: a pre-manifest `_df` directory
    Seq(("legacy", 7L)).toDF("term", "df")
      .write.parquet(s"$p/_df")
    assert(IndexManifest.readArtifact(spark, p, "df",
        legacyDir = Some("_df"))
      .as[(String, Long)].head() == ("legacy", 7L))
    // once a manifest carries the pointer, the pinned version wins
    IndexManifest.commit(spark, p,
      IndexManifest.load(spark, p).get, Delta(artifacts = Map(a2)))
    assert(IndexManifest.readArtifact(spark, p, "df",
        legacyDir = Some("_df"))
      .as[(String, Long)].head() == ("x", 2L))
  }

  test("time travel: readDataAt reconstructs each retained version " +
      "exactly, data and artifacts paired; pruned versions throw") {
    val p = freshIndex()
    IndexManifest.reconcile(spark, p) // v1: 3 rows
    val m1 = IndexManifest.writeArtifact(spark, p, "model",
      Seq((1L, 3L)).toDF("gen", "n"))
    IndexManifest.commit(spark, p,
      IndexManifest.load(spark, p).get, Delta(artifacts = Map(m1))) // v2
    // an append-shaped mutation: new file + new model version, delta
    // commit (retention threaded wide enough to keep all three versions
    // on the horizon — the default 2 would prune v1 here)
    val added = IndexManifest.stageAppend(Seq((99L, "z")).toDF("id", "v")
      .withColumn("shard", org.apache.spark.sql.functions.lit(1))
      .repartition(1), p, "shard")
    val m2 = IndexManifest.writeArtifact(spark, p, "model",
      Seq((2L, 4L)).toDF("gen", "n"))
    IndexManifest.commit(spark, p, IndexManifest.load(spark, p).get,
      Delta(added, artifacts = Map(m2)), retainVersions = 3) // v3
    assert(IndexManifest.versions(spark, p) == Seq(1L, 2L, 3L))
    assert(IndexManifest.readDataAt(spark, p, 2L).count() == 3L)
    assert(IndexManifest.readData(spark, p).count() == 4L)
    // the artifact paired with v2 is gen 1 even though gen 2 is current
    assert(IndexManifest.loadAt(spark, p, 2L).get.artifact(spark, "model")
      .as[(Long, Long)].head() == (1L, 3L))
    assert(IndexManifest.readArtifact(spark, p, "model")
      .as[(Long, Long)].head() == (2L, 4L))
    // vacuum to the newest 1: past versions become unavailable LOUDLY
    IndexManifest.vacuum(spark, p, keepLast = 1)
    assert(IndexManifest.versions(spark, p) == Seq(3L))
    intercept[java.util.NoSuchElementException] {
      IndexManifest.readDataAt(spark, p, 2L)
    }
    assert(IndexManifest.readData(spark, p).count() == 4L)
  }

  test("vacuum keeps every file a retained manifest references and " +
      "deletes what only pruned manifests held; a compaction-style swap " +
      "stays time-travel readable inside the window") {
    val p = freshIndex()
    val v1files = IndexManifest.listDataFiles(spark, p)
    IndexManifest.commit(spark, p, Snapshot.Empty, Delta(v1files)) // v1: all files
    // a compaction-style v2: drop one file from the listing (rewrite
    // elided — the retention math is the same)
    val dropped = v1files.head
    IndexManifest.commit(spark, p, IndexManifest.load(spark, p).get,
      Delta(removed = Seq(dropped))) // v2
    // retain 2: v1 (which still references the dropped file) survives,
    // so the file must stay on disk and readDataAt(1) must see it
    IndexManifest.vacuum(spark, p, keepLast = 2)
    assert(new java.io.File(p, dropped).exists(),
      "a file referenced by a retained manifest must survive vacuum")
    assert(IndexManifest.readDataAt(spark, p, 1L).count() == 3L)
    assert(IndexManifest.readData(spark, p).count() < 3L)
    // reconcile (crash repair) must ALSO respect the retained horizon
    IndexManifest.reconcile(spark, p)
    assert(new java.io.File(p, dropped).exists(),
      "reconcile must not delete files a retained manifest references")
    // retain 1: the dropped file's last reference is pruned -> deleted
    val (pruned, removed) = IndexManifest.vacuum(spark, p, keepLast = 1)
    assert(pruned == 1 && removed == 1, s"($pruned, $removed)")
    assert(!new java.io.File(p, dropped).exists(),
      "vacuum must delete a file only pruned manifests referenced")
    assert(IndexManifest.readData(spark, p).count() < 3L)
  }

  test("commit detects a violated single-writer window: the version " +
      "name can be claimed only once, and the loser's state is intact") {
    val p = freshIndex()
    val v1 = IndexManifest.reconcile(spark, p) // v1
    // the race: two writers both load v1 and compute next = 2; the
    // first claims it...
    val winner = "D shard=0/winner.parquet"
    java.nio.file.Files.write(
      new java.io.File(p, "_manifests/m000000000002").toPath,
      winner.getBytes("UTF-8"))
    // ... and the second, committing a full relisting on the same stale
    // base, must fail LOUDLY — never silently replace the winner
    val ex = intercept[java.io.IOException] {
      IndexManifest.commit(spark, p, v1,
        Delta(Seq("shard=0/loser.parquet"), v1.dataFiles))
    }
    assert(ex.getMessage.contains("concurrent"),
      s"must name the concurrent-writer violation: ${ex.getMessage}")
    // the winner's manifest is untouched and no temp lingers
    assert(new String(java.nio.file.Files.readAllBytes(
      new java.io.File(p, "_manifests/m000000000002").toPath),
      "UTF-8") == winner)
    val mdir = new java.io.File(p, "_manifests")
    assert(mdir.listFiles().forall(f => !f.getName.endsWith(".tmp")))
  }

  test("append-chain retention: every append vacuums to the window, " +
      "deletes ZERO data files (superset property), and the retained " +
      "manifest count — the per-mutation reconcile parse cost — stays " +
      "flat over many batches") {
    import graft.data.Dedup
    val path = java.nio.file.Files.createTempDirectory("graft_apvac")
      .resolve("cells").toString
    Dedup.writeCellIndex(Seq((1L, "a b c d")).toDF("doc_id", "text"),
      "doc_id", "text", 2, path)
    (0 until 12).foreach { i =>
      val preSnap = IndexManifest.load(spark, path).get
      Dedup.appendCellIndex(Dedup.cellHashes(
        Seq((100L + i, s"w$i x$i y$i z$i")).toDF("doc_id", "text"),
        "doc_id", "text", 2), path)
      // superset property: the append's closing vacuum pruned manifest
      // TEXT, never data — every pre-append file is still on disk
      assert(preSnap.dataFiles.forall(f =>
        new java.io.File(path, f).exists()),
        s"append $i deleted a data file the kept manifest references")
      // bounded horizon: reconcile parses every retained manifest at
      // the start of each mutation, so this count IS the maintenance
      // cost — it must not grow with stream age (12 appends, still 2)
      assert(IndexManifest.versions(spark, path).length <= 2,
        s"append $i left an unbounded manifest horizon")
    }
    // the horizon is exactly the documented knob: the newest two
    // versions are readable, anything older pruned loudly
    val vs = IndexManifest.versions(spark, path)
    assert(vs.length == 2)
    assert(IndexManifest.readDataAt(spark, path, vs.head).count() ==
      IndexManifest.readData(spark, path).count() - 2) // one append = 2 novel cells
    intercept[java.util.NoSuchElementException] {
      IndexManifest.readDataAt(spark, path, vs.head - 1)
    }
  }

  test("touched-shards append: filesystem listing calls are O(batch " +
      "shards), not O(index shards)") {
    import graft.data.Dedup
    val path = java.nio.file.Files.createTempDirectory("graft_aplist")
      .resolve("cells").toString
    // a corpus wide enough to populate most of the 16-shard universe
    val corpus = (1L to 200L).map(i =>
      (i, s"tok${i}a tok${i}b tok${i}c tok${i}d")).toDF("doc_id", "text")
    Dedup.writeCellIndex(corpus, "doc_id", "text", 2, path)
    val nIndexDirs = new java.io.File(path).listFiles()
      .count(_.getName.startsWith("shard="))
    assert(nIndexDirs >= 8, s"fixture too narrow: $nIndexDirs shard dirs")
    val bc = Dedup.cellHashes(
      Seq((900L, "zz yy xx ww")).toDF("doc_id", "text"),
      "doc_id", "text", 2).localCheckpoint(true)
    val dTouched = bc.select(Dedup.cellShard($"cell_hash")).distinct()
      .count().toInt
    assert(dTouched < nIndexDirs, "the batch must touch a strict subset")
    val before = IndexManifest.partitionDirListings.get()
    Dedup.appendCellIndex(bc, path)
    val calls = IndexManifest.partitionDirListings.get() - before
    // staged append: the added-file set is known by construction, the
    // reconcile is manifest-only, the commit is a manifest write — the
    // manifest layer lists ZERO partition directories per append
    // (Spark's own write committer touches only the writer-unique
    // staging dir)
    assert(calls == 0L,
      s"append listed $calls partition dirs for $dTouched touched " +
        s"shards on a $nIndexDirs-shard index")
    // and the appended rows are served correctly
    val served = Dedup.indexedCellScreen(bc,
        IndexManifest.readData(spark, path), "doc_id")
      .select($"dup_cell_frac").as[Double].collect().toSeq
    assert(served == Seq(1.0))
  }

  test("optimistic append concurrency: a second appender whose claim " +
      "loses rebases onto the winner and both batches land; " +
      "non-disjoint or artifact-conflicting losers stay loud") {
    import graft.data.Dedup
    val path = java.nio.file.Files.createTempDirectory("graft_apccy")
      .resolve("cells").toString
    Dedup.writeCellIndex(Seq((1L, "a b c d")).toDF("doc_id", "text"),
      "doc_id", "text", 2, path)
    val n0 = IndexManifest.readData(spark, path).count()
    val bA = Dedup.cellHashes(Seq((10L, "p q r s")).toDF("doc_id", "text"),
      "doc_id", "text", 2).localCheckpoint(true)
    val bB = Dedup.cellHashes(Seq((11L, "t u v w")).toDF("doc_id", "text"),
      "doc_id", "text", 2).localCheckpoint(true)
    // writer B commits INSIDE writer A's claim window (the preCommitHook
    // seam runs after A loaded its base snapshot): A's version claim
    // loses, verifies disjointness, rebases, retries — both batches
    // must be visible to the final serve
    Dedup.appendCellIndex(bA, path, retainVersions = 4,
      preCommitHook = () => Dedup.appendCellIndex(bB, path,
        retainVersions = 4))
    assert(IndexManifest.readData(spark, path).count() == n0 + 4,
      "both appenders' novel cells must land")
    Seq(bA, bB).foreach { b =>
      val served = Dedup.indexedCellScreen(b,
          IndexManifest.readData(spark, path), "doc_id")
        .select($"dup_cell_frac").as[Double].collect().toSeq
      assert(served == Seq(1.0), "each batch must be fully indexed")
    }
    // a GENUINE conflict stays loud — the winner committed a change to
    // the same artifact name this loser also updates
    val base = IndexManifest.load(spark, path).get
    val art = IndexManifest.writeArtifact(spark, path, "stats",
      Seq(1L).toDF("n"))
    val ex = intercept[IndexManifest.ConcurrentWriterException] {
      IndexManifest.commit(spark, path, base, Delta(artifacts = Map(art)),
        preCommitHook = () => {
          val w = IndexManifest.writeArtifact(spark, path, "stats",
            Seq(2L).toDF("n"))
          IndexManifest.commit(spark, path, base,
            Delta(artifacts = Map(w))): Unit
        })
    }
    assert(ex.getMessage.contains("artifact"),
      s"must refuse the artifact conflict: ${ex.getMessage}")
    // and a loser whose files the winner somehow references is refused
    val base2 = IndexManifest.load(spark, path).get
    val ex2 = intercept[IndexManifest.ConcurrentWriterException] {
      IndexManifest.commit(spark, path, base2,
        Delta(Seq("shard=0/contested.parquet")),
        preCommitHook = () => {
          IndexManifest.commit(spark, path, base2,
            Delta(Seq("shard=0/contested.parquet"))): Unit
        })
    }
    assert(ex2.getMessage.contains("disjoint"),
      s"must refuse the non-disjoint rebase: ${ex2.getMessage}")
  }

  test("segment manifests: append-commit bytes are O(batch), not " +
      "O(index files) — a 3-file append onto a 1000-file index writes " +
      "two orders of magnitude less manifest text than the full list") {
    val p = java.nio.file.Files.createTempDirectory("graft_seg")
      .resolve("idx").toString
    // a build-shaped v1: 1000 inline file entries (synthetic paths —
    // only manifest accounting is under test, nothing reads them)
    val files = (0 until 1000).map(i => f"shard=${i % 16}/part-$i%05d.parquet")
    IndexManifest.commit(spark, p, Snapshot.Empty, Delta(files))
    val fullListBytes = files.mkString("\n").length
    // first append pays the one-time inline→segment adoption (O(index))
    IndexManifest.commit(spark, p, IndexManifest.load(spark, p).get,
      Delta(Seq("shard=0/a1.parquet")), retainVersions = 4)
    // steady state: each further append writes one batch-sized segment
    // plus a manifest of reference lines — O(batch), never the list
    val before = IndexManifest.manifestBytesWritten.get()
    IndexManifest.commit(spark, p, IndexManifest.load(spark, p).get,
      Delta(Seq("shard=1/a2.parquet", "shard=2/a3.parquet",
        "shard=3/a4.parquet")), retainVersions = 4)
    val delta = IndexManifest.manifestBytesWritten.get() - before
    assert(delta < fullListBytes / 10,
      s"append commit wrote $delta manifest bytes on an index whose " +
        s"full list is $fullListBytes — not O(batch)")
    // and the resolved snapshot is exact, current and time-travel alike
    val cur = IndexManifest.load(spark, p).get
    assert(cur.dataFiles.length == 1004 && cur.inline.isEmpty &&
      cur.segments.length == 3,
      s"(${cur.dataFiles.length}, ${cur.inline.length}, ${cur.segments.length})")
    assert(IndexManifest.loadAt(spark, p, 2L).get.dataFiles.length == 1001)
    assert(IndexManifest.loadAt(spark, p, 1L).get.dataFiles.toSet ==
      files.toSet)
  }

  test("segment consolidation bounds the reference count; vacuum drops " +
      "segments only pruned manifests reference; a racing vacuum's " +
      "missing manifest is tolerated") {
    val p = java.nio.file.Files.createTempDirectory("graft_segc")
      .resolve("idx").toString
    IndexManifest.commit(spark, p, Snapshot.Empty,
      Delta(Seq("shard=0/base.parquet")))
    (1 to 8).foreach { i =>
      IndexManifest.commit(spark, p, IndexManifest.load(spark, p).get,
        Delta(Seq(s"shard=0/a$i.parquet")), retainVersions = 2,
        maxSegments = 3)
    }
    val cur = IndexManifest.load(spark, p).get
    assert(cur.dataFiles.length == 9,
      s"every appended file must survive consolidation: ${cur.dataFiles}")
    assert(cur.segments.length <= 3,
      s"consolidation must bound references: ${cur.segments.length}")
    // retention GC: segments referenced by NO retained manifest are
    // vacuumed away with their manifests — the _segments dir does not
    // grow with stream age
    val segDir = new java.io.File(p, "_segments")
    val live = (IndexManifest.load(spark, p).get.segments ++
      IndexManifest.loadAt(spark, p,
        IndexManifest.versions(spark, p).head).get.segments).toSet
    assert(segDir.listFiles().count(_.getName.startsWith("seg-")) ==
      live.size,
      "vacuum must delete segments only pruned manifests referenced")
    // racing-vacuum tolerance: a pruned-side manifest whose segment a
    // racer already deleted must not fail this writer's vacuum — the
    // racer owns what only its prunes referenced
    val vs = IndexManifest.versions(spark, p)
    java.nio.file.Files.write(
      new java.io.File(p, f"_manifests/m${vs.head}%012d").toPath,
      "S _segments/seg-racerdeleted".getBytes("UTF-8"))
    IndexManifest.vacuum(spark, p, keepLast = 1)
    IndexManifest.commit(spark, p, IndexManifest.load(spark, p).get,
      Delta(Seq("shard=0/after.parquet")), retainVersions = 2,
      maxSegments = 3)
    assert(IndexManifest.load(spark, p).get.dataFiles.length == 10)
  }

  test("append-path sweeps are age-gated: a FRESH staging dir and " +
      "manifest temp (a live concurrent appender's in-flight state) " +
      "survive reconcileAppend; aged ones are swept as crash debris") {
    val p = freshIndex()
    IndexManifest.reconcile(spark, p)
    val staging = new java.io.File(p, "_staging/livewriter1")
    assert(staging.mkdirs())
    val tmp = new java.io.File(p, "_manifests/.m000000000009.live.tmp")
    java.nio.file.Files.write(tmp.toPath, "D junk".getBytes("UTF-8"))
    IndexManifest.reconcileAppend(spark, p)
    assert(staging.exists() && tmp.exists(),
      "a fresh staging dir / manifest temp may be a live writer's — " +
        "an append's reconcile must not delete it")
    // age both past the horizon: now they are certainly crash debris
    val old = System.currentTimeMillis() - 48L * 3600 * 1000
    assert(staging.setLastModified(old) && tmp.setLastModified(old))
    IndexManifest.reconcileAppend(spark, p)
    assert(!staging.exists(), "an aged staging dir must be swept")
    assert(!tmp.exists(), "an aged manifest temp must be swept")
  }

  test("reconcile's segment sweep is age-gated: a fresh unreferenced " +
      "segment (a live appender between writeSegment and its claim) " +
      "survives a concurrent full reconcile; an aged one is swept") {
    val p = java.nio.file.Files.createTempDirectory("graft_segage")
      .resolve("idx").toString
    IndexManifest.commit(spark, p, Snapshot.Empty,
      Delta(Seq("shard=0/base.parquet")))
    IndexManifest.commit(spark, p, IndexManifest.load(spark, p).get,
      Delta(Seq("shard=0/a1.parquet")), retainVersions = 4)
    val segDir = new java.io.File(p, "_segments")
    val inflight = new java.io.File(segDir, "seg-liveappender0")
    java.nio.file.Files.write(inflight.toPath,
      "shard=0/inflight.parquet".getBytes("UTF-8"))
    IndexManifest.reconcile(spark, p)
    assert(inflight.exists(),
      "a fresh unreferenced segment may be a live appender's pre-claim " +
        "state — sweeping it would let that commit publish a dangling " +
        "reference")
    assert(inflight.setLastModified(
      System.currentTimeMillis() - 48L * 3600 * 1000))
    IndexManifest.reconcile(spark, p)
    assert(!inflight.exists(), "an aged unreferenced segment is certainly " +
      "crash debris and must be swept")
  }

  test("segment loss under a still-present manifest is LOUD corruption " +
      "(SegmentsMissingException), never a silently-skipped snapshot") {
    val p = java.nio.file.Files.createTempDirectory("graft_segloss")
      .resolve("idx").toString
    IndexManifest.commit(spark, p, Snapshot.Empty,
      Delta(Seq("shard=0/base.parquet")))
    IndexManifest.commit(spark, p, IndexManifest.load(spark, p).get,
      Delta(Seq("shard=0/a1.parquet")), retainVersions = 4)
    val head = IndexManifest.load(spark, p).get
    assert(head.segments.nonEmpty)
    // simulate genuine loss: the segment file dies while its manifest
    // lives — a racing vacuum can never produce this (manifests delete
    // first), so classifying it as "pruned" would silently drop the
    // committed batch from every keep-set walk
    assert(new java.io.File(p, head.segments.head).delete())
    val ex = intercept[IndexManifest.SegmentsMissingException] {
      IndexManifest.load(spark, p)
    }
    assert(ex.getMessage.contains("missing"))
    // and the keep-set walks (reconcile would otherwise sweep the lost
    // batch's data files as orphans) surface the same loud error
    intercept[IndexManifest.SegmentsMissingException] {
      IndexManifest.reconcile(spark, p)
    }
  }

  test("a sweep that takes the appender's own not-yet-referenced segment " +
      "self-heals: the commit rewrites the segment and still lands") {
    val p = java.nio.file.Files.createTempDirectory("graft_segheal")
      .resolve("idx").toString
    IndexManifest.commit(spark, p, Snapshot.Empty,
      Delta(Seq("shard=0/base.parquet")))
    val segDir = new java.io.File(p, "_segments")
    var once = false
    IndexManifest.commit(spark, p, IndexManifest.load(spark, p).get,
      Delta(Seq("shard=0/healed.parquet")), retainVersions = 4,
      preCommitHook = () => if (!once) {
        once = true
        // the race: a reconcile sweeping every unreferenced segment in
        // exactly the window between this writer's segment write and
        // its claim (v1 is inline, so every on-disk segment is ours)
        segDir.listFiles().foreach(f => assert(f.delete()))
      })
    val cur = IndexManifest.load(spark, p).get
    assert(cur.dataFiles.contains("shard=0/healed.parquet"),
      s"the self-healed commit must land: ${cur.dataFiles}")
    assert(cur.segments.forall(s => new java.io.File(p, s).exists()),
      "every referenced segment must exist after the heal")
  }

  test("reconcileAppend periodically sweeps AGED committed-looking " +
      "orphans (a never-compacting gate's lost-CAS debris); fresh " +
      "orphans and referenced files survive") {
    val p = freshIndex()
    IndexManifest.reconcile(spark, p)
    // first append-side reconcile starts the sweep clock (marker)
    IndexManifest.reconcileAppend(spark, p)
    val marker = new java.io.File(p, "_last_sweep")
    assert(marker.exists(), "the first append must start the sweep clock")
    val shardDir = new java.io.File(p).listFiles()
      .find(_.getName.startsWith("shard=")).get
    val src = shardDir.listFiles().find(f => f.isFile &&
      !f.getName.startsWith("_") && !f.getName.startsWith(".")).get
    val agedOrphan = new java.io.File(shardDir, "part-lostcas-old.parquet")
    val freshOrphan = new java.io.File(shardDir, "part-lostcas-new.parquet")
    java.nio.file.Files.copy(src.toPath, agedOrphan.toPath)
    java.nio.file.Files.copy(src.toPath, freshOrphan.toPath)
    val old = System.currentTimeMillis() - 48L * 3600 * 1000
    assert(agedOrphan.setLastModified(old))
    // an aged unreferenced artifact generation (a lost retrain attempt)
    val artDir = new java.io.File(p, "_art/centroids/v000009")
    assert(artDir.mkdirs())
    java.nio.file.Files.write(
      new java.io.File(artDir, "part-0.parquet").toPath, Array[Byte](1))
    assert(artDir.setLastModified(old))
    // sweep is PERIODIC: with a young marker nothing walks
    IndexManifest.reconcileAppend(spark, p)
    assert(agedOrphan.exists() && artDir.exists(),
      "a young marker means no O(index) walk on the hot path")
    // age the marker past the horizon: the walk runs once and re-arms
    assert(marker.setLastModified(old))
    IndexManifest.reconcileAppend(spark, p)
    assert(!agedOrphan.exists(), "aged lost-CAS data debris must be swept")
    assert(!artDir.exists(), "aged lost-CAS artifact debris must be swept")
    assert(freshOrphan.exists(),
      "a fresh orphan may be a live concurrent appender's output")
    assert(IndexManifest.load(spark, p).get.dataFiles
      .forall(f => new java.io.File(p, f).exists()),
      "referenced files must always survive")
    assert(marker.lastModified() > old, "the sweep must re-arm the clock")
  }

  test("N-writer soak: four concurrent appenders, a superseding folder, " +
      "and racing vacuums over ~50 commits — every batch lands exactly " +
      "once, the head resolves, and the horizon stays bounded") {
    val p = java.nio.file.Files.createTempDirectory("graft_soak")
      .resolve("idx").toString
    IndexManifest.commit(spark, p, Snapshot.Empty,
      Delta(Seq("shard=0/base.parquet")))
    val appended = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val appenders = (0 until 4).map { w =>
      new Thread(() => {
        try {
          (0 until 12).foreach { i =>
            val file = f"shard=$w/app-$w-$i%03d.parquet"
            // a real gate retries a commit the rebase window couldn't
            // absorb (same-version claims lost back to back), with a
            // short backoff so a loaded box doesn't livelock the CAS —
            // the cap is generous because consecutive losses under 5-way
            // contention on a slow machine are a scheduling artifact,
            // not a protocol failure (the protocol property under test
            // is exactly-once landing, asserted below)
            var landed = false
            var tries = 0
            while (!landed) {
              try {
                IndexManifest.commit(spark, p, IndexManifest.load(spark, p).get,
                  Delta(Seq(file)), retainVersions = 2, maxSegments = 4)
                landed = true
              } catch {
                case e: IndexManifest.ConcurrentWriterException =>
                  tries += 1
                  if (tries > 200) throw e
                  Thread.sleep(1L + (tries % 7))
              }
            }
            appended.add(file): Unit
          }
        } catch { case t: Throwable => failures.add(t): Unit }
      })
    }
    // the folder: a superseding mutation re-listing the full resolved
    // state (the compaction shape), CAS-retried on every lost claim
    val folder = new Thread(() => {
      try {
        (0 until 6).foreach { _ =>
          var done = false
          var tries = 0
          while (!done) {
            val snap = IndexManifest.load(spark, p).get
            try {
              IndexManifest.commit(spark, p, snap,
                Delta(snap.dataFiles, snap.dataFiles), retainVersions = 2): Unit
              done = true
            } catch {
              case _: IndexManifest.ConcurrentWriterException =>
                tries += 1
                if (tries > 50) done = true // starved: appends keep priority
            }
          }
          Thread.sleep(3)
        }
      } catch { case t: Throwable => failures.add(t): Unit }
    })
    (appenders :+ folder).foreach(_.start())
    (appenders :+ folder).foreach(_.join(300000))
    // distinguish a hung/starved writer (join timeout on a loaded box)
    // from a protocol failure — a still-alive thread would otherwise
    // surface as a confusing partial-state assertion below
    val alive = (appenders :+ folder).filter(_.isAlive)
    assert(alive.isEmpty,
      s"soak writers still running after join timeout: ${alive.size}")
    assert(failures.isEmpty,
      s"soak writers must not fail: ${failures.peek()}")
    val cur = IndexManifest.load(spark, p).get
    // exactly-once: every appended batch file is in the final resolved
    // list exactly once, alongside the base
    assert(appended.size() == 48)
    val inHead = cur.dataFiles.groupBy(identity).view.mapValues(_.size)
    appended.forEach { f =>
      assert(inHead.getOrElse(f, 0) == 1, s"$f must land exactly once")
    }
    assert(cur.dataFiles.contains("shard=0/base.parquet"))
    assert(cur.dataFiles.length == 49, s"got ${cur.dataFiles.length}")
    // every referenced segment resolves (no dangling references ever
    // published) and the retained horizon stayed bounded
    assert(cur.segments.forall(s => new java.io.File(p, s).exists()))
    assert(IndexManifest.versions(spark, p).length <= 3,
      "racing vacuums must converge on a bounded horizon")
  }

  test("a stale claim at a vacuumed version name is refused and rebased: " +
      "recycled manifest names must not swallow a committed batch") {
    // The exact interleaving the N-writer soak above flaked on:
    // a writer loads the head (v1), is descheduled while three
    // superseding commits land and a vacuum prunes v2 — FREEING the
    // name m000000000002 — then claims v2 and, on EEXIST alone, WINS:
    // its manifest is an invisible zombie below the head and its batch
    // is silently lost. The pruned high-water mark must turn that claim
    // into a ConcurrentWriterException the append rebase absorbs.
    val p = java.nio.file.Files.createTempDirectory("graft_hwm")
      .resolve("idx").toString
    IndexManifest.commit(spark, p, Snapshot.Empty,
      Delta(Seq("shard=0/base.parquet")))
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val hook: () => Unit = () =>
      if (fired.compareAndSet(false, true)) {
        (0 until 3).foreach { _ =>
          val snap = IndexManifest.load(spark, p).get
          IndexManifest.commit(spark, p, snap,
            Delta(snap.dataFiles, snap.dataFiles)): Unit
        }
        IndexManifest.vacuum(spark, p, keepLast = 2): Unit
      }
    val v = IndexManifest.commit(spark, p, IndexManifest.load(spark, p).get,
      Delta(Seq("shard=0/late.parquet")), retainVersions = 10,
      preCommitHook = hook)
    val cur = IndexManifest.load(spark, p).get
    assert(v == cur.version, "the append must land as the real head, " +
      s"not a zombie below it (returned v$v, head v${cur.version})")
    assert(v == 5L, s"rebase must claim past the recycled names, got v$v")
    assert(cur.dataFiles.count(_ == "shard=0/late.parquet") == 1,
      "the batch must land exactly once")
    assert(cur.dataFiles.contains("shard=0/base.parquet"))
  }

  test("crash mid-vacuum (manifest deleted, files not yet) leaves true " +
      "orphans the next reconcile removes") {
    val p = freshIndex()
    val files = IndexManifest.listDataFiles(spark, p)
    IndexManifest.commit(spark, p, Snapshot.Empty, Delta(files)) // v1: all
    IndexManifest.commit(spark, p, IndexManifest.load(spark, p).get,
      Delta(removed = files.take(1)))                          // v2: drops one
    // simulate vacuum crashing AFTER pruning v1 but BEFORE deleting the
    // file only v1 referenced
    val m1 = new java.io.File(p, "_manifests/m000000000001")
    assert(m1.delete())
    assert(new java.io.File(p, files.head).exists())
    // ... and a crash mid-COMMIT leaves a writer-unique dot temp
    val tmp = new java.io.File(p, "_manifests/.m000000000009.dead.tmp")
    java.nio.file.Files.write(tmp.toPath, "D junk".getBytes("UTF-8"))
    IndexManifest.reconcile(spark, p)
    assert(!new java.io.File(p, files.head).exists(),
      "reconcile must remove the file no retained manifest references")
    assert(!tmp.exists(), "reconcile must sweep crashed commit temps")
    assert(IndexManifest.readData(spark, p).count() < 3L)
  }

  test("snapshot law: a serve on a pin taken before a mutation commits " +
      "returns the pre-mutation answer, and equals the serve on " +
      "loadAt(pre-version) after the commit") {
    import org.apache.spark.sql.Row
    import graft.data.{Dedup, Indexing, Similarity}
    def dir(name: String) = java.nio.file.Files.createTempDirectory(
      s"graft_snaplaw_$name").resolve("idx").toString
    val vA = Seq(1.0f, 0.0f, 0.0f, 0.0f)
    val vB = Seq(0.0f, 1.0f, 0.0f, 0.0f)
    val vC = Seq(0.0f, 0.0f, 1.0f, 0.0f)
    val vecQueries = Seq((100L, vA), (101L, vC)).toDF("q_id", "q_vec")
    val termQueries = Seq((0L, "alpha"), (0L, "zeta")).toDF("query_id", "term")
    // (family, build at path, mutation, serve on a pin); every mutation
    // retains 2 versions, so the pre-version's files stay on disk
    val families: Seq[(String, String => Unit, String => Unit,
                       Snapshot => Set[Row])] = Seq(
      ("postings append",
        p => Indexing.writePostingsIndex(
          Seq((1L, "alpha beta"), (2L, "alpha gamma")).toDF("doc_id", "text"),
          "doc_id", "text", p),
        // df(alpha) fixed while N grows: every idf(alpha) changes
        p => Indexing.appendPostingsIndex(
          Seq((10L, "zeta other"), (11L, "more words")).toDF("doc_id", "text"),
          "doc_id", "text", p, retainVersions = 2),
        pin => Indexing.postingsIndexServe(termQueries, pin, 10, 1000000L)
          .collect().toSet),
      ("ivf retrain",
        p => {
          Similarity.writeIvfIndex(Seq((1L, vA), (2L, vB), (3L, vA), (4L, vB))
            .toDF("vec_id", "embedding"), kCells = 2, rounds = 1, p)
          Similarity.appendIvfIndex(Seq((5L, vC), (6L, vC), (7L, vC))
            .toDF("vec_id", "embedding"), p)
        },
        p => Similarity.retrainIvfIndex(spark, p, kCells = 2, rounds = 1,
          retainVersions = 2),
        pin => Similarity.ivfIndexServe(vecQueries, pin, k = 2, nprobe = 1)
          .collect().toSet),
      ("components fold",
        p => {
          Dedup.writeComponentsIndex(
            Seq((10L, 11L), (20L, 21L)).toDF("a", "b"), "a", "b", p)
          Dedup.appendComponentsEdges(Seq((11L, 21L)).toDF("a", "b"),
            "a", "b", p)
        },
        // truncates the forwarding table the pre-fold rows still need
        p => Dedup.compactComponentsIndex(spark, p, retainVersions = 2): Unit,
        pin => Dedup.componentsIndexServe(spark, pin).collect().toSet))
    families.foreach { case (family, build, mutate, serve) =>
      val p = dir(family.replace(' ', '_'))
      build(p)
      val pin = IndexManifest.load(spark, p).get
      val before = serve(pin)
      assert(before.nonEmpty, s"$family: the pre-mutation answer is empty")
      mutate(p)
      assert(IndexManifest.load(spark, p).get.version > pin.version,
        s"$family: the mutation must commit")
      assert(serve(pin) == before,
        s"$family: a serve on the pre-mutation pin changed its answer")
      assert(serve(IndexManifest.loadAt(spark, p, pin.version).get) == before,
        s"$family: the loadAt serve disagrees with the pinned serve")
    }
  }
}
