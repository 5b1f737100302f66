package graft.data

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Snapshot-consistent reads for every MAINTAINED index (dedup cells,
  * MinHash bands, IVF cells, TF-IDF postings): a versioned MANIFEST pins
  * the exact file set a reader plans against, and every mutation
  * (append, compaction, artifact rewrite) becomes visible only through
  * ONE atomic commit — so a serve planned at any point during a
  * mutation sees exactly the pre-state or exactly the post-state, never
  * the union a directory listing could observe mid-swap.
  *
  * Layout under an index root:
  *
  *   shard=0/part-....parquet      data files (any single-level
  *   cell=7/part-....parquet       partition layout)
  *   _manifests/m000000000001      manifest versions (text, see below)
  *   _segments/seg-...             append segments (file lists)
  *   _art/name/v000001/            artifact versions (bounded model
  *                                 tables: centroids, df, stats, ...)
  *
  * A manifest lists relative data-file paths (`D <path>`), references
  * to segment files (`S <segment>`) and the current version directory
  * of each named artifact (`A <name> <dir>`). The CURRENT manifest is
  * simply the highest version present — commits create a new file under
  * a temp name and link/rename it into place (rename-into-fresh-name is
  * the atomic primitive on HDFS and local filesystems alike), so a
  * manifest either exists completely or not at all; there is no
  * pointer file to torn-write.
  *
  * Every mutation is a [[Delta]] against the [[Snapshot]] it planned
  * from — files added, files (or artifact versions) removed, artifact
  * pointers set — published by the ONE [[commit]]:
  *
  *   1. Repair: [[reconcileAppend]] (appends) or [[reconcile]] (the
  *      exclusive window of a superseding mutation) deletes crash
  *      debris and adopts a directory listing for pre-manifest roots.
  *   2. Read the pre-state through the [[Snapshot]] step 1 returned
  *      ([[Snapshot.data]]/[[Snapshot.artifact]]) — never through a
  *      second load of the head.
  *   3. Write new data files through [[stageAppend]] (the added set is
  *      known by construction) and/or new artifact versions
  *      ([[writeArtifact]] — a NEW directory per version, never an
  *      in-place overwrite, so no `refreshByPath` ever invalidates a
  *      reader's plan).
  *   4. [[commit]] the delta, which closes with
  *      [[vacuum]]`(retainVersions)`.
  *
  * Superseding mutations (compaction, fold, retrain, artifact rebuild)
  * run steps 1–4 as ONE [[rewrite]] transaction: the caller supplies
  * only the plan `Snapshot => Delta`; reconcile, load, commit, vacuum
  * and the bounded recompute after a lost claim live here.
  *
  * A crash anywhere before step 4 leaves the index EXACTLY at the
  * pre-state for every reader (the new files are invisible orphans);
  * a crash after step 4 leaves it exactly at the post-state (any
  * not-yet-deleted superseded files are orphans). A postings append and
  * its df/N artifact rewrite publish in the same commit, so they can
  * never be observed apart.
  *
  * Concurrency contract: ONE superseding writer in the maintainer's
  * window; any number of readers, and any number of appenders whose
  * SOURCE batches are disjoint. Each version filename is claimed
  * exactly once ([[ConcurrentWriterException]] for the loser). The
  * claim is EXACT where the filesystem gives an atomic exactly-once
  * primitive: local files claim via hard-link creation (`link(2)`
  * fails with EEXIST at the kernel — no check-then-act window), and
  * HDFS-style filesystems refuse a rename onto an existing
  * destination. On stores whose rename silently replaces (S3A without
  * a committer) the pre-check downgrades to best-effort detection —
  * deploy a manifest lock service there, as every table format does.
  * What a lost claim does depends on the delta's SHAPE (see
  * [[commit]]): a delta that removes nothing rebases onto the winner
  * when the two are provably compatible; a delta that removes files
  * fails, and [[rewrite]] recomputes it from the winner's snapshot.
  *
  * RETENTION is explicit, table-format style: a superseded file stays
  * on disk — and its manifest stays readable ([[loadAt]]/[[readDataAt]],
  * the time-travel read) — until [[vacuum]] prunes versions beyond a
  * caller-chosen window. A reader pinned to any RETAINED manifest never
  * races physical deletion; [[reconcile]] deletes only files referenced
  * by NO retained manifest. Every commit ends with
  * `vacuum(retainVersions)`: appends default the window to 2 (the
  * pre-append version stays pinned, and pruning an append chain deletes
  * zero data files — append manifests reference supersets), rewrites
  * to 1 (the immediate-delete single-machine economy); production sets
  * it to cover the longest-running serve. Bounded retention is itself a
  * scale requirement: [[reconcile]] parses every retained manifest, so
  * a gate that never vacuumed would pay O(stream age) manifest parses.
  *
  * SEGMENTS keep append commits O(batch), not O(index files): an
  * append writes ONE immutable segment file under `_segments/` listing
  * only its added files, and the manifest lists segment references
  * inherited from the base plus the new one — a high-frequency ingest
  * gate writes manifest text proportional to its batch (the
  * table-format manifest-list design). [[load]] folds the referenced
  * segments back into the flat file list every consumer sees. Inline
  * `D` lines (a first commit's or a superseding commit's full listing)
  * adopt into a segment once, on the next append; once references
  * pass `maxSegments` an append CONSOLIDATES the inherited ones into
  * one fresh segment (O(index files) once, amortized
  * O(files / maxSegments) per append). Segments are immutable and
  * uniquely named, so they need no claim: an uncommitted one is an
  * invisible orphan the orphan sweep removes, and [[vacuum]] deletes a
  * segment once no retained manifest references it.
  */
object IndexManifest {

  private val ManifestDir = "_manifests"
  private val SegmentDir = "_segments"
  private val ArtRoot = "_art"
  private val StagingDir = "_staging"

  /** Age horizon of the debris sweeps that may race a live appender:
    * staging directories, manifest temps, segments (and, on the append
    * path, every orphan) YOUNGER than this may belong to a live
    * concurrent writer and are left alone; older ones are certainly a
    * crashed writer's. */
  val DefaultSweepAgeMs: Long = 24L * 3600 * 1000

  /** Another writer claimed the manifest version this commit computed.
    * Append-shaped commits rebase past it inside [[commit]] when they
    * can; superseding ones surface it, and [[rewrite]] recomputes. */
  final class ConcurrentWriterException(msg: String)
    extends java.io.IOException(msg)

  /** A commit's referenced segment file vanished before the claim —
    * either this writer's own not-yet-referenced segment was swept from
    * under it (self-healed inside [[commit]]: the segment is rewritten
    * and the commit retried), or an INHERITED segment a retained
    * manifest references is gone, which is genuine index corruption and
    * stays loud. Publishing without this check would poison every later
    * [[load]]. */
  final class SegmentsMissingException(val missing: Seq[String])
    extends java.io.IOException(
      s"referenced segment files are missing: ${missing.mkString(", ")}")

  /** Partition-directory `listStatus` calls issued by the file listers —
    * the instrumentation behind the touched-shards append probe: an
    * append on a 16-shard index must list O(batch shards), not
    * O(index shards), per mutation. */
  private[graft] val partitionDirListings =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Manifest-layer bytes written (manifest bodies + segment files) —
    * the instrumentation behind the O(batch)-commit spec: an append on
    * an index with 10⁵ files must write manifest text proportional to
    * its BATCH, never re-serialize the full file list. */
  private[graft] val manifestBytesWritten =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** A PINNED snapshot — the one way to read a maintained index: data
    * files (relative to the index root, RESOLVED across segment
    * references — every consumer reads this flat list), the version
    * directory per artifact name, and the qualified index `root`.
    * [[load]] pins the head and [[loadAt]] a retained version; every
    * data and artifact read of one index operation then goes through
    * [[data]] and [[artifact]] of that one value, so a serve, append or
    * rewrite sees exactly one manifest version however many commits
    * land while it plans — never one version's rows with another's
    * model. Time travel is the same read on a `loadAt` pin.
    * `segments`/`inline` expose the manifest's internal structure so
    * an append commit can inherit segment references without
    * re-serializing the resolved list. */
  final case class Snapshot(version: Long, dataFiles: Seq[String],
                            artifacts: Map[String, String],
                            segments: Seq[String], inline: Seq[String],
                            root: String) {

    /** Exactly this version's data files ([[readFiles]]). Throws when
      * the version lists none: there is no schema to read. */
    def data(spark: SparkSession): DataFrame = {
      if (dataFiles.isEmpty)
        throw new java.util.NoSuchElementException(
          s"manifest version $version of $root lists no data files")
      readFiles(spark, root, dataFiles)
    }

    /** The artifact version this snapshot pairs with its data files.
      * `legacyDir` bridges pre-manifest index layouts (e.g. a bare
      * `_centroids` directory) whose adopted manifest carries no
      * pointer. */
    def artifact(spark: SparkSession, name: String,
                 legacyDir: Option[String] = None): DataFrame =
      spark.read.parquet(new Path(root,
        artifacts.getOrElse(name, legacyDir.getOrElse(name))).toString)
  }

  object Snapshot {
    /** The state before any manifest exists — the base of a build's
      * (or an adoption's) first commit. */
    val Empty: Snapshot = Snapshot(0L, Seq.empty, Map.empty, Seq.empty,
      Seq.empty, "")
  }

  /** One mutation's effect on the snapshot it planned from: data files
    * it wrote, data files or artifact version directories the new
    * snapshot no longer references, and artifact pointers it sets (the
    * base's other pointers carry over). */
  final case class Delta(added: Seq[String] = Seq.empty,
                         removed: Seq[String] = Seq.empty,
                         artifacts: Map[String, String] = Map.empty) {
    def isEmpty: Boolean = added.isEmpty && removed.isEmpty && artifacts.isEmpty
  }

  private def fsOf(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    (fs, fs.makeQualified(p))
  }

  private def versionOf(name: String): Option[Long] =
    if (name.startsWith("m") && name.drop(1).forall(_.isDigit) &&
        name.length > 1)
      Some(name.drop(1).toLong)
    else None

  /** All data files under single-level `key=value` partition
    * directories, as root-relative paths, sorted. Hidden files and
    * directories (`_`/`.` prefixes) never count. */
  def listDataFiles(spark: SparkSession, path: String): Seq[String] = {
    val (fs, root) = fsOf(spark, path)
    listData(fs, root)
  }

  private def listData(fs: FileSystem, root: Path): Seq[String] =
    listIfExists(fs, root)
      .filter(st => st.isDirectory && st.getPath.getName.contains("=") &&
        !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .flatMap { dir =>
        partitionDirListings.incrementAndGet(): Unit
        fs.listStatus(dir.getPath).toSeq.filter { st =>
          val n = st.getPath.getName
          st.isFile && !n.startsWith("_") && !n.startsWith(".")
        }.map(st => s"${dir.getPath.getName}/${st.getPath.getName}")
      }.sorted

  private def manifestFiles(fs: FileSystem, root: Path): Seq[(Long, Path)] = {
    val dir = new Path(root, ManifestDir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .flatMap(st => versionOf(st.getPath.getName).map(_ -> st.getPath))
      .sortBy(_._1)
  }

  /** Pruned-version HIGH-WATER MARK marker files. [[vacuum]] deleting a
    * pruned manifest FREES its version NAME on the filesystem, so the
    * EEXIST-based claim in [[claim]] alone cannot stop a sufficiently
    * stale writer (descheduled since before two successor commits and a
    * vacuum) from "winning" a claim at a long-dead version — publishing
    * an invisible zombie manifest whose batch is silently lost (pinned
    * by IndexManifestSpec's "stale claim at a vacuumed version name":
    * the append returned v2 while the head was v4, because the pruned
    * v2 had freed the name). The mark is the claim floor: vacuum
    * advances it BEFORE deleting the manifests it pruned, and every
    * claim verifies `next > mark` before AND after its link — the
    * post-link check closes the read-then-link window (if the name was
    * recycled, the mark was already >= next when the link landed, by
    * vacuum's ordering). Monotone by construction: one empty marker
    * file whose NAME carries the value, created exclusively, never
    * overwritten; superseded markers are deleted after the higher one
    * exists, so racing vacuums converge on the max without
    * read-modify-write. Dot-prefixed (invisible to [[versionOf]] and
    * every reader) and not `.tmp`-suffixed (invisible to the
    * crashed-temp sweeps). */
  private val HwmPrefix = ".hwm-"

  private def hwmMarkers(fs: FileSystem, root: Path): Seq[(Long, Path)] = {
    val dir = new Path(root, ManifestDir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith(HwmPrefix) && n.length > HwmPrefix.length &&
          n.drop(HwmPrefix.length).forall(_.isDigit))
        Some(n.drop(HwmPrefix.length).toLong -> st.getPath)
      else None
    }
  }

  /** Highest version any vacuum ever pruned at this root (0 before the
    * first prune) — no claim may target a version at or below it. */
  private def prunedHighWaterMark(fs: FileSystem, root: Path): Long =
    hwmMarkers(fs, root).map(_._1).maxOption.getOrElse(0L)

  private def advanceHighWaterMark(fs: FileSystem, root: Path,
                                   v: Long): Unit = {
    val existing = hwmMarkers(fs, root)
    if (existing.exists(_._1 >= v)) return
    val marker = new Path(new Path(root, ManifestDir), f"$HwmPrefix$v%012d")
    try { val out = fs.create(marker, false); out.close() }
    catch { case _: java.io.IOException => () } // a racer already advanced
    // drop superseded markers; tolerant — racers may be doing the same
    existing.filter(_._1 < v).foreach { case (_, p) =>
      deleteTolerant(fs, p, recursive = false): Unit
    }
  }

  private def readLines(fs: FileSystem, p: Path): Vector[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
    finally in.close()
  }

  private def parse(fs: FileSystem, root: Path, v: Long, p: Path): Snapshot = {
    val lines = readLines(fs, p)
    val inline = lines.collect { case l if l.startsWith("D ") => l.drop(2) }
    val segs = lines.collect { case l if l.startsWith("S ") => l.drop(2) }
    val arts = lines.collect { case l if l.startsWith("A ") =>
      val rest = l.drop(2)
      val cut = rest.indexOf(' ')
      rest.take(cut) -> rest.drop(cut + 1)
    }.toMap
    val segData = segs.flatMap(s =>
      readLines(fs, new Path(root, s)).filter(_.nonEmpty))
    Snapshot(v, segData ++ inline, arts, segs, inline, root.toString)
  }

  /** [[parse]] tolerating a RACING VACUUM: two post-append vacuums from
    * concurrent writers can interleave so one deletes a superseded
    * manifest (or a segment only pruned manifests reference) while the
    * other is still walking the retained set — a batch whose commit
    * already landed must not fail over debris bookkeeping. A manifest
    * that disappears mid-walk was pruned by the racer, which also owns
    * deleting whatever only it referenced; skipping it here converges
    * on the stricter horizon.
    *
    * The tolerance is scoped to what a racing vacuum can actually
    * produce: vacuums delete manifests BEFORE segments, so by the time
    * a segment is gone every manifest that referenced it is gone too.
    * A segment-read FileNotFound while the MANIFEST file still exists
    * is therefore genuine segment loss — classifying it as "pruned"
    * would silently drop a committed snapshot from every keep-set walk
    * (reconcile would then sweep the batch's data files as orphans) and
    * mask the corruption as 'manifest kept vanishing'. That case throws
    * [[SegmentsMissingException]] on every KEEP-SET walk (load, loadAt,
    * retained-snapshot sweeps — where a dropped snapshot means data
    * loss). The one non-strict caller is [[vacuum]]'s PRUNED-side walk:
    * a corrupt about-to-be-pruned manifest only means some of what it
    * alone referenced survives as orphans — skipping it is safe, and
    * failing every future vacuum over it would wedge the index. */
  private def tryParse(fs: FileSystem, root: Path, v: Long,
                       p: Path, strict: Boolean = true): Option[Snapshot] =
    try Some(parse(fs, root, v, p))
    catch {
      case e: java.io.FileNotFoundException =>
        if (!fs.exists(p)) None // the racer pruned this manifest mid-walk
        else if (strict) throw new SegmentsMissingException(Seq(
          Option(e.getMessage).getOrElse(p.toString)))
        else None
    }

  /** Write one immutable SEGMENT file (a bare list of root-relative
    * data-file paths). Uniquely named and unreferenced until a manifest
    * commit lists it, so it needs no claim and no temp: a crashed
    * commit's segment is an invisible orphan for the orphan sweep. */
  private def writeSegment(fs: FileSystem, root: Path,
                           files: Seq[String]): String = {
    val dir = new Path(root, SegmentDir)
    if (!fs.exists(dir)) fs.mkdirs(dir): Unit
    val rel = s"$SegmentDir/seg-${java.util.UUID.randomUUID().toString.take(12)}"
    val body = files.sorted.mkString("\n").getBytes("UTF-8")
    val out = fs.create(new Path(root, rel), true)
    try out.write(body) finally out.close()
    manifestBytesWritten.addAndGet(body.length.toLong): Unit
    rel
  }

  /** The RETAINED manifest versions, ascending — the time-travel
    * horizon: [[loadAt]]/[[readDataAt]] can pin any of these until
    * [[vacuum]] prunes them. */
  def versions(spark: SparkSession, path: String): Seq[Long] = {
    val (fs, root) = fsOf(spark, path)
    manifestFiles(fs, root).map(_._1)
  }

  /** The current (highest-version) manifest, if any. Retries the
    * listing when the head manifest vanishes between list and parse
    * (two racing vacuums with different horizons — see [[tryParse]]);
    * a repeatedly missing head is genuine corruption and throws. */
  def load(spark: SparkSession, path: String): Option[Snapshot] = {
    val (fs, root) = fsOf(spark, path)
    var attempt = 0
    while (attempt < 3) {
      manifestFiles(fs, root).lastOption match {
        case None => return None
        case Some((v, p)) =>
          tryParse(fs, root, v, p) match {
            case some @ Some(_) => return some
            case None => attempt += 1
          }
      }
    }
    throw new java.io.FileNotFoundException(
      s"current manifest of $path kept vanishing between list and parse")
  }

  /** A SPECIFIC retained manifest version — the time-travel load. None
    * once [[vacuum]] has pruned it (or if it never existed; a version
    * whose FILE vanishes mid-parse was pruned mid-race and reads as not
    * retained — a present manifest with a missing segment throws, see
    * [[tryParse]]). */
  def loadAt(spark: SparkSession, path: String, version: Long): Option[Snapshot] = {
    val (fs, root) = fsOf(spark, path)
    manifestFiles(fs, root).find(_._1 == version)
      .flatMap { case (v, p) => tryParse(fs, root, v, p) }
  }

  /** Segment-reference bound before an append consolidates: commit
    * bytes per append are O(batch + maxSegments refs), and every
    * maxSegments-th append pays one O(index files) consolidation —
    * amortized O(files / maxSegments) per commit. */
  val DefaultMaxSegments: Int = 64

  /** Publish `delta` on top of `base` as the next manifest version, then
    * [[vacuum]] to `retainVersions`. The ONE commit every mutation goes
    * through; what happens when another writer claimed `base.version + 1`
    * first depends on the delta's shape alone:
    *
    *   - SUPERSEDING (`removed` non-empty — compaction, fold, retrain,
    *     full relisting): the new snapshot is the base's files minus
    *     `removed` plus `added`, listed inline. It claims exactly
    *     `base.version + 1`; a lost claim throws
    *     [[ConcurrentWriterException]] (a stale listing must never
    *     silently drop a winner's files — [[rewrite]] recomputes).
    *   - APPEND-SHAPED (nothing removed): the batch's files serialize as
    *     ONE new segment on top of the inherited references (a first
    *     commit at an empty root lists them inline instead). A lost
    *     claim REBASES onto the winner's snapshot and retries — at most
    *     3 claims — if the winner's added files are disjoint from this
    *     batch's and the winner left this batch's artifact names
    *     untouched; otherwise it throws ("disjoint" / "artifact").
    *
    * LANDING RULE, decided: after a lost claim the writer recognises
    * its OWN already-landed batch only by the writer-unique segment it
    * minted for this call being referenced from the head (a post-link
    * freshness failure can follow a publish that successors already
    * built on). An artifact-only delta has no segment; it counts as
    * landed when the head carries every pointer it set. File
    * containment is NOT proof of landing — a head that merely lists
    * this batch's file names (a foreign commit referencing them) is a
    * non-disjoint winner and is refused.
    *
    * A delta that changes nothing on an existing manifest commits
    * NOTHING and returns the base version — idempotent replays (the
    * streaming gates' at-least-once deliveries) stop minting
    * byte-identical manifest versions.
    *
    * CONCURRENT-APPENDER CONTRACT: the rebase check is FILE-level (names
    * are writer-unique by construction), not row-level — two appenders
    * handed OVERLAPPING source batches both pass it, because each
    * writer's novelty screen ran against the pre-conflict snapshot.
    * Concurrent appenders must therefore partition the SOURCE
    * disjointly (the deployment posture of every optimistic table
    * format); redelivery of a batch to the SAME logical writer stays
    * safe — the replay's novelty screen sees the first delivery's
    * commit and packs nothing. Concurrent appenders should also share
    * one `retainVersions`: racing vacuums converge on the stricter one.
    *
    * `preCommitHook` is the concurrency test seam: it runs after the
    * delta is written and before each version claim, so a spec can
    * interleave a competing writer into exactly the window the rebase
    * protects. */
  def commit(spark: SparkSession, path: String, base: Snapshot, delta: Delta,
             retainVersions: Int = 2,
             preCommitHook: () => Unit = () => (),
             maxSegments: Int = DefaultMaxSegments): Long = {
    require(retainVersions >= 1 && maxSegments >= 1,
      s"retainVersions and maxSegments must be positive, got " +
        s"$retainVersions, $maxSegments")
    if (base.version > 0 && delta.isEmpty) return base.version
    val (fs, root) = fsOf(spark, path)
    val removed = delta.removed.toSet
    val superseding = removed.nonEmpty
    // the batch's own segment, written ONCE (reused across rebase
    // retries — its content is this writer's delta, independent of the
    // base snapshot; rewritten only if a racing sweep took it)
    var mine = Option.empty[String]
    var cur = base
    var claims = 0
    var segLost = 0
    var landed = -1L
    while (landed < 0) {
      try {
        val inline = superseding || cur.version == 0
        if (!inline && mine.isEmpty && delta.added.nonEmpty)
          mine = Some(writeSegment(fs, root, delta.added))
        preCommitHook()
        val arts = cur.artifacts.filterNot { case (_, d) => removed(d) } ++
          delta.artifacts
        landed =
          if (inline)
            claim(fs, root, path, cur.version + 1,
              cur.dataFiles.filterNot(removed) ++ delta.added, Seq.empty, arts)
          else {
            // inherit the base's segment references verbatim; inline `D`
            // lines adopt into a segment ONCE, and past maxSegments the
            // inherited references consolidate into one fresh segment —
            // either way this batch's own segment stays its own reference
            val refs = cur.segments.length +
              (if (cur.inline.nonEmpty) 1 else 0) + mine.size
            val inherited =
              if (refs > maxSegments) Seq(writeSegment(fs, root, cur.dataFiles))
              else cur.segments ++ (if (cur.inline.nonEmpty)
                                      Seq(writeSegment(fs, root, cur.inline))
                                    else Seq.empty)
            claim(fs, root, path, cur.version + 1, Seq.empty,
              inherited ++ mine, arts)
          }
      } catch {
        case e: SegmentsMissingException =>
          // a sweep took a segment this claim references. Our OWN
          // segments are recoverable — rewrite and retry. A lost
          // INHERITED segment means a retained manifest's reference is
          // dangling: genuine corruption, stays loud.
          segLost += 1
          if (segLost >= 3 || e.missing.exists(cur.segments.toSet)) throw e
          if (mine.exists(e.missing.toSet))
            mine = Some(writeSegment(fs, root, delta.added))
        case e: ConcurrentWriterException if !superseding =>
          claims += 1
          val now = load(spark, path).getOrElse(throw e)
          val ours = mine match {
            case Some(seg) => now.segments.contains(seg)
            case None => delta.added.isEmpty && delta.artifacts.nonEmpty &&
              delta.artifacts.forall { case (n, d) =>
                now.artifacts.get(n).contains(d) }
          }
          if (ours) landed = now.version
          else {
            if (claims >= 3) throw e
            val winnerAdded = now.dataFiles.toSet -- base.dataFiles
            if (delta.added.exists(winnerAdded))
              throw new ConcurrentWriterException(
                "append rebase refused: the winning commit references " +
                  "files this append wrote — the deltas are not disjoint")
            if (delta.artifacts.keys.exists(n =>
                now.artifacts.get(n) != base.artifacts.get(n)))
              throw new ConcurrentWriterException(
                "append rebase refused: the winning commit changed an " +
                  "artifact this append also updates " +
                  s"(${delta.artifacts.keySet.mkString(", ")})")
            cur = now
          }
      }
    }
    vacuum(spark, path, retainVersions): Unit
    landed
  }

  /** The version claim: write the manifest body to a writer-unique temp
    * name, then link/rename it to `m<next>` — the atomic commit point of
    * every mutation. `inline` files serialize as `D` lines, `segments`
    * as `S` references. The destination name must not exist (a
    * local-filesystem rename would silently replace it — the lost
    * update a racing second writer must not be able to cause), so a
    * violated claim fails loudly here. */
  private def claim(fs: FileSystem, root: Path, path: String, next: Long,
                    inline: Seq[String], segments: Seq[String],
                    artifacts: Map[String, String]): Long = {
    // referenced segments are verified PRESENT immediately before the
    // claim: publishing a manifest whose segment is already gone (this
    // writer's own segment swept by a reconcile that believed its
    // window exclusive) would poison every later load. The sweep is
    // age-gated so this should never fire in a healthy deployment —
    // when it does (clock skew, operator error), the failure is loud
    // here and [[commit]] self-heals its own lost segment.
    val gone = segments.filterNot(s => fs.exists(new Path(root, s)))
    if (gone.nonEmpty) throw new SegmentsMissingException(gone)
    // claim floor (cheap early reject; the authoritative check is the
    // post-link one below): a version at or below the pruned high-water
    // mark was used and vacuumed — its name is free again, so EEXIST
    // alone would let a stale writer publish an invisible zombie
    if (next <= prunedHighWaterMark(fs, root))
      throw new ConcurrentWriterException(
        s"stale manifest claim: version $next of $path is at or below " +
          "the vacuumed high-water mark — the claimed name was already " +
          "used and pruned; reload and rebase")
    val dir = new Path(root, ManifestDir)
    if (!fs.exists(dir)) fs.mkdirs(dir)
    val name = f"m$next%012d"
    // writer-unique temp: with a SHARED temp name, a second writer's
    // create(overwrite) could replace the first writer's bytes between
    // its write and its rename — the one content swap the version-claim
    // guard below cannot see. A crash's leftover temp is dot-prefixed
    // (invisible to load) and swept by the next reconcile.
    val tmp = new Path(dir,
      s".$name.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val out = fs.create(tmp, true)
    try {
      val body = (segments.map(s => s"S $s") ++
        inline.sorted.map(f => s"D $f") ++
        artifacts.toSeq.sortBy(_._1).map { case (n, d) => s"A $n $d" })
        .mkString("\n")
      manifestBytesWritten.addAndGet(body.length.toLong): Unit
      out.write(body.getBytes("UTF-8"))
    } finally out.close()
    val dst = new Path(dir, name)
    def conflict(): Nothing = {
      fs.delete(tmp, false)
      throw new ConcurrentWriterException(
        s"concurrent manifest writer detected: version $next at $dst " +
          "already exists — the single-writer window was violated")
    }
    if (dst.toUri.getScheme == "file") {
      // local files: claim by HARD LINK — link(2) fails with EEXIST
      // atomically at the kernel, so two racers can never both publish
      // (a local rename would silently replace; exists+rename leaves a
      // check-then-act window). The linked file carries the fully
      // written temp bytes, so readers still see all-or-nothing.
      try
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(dst.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
      catch {
        case _: java.nio.file.FileAlreadyExistsException => conflict()
      }
      fs.delete(tmp, false): Unit
    } else {
      // HDFS-style: rename refuses an existing destination — exact
      // there too. Object stores whose rename replaces (S3A without a
      // committer) are best-effort through the pre-check; deploy a
      // manifest lock service there, as every table format does.
      if (fs.exists(dst)) conflict()
      if (!fs.rename(tmp, dst)) {
        if (fs.exists(dst)) conflict()
        throw new java.io.IOException(s"manifest commit failed: $tmp -> $dst")
      }
    }
    // post-link freshness: if the name we just claimed sits at or below
    // the pruned high-water mark, a vacuum had already used-and-freed it
    // (vacuum advances the mark BEFORE deleting, so a recycled claim is
    // GUARANTEED to observe mark >= next here) — the published manifest
    // is an invisible zombie below the real head; retract it and fail
    // the claim so the caller rebases onto the true head.
    if (next <= prunedHighWaterMark(fs, root)) {
      deleteTolerant(fs, dst, recursive = false): Unit
      throw new ConcurrentWriterException(
        s"stale manifest claim detected after publish: version $next of " +
          s"$path is at or below the vacuumed high-water mark — the name " +
          "was recycled; the zombie manifest was retracted, reload and " +
          "rebase")
    }
    next
  }

  /** The SUPERSEDING-mutation transaction — compaction, fold, retrain,
    * artifact rebuild — run once, here: the exclusive-window
    * [[reconcile]], then load the current snapshot, `plan` the delta
    * against it (writing new files through [[stageAppend]] and new
    * artifact versions), [[commit]] and vacuum to `retainVersions`.
    * `plan` also returns the caller's result. A claim lost to a racing
    * writer (a gate's append landing mid-rewrite) RELOADS the winner's
    * snapshot and re-plans — at most 3 recomputes, so appends keep
    * priority and operators can run rewrites without pausing gates; a
    * lost attempt's files become invisible orphans for the next sweep.
    * An empty delta commits nothing. */
  def rewrite[A](spark: SparkSession, path: String, retainVersions: Int = 1,
                 preCommitHook: () => Unit = () => ())(
                 plan: Snapshot => (Delta, A)): A = {
    reconcile(spark, path): Unit
    var recomputes = 0
    while (true) {
      val base = load(spark, path).get
      val (delta, result) = plan(base)
      try {
        commit(spark, path, base, delta, retainVersions, preCommitHook): Unit
        return result
      } catch {
        case e: ConcurrentWriterException =>
          recomputes += 1
          if (recomputes > 3) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** All retained manifest snapshots, ascending — bounded by the
    * retention window every commit vacuums to. */
  private def retainedSnapshots(fs: FileSystem, root: Path): Seq[Snapshot] =
    manifestFiles(fs, root).flatMap { case (v, p) => tryParse(fs, root, v, p) }

  /** Without a manifest, adopt the current listing as version 1
    * (pre-manifest index migration); otherwise `repair` the current
    * snapshot. */
  private def adoptOr(spark: SparkSession, path: String)(
      repair: (FileSystem, Path) => Unit): Snapshot =
    load(spark, path) match {
      case None =>
        commit(spark, path, Snapshot.Empty,
          Delta(added = listDataFiles(spark, path))): Unit
        load(spark, path).get
      case Some(snap) =>
        val (fs, root) = fsOf(spark, path)
        repair(fs, root)
        snap
    }

  /** Crash repair + one-time adoption at the START of a superseding
    * mutation (the exclusive writer window [[rewrite]] opens): delete
    * every data file and artifact version directory NO retained manifest
    * references (debris of a crashed mutation — never committed, so
    * never visible to any reader), every staging directory and every
    * manifest temp. Files a SUPERSEDED-but-retained manifest still
    * references survive — they belong to the time-travel horizon until
    * [[vacuum]] prunes it. Unreferenced SEGMENTS stay age-gated even
    * here: a concurrent appender holds one between its segment write
    * and its claim, and sweeping it would let that commit publish a
    * dangling reference. Returns the CURRENT snapshot. */
  def reconcile(spark: SparkSession, path: String): Snapshot =
    adoptOr(spark, path) { (fs, root) =>
      sweepOrphans(fs, root, horizon = Long.MaxValue)
      deleteTolerant(fs, new Path(root, StagingDir), recursive = true): Unit
      sweepManifestTemps(fs, root, horizon = Long.MaxValue)
    }

  /** The APPEND-side reconcile: crash repair bounded to what an append
    * actually needs. Full [[reconcile]] walks every index directory —
    * an O(index)-wide walk on the hot per-batch ingest path, and its
    * orphan sweep is UNSAFE under optimistic append concurrency: a
    * concurrent appender's fully-written-but-not-yet-committed files
    * look exactly like crash debris. Appends therefore repair only what
    * cannot belong to a live writer: a missing manifest (one-time
    * adoption) and, AGE-GATED by [[DefaultSweepAgeMs]], crashed
    * manifest temps and staging directories (a younger one may be a
    * live appender's in-flight state).
    *
    * Committed-looking orphans (data files, segments, artifact versions
    * referenced by no retained manifest — a crashed append's moved
    * files, or a lost-claim rewrite's generation) are swept here too,
    * under the same age gate, but only PERIODICALLY: the orphan walk is
    * O(index files), so it runs at most once per sweep age (a
    * `_last_sweep` marker keeps the clock), amortizing to nothing on the
    * per-batch path while bounding debris on gates that never compact.
    * A marker younger than the horizon costs one `getFileStatus`. */
  def reconcileAppend(spark: SparkSession, path: String): Snapshot =
    adoptOr(spark, path) { (fs, root) =>
      val horizon = System.currentTimeMillis() - DefaultSweepAgeMs
      sweepManifestTemps(fs, root, horizon)
      listIfExists(fs, new Path(root, StagingDir))
        .filter(_.getModificationTime < horizon)
        .foreach(st => deleteTolerant(fs, st.getPath, recursive = true))
      val marker = new Path(root, "_last_sweep")
      val due =
        try fs.getFileStatus(marker).getModificationTime < horizon
        catch { case _: java.io.FileNotFoundException =>
          // first append on this index: start the clock, don't walk
          fs.create(marker, true).close(); false
        }
      if (due) {
        sweepOrphans(fs, root, horizon)
        deleteTolerant(fs, marker, recursive = false): Unit
        fs.create(marker, true).close()
      }
    }

  /** The ONE orphan walk: delete data files, artifact version
    * directories and segment files that (a) no retained manifest
    * references AND (b) were last modified before `horizon`
    * (`Long.MaxValue`: any age). Segments are additionally held to
    * [[DefaultSweepAgeMs]] whatever the horizon — see [[reconcile]]. */
  private def sweepOrphans(fs: FileSystem, root: Path, horizon: Long): Unit = {
    val retained = retainedSnapshots(fs, root)
    def aged(st: org.apache.hadoop.fs.FileStatus, before: Long) =
      st.getModificationTime < before
    val keepData = retained.flatMap(_.dataFiles).toSet
    listData(fs, root).filterNot(keepData).foreach { rel =>
      val p = new Path(root, rel)
      val old = horizon == Long.MaxValue ||
        (try aged(fs.getFileStatus(p), horizon)
         catch { case _: java.io.FileNotFoundException => false })
      if (old) deleteTolerant(fs, p, recursive = false): Unit
    }
    val segHorizon =
      math.min(horizon, System.currentTimeMillis() - DefaultSweepAgeMs)
    val keepSegs = retained.flatMap(_.segments).toSet
    listIfExists(fs, new Path(root, SegmentDir)).filter(_.isFile).foreach { st =>
      if (!keepSegs(s"$SegmentDir/${st.getPath.getName}") && aged(st, segHorizon))
        deleteTolerant(fs, st.getPath, recursive = false): Unit
    }
    val keepArts = retained.flatMap(_.artifacts.values).toSet
    listIfExists(fs, new Path(root, ArtRoot)).filter(_.isDirectory).foreach { fam =>
      fs.listStatus(fam.getPath).toSeq.filter(_.isDirectory).foreach { v =>
        val rel = s"$ArtRoot/${fam.getPath.getName}/${v.getPath.getName}"
        if (!keepArts(rel) && aged(v, horizon))
          deleteTolerant(fs, v.getPath, recursive = true): Unit
      }
    }
  }

  private def listIfExists(fs: FileSystem,
                           dir: Path): Seq[org.apache.hadoop.fs.FileStatus] =
    if (fs.exists(dir)) fs.listStatus(dir).toSeq else Seq.empty

  /** Stage-then-move write — every append and every rewrite lands its
    * files this way: the frame is written `partitionBy(partitionCol)`
    * under a writer-unique hidden staging directory, then every part
    * file is renamed into its partition directory — and the returned
    * root-relative paths are EXACTLY this writer's files, by
    * construction. No listing diff, so nothing can be mis-attributed:
    * not a crashed replay's orphans, not a concurrent appender's
    * in-flight files (the rebase-on-conflict story requires writers
    * that never confuse each other's output). Part names keep Spark's
    * job-unique UUIDs, so moves cannot collide. A crash mid-move leaves
    * unreferenced orphans + a hidden `_staging` dir for the orphan
    * sweeps; the replay re-appends correctly off the pinned
    * pre-state. */
  def stageAppend(df: DataFrame, path: String,
                  partitionCol: String): Seq[String] = {
    val spark = df.sparkSession
    val (fs, root) = fsOf(spark, path)
    val stage = new Path(root,
      s"$StagingDir/${java.util.UUID.randomUUID().toString.take(12)}")
    df.write.mode("overwrite").partitionBy(partitionCol)
      .parquet(stage.toString)
    val added = scala.collection.mutable.ArrayBuffer.empty[String]
    fs.listStatus(stage).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.contains("="))
      .foreach { dir =>
        val dst = new Path(root, dir.getPath.getName)
        if (!fs.exists(dst)) fs.mkdirs(dst): Unit
        fs.listStatus(dir.getPath).toSeq.filter { st =>
          val n = st.getPath.getName
          st.isFile && !n.startsWith("_") && !n.startsWith(".")
        }.foreach { st =>
          val to = new Path(dst, st.getPath.getName)
          if (!fs.rename(st.getPath, to))
            throw new java.io.IOException(
              s"staged append move failed: ${st.getPath} -> $to")
          added += s"${dir.getPath.getName}/${st.getPath.getName}"
        }
      }
    fs.delete(stage, true)
    added.toSeq.sorted
  }

  /** Delete tolerating a concurrent deleter (a racing vacuum already
    * removed it — `delete` on a missing path returns false, and some
    * stores throw FileNotFound instead; both read as "already gone"). */
  private def deleteTolerant(fs: FileSystem, p: Path,
                             recursive: Boolean): Boolean =
    try fs.delete(p, recursive)
    catch { case _: java.io.FileNotFoundException => false }

  /** Crashed-commit temps (dot-prefixed, so never visible to load)
    * last modified before `horizon`. */
  private def sweepManifestTemps(fs: FileSystem, root: Path,
                                 horizon: Long): Unit =
    fs.listStatus(new Path(root, ManifestDir)).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith(".") &&
        st.getPath.getName.endsWith(".tmp") &&
        st.getModificationTime < horizon)
      .foreach(st => deleteTolerant(fs, st.getPath, recursive = false): Unit)

  /** Prune the time-travel horizon to the newest `keepLast` manifests
    * and physically delete everything only the pruned versions
    * referenced — the explicit retention boundary (table-format
    * VACUUM). Runs in the writer window. Deletion order is
    * crash-shaped: manifests go first, so a crash mid-vacuum leaves the
    * not-yet-deleted files as true orphans the next [[reconcile]]
    * removes — never a manifest pointing at deleted files. Returns
    * (manifests pruned, data files + artifact versions deleted). */
  def vacuum(spark: SparkSession, path: String, keepLast: Int = 1): (Int, Int) = {
    require(keepLast >= 1, s"keepLast must be positive, got $keepLast")
    val (fs, root) = fsOf(spark, path)
    val all = manifestFiles(fs, root)
    if (all.length <= keepLast) return (0, 0)
    val (pruned, kept) = all.splitAt(all.length - keepLast)
    // tolerant parses: a concurrently-racing vacuum (two post-append
    // vacuums from optimistic concurrent appenders) may have deleted a
    // pruned manifest — or even a kept one, under a smaller horizon —
    // between our listing and our walk; the racer owns what only its
    // prunes referenced (see tryParse)
    val keptSnaps = kept.flatMap { case (v, p) => tryParse(fs, root, v, p) }
    val prunedSnaps = pruned.flatMap { case (v, p) =>
      tryParse(fs, root, v, p, strict = false) }
    // advance the claim floor BEFORE freeing any version name: a stale
    // writer racing these deletes must observe mark >= its target in
    // [[claim]]'s post-link check (see prunedHighWaterMark)
    advanceHighWaterMark(fs, root, pruned.last._1)
    pruned.foreach { case (_, p) =>
      deleteTolerant(fs, p, recursive = false): Unit
    }
    val keepData = keptSnaps.flatMap(_.dataFiles).toSet
    val keepArts = keptSnaps.flatMap(_.artifacts.values).toSet
    val keepSegs = keptSnaps.flatMap(_.segments).toSet
    var removed = 0
    prunedSnaps.flatMap(_.dataFiles).distinct.filterNot(keepData)
      .foreach { rel =>
        if (deleteTolerant(fs, new Path(root, rel), recursive = false))
          removed += 1
      }
    prunedSnaps.flatMap(_.artifacts.values).distinct.filterNot(keepArts)
      .foreach { rel =>
        if (deleteTolerant(fs, new Path(root, rel), recursive = true))
          removed += 1
      }
    // segments only pruned manifests referenced (append-chain history
    // past the horizon — and, after a consolidation leaves it, the
    // pre-consolidation segment set); not counted in `removed`, which
    // reports data files + artifact versions like always
    prunedSnaps.flatMap(_.segments).distinct.filterNot(keepSegs)
      .foreach { rel =>
        deleteTolerant(fs, new Path(root, rel), recursive = false): Unit
      }
    (pruned.length, removed)
  }

  /** The pinned read of an explicit root-relative file list, with the
    * partition column recovered from the directory layout
    * (`basePath`) — same scan node, same partition pruning, same
    * broadcast shapes as a directory read; only the file LISTING is
    * pinned. The files are known, so it is a [[graft.operators.KnownFiles]]
    * read: one driver-side stat per file and no listing job, however many
    * files the snapshot holds. Every manifest-pinned data read goes
    * through here. */
  private[graft] def readFiles(spark: SparkSession, path: String,
                               files: Seq[String]): DataFrame = {
    val (fs, root) = fsOf(spark, path)
    graft.operators.KnownFiles.read(spark,
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
      files.map(f => fs.getFileStatus(new Path(root, f))),
      Map("basePath" -> root.toString))
  }

  /** One data read of the head: [[load]] then [[Snapshot.data]]. Falls
    * back to the directory listing for roots without a manifest
    * (externally-built fixtures). An operation that reads more than
    * once pins a [[Snapshot]] and reads through it instead. */
  def readData(spark: SparkSession, path: String): DataFrame =
    load(spark, path) match {
      case Some(snap) if snap.dataFiles.nonEmpty => snap.data(spark)
      case _ => spark.read.parquet(path)
    }

  /** The TIME-TRAVEL data read: [[loadAt]] then [[Snapshot.data]] —
    * exactly the files a specific retained manifest listed. Throws
    * once [[vacuum]] has pruned the version (the horizon is explicit,
    * not silently approximated). */
  def readDataAt(spark: SparkSession, path: String, version: Long): DataFrame =
    loadAt(spark, path, version).getOrElse(
      throw new java.util.NoSuchElementException(
        s"manifest version $version of $path is not retained " +
          s"(available: ${versions(spark, path).mkString(", ")})"))
      .data(spark)

  /** Write the next version of a named artifact (a NEW directory —
    * never an in-place overwrite) and return its manifest pointer.
    * Becomes visible only once a commit carries the pointer. */
  def writeArtifact(spark: SparkSession, path: String, name: String,
                    df: DataFrame): (String, String) = {
    val (fs, root) = fsOf(spark, path)
    val fam = new Path(root, s"$ArtRoot/$name")
    val next =
      if (!fs.exists(fam)) 1L
      else fs.listStatus(fam).toSeq
        .flatMap { st =>
          val n = st.getPath.getName
          if (n.startsWith("v") && n.drop(1).forall(_.isDigit) && n.length > 1)
            Some(n.drop(1).toLong)
          else None
        }.sorted.lastOption.map(_ + 1).getOrElse(1L)
    val rel = f"$ArtRoot/$name/v$next%06d"
    df.write.mode("overwrite").parquet(new Path(root, rel).toString)
    name -> rel
  }

  /** One artifact read of the head: [[load]] then
    * [[Snapshot.artifact]]; a root without a manifest reads `legacyDir`
    * (or `name`) directly. */
  def readArtifact(spark: SparkSession, path: String, name: String,
                   legacyDir: Option[String] = None): DataFrame =
    load(spark, path) match {
      case Some(snap) => snap.artifact(spark, name, legacyDir)
      case None => spark.read.parquet(s"$path/${legacyDir.getOrElse(name)}")
    }
}
