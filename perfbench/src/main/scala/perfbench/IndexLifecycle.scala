package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.data.{Dedup, IndexManifest}

/** A maintained cell index: one writer with reads in between. Set-up
  * writes the corpus index (`Dedup.writeCellIndex`). Each ingest batch is
  * served on the pinned snapshot (`cellHashes` + `indexedCellScreen`),
  * appended (`appendCellIndex`), then served again as of the pre-append
  * version (`IndexManifest.readDataAt`); the three together are the
  * workload's operation, the latency an ingest gate pays per batch. Every
  * round ends with `compactIndex`. The first round, in the fresh JVM,
  * takes [[WarmUpBatches]]; later rounds take [[BatchesPerRound]], enough
  * that serves see more than 32 data files, past which Spark lists a
  * snapshot's files with a distributed job. This is the only workload
  * that reaches `IndexManifest`; monthly_report is its control.
  *
  * Untimed between operations, the run records the verdicts the checker
  * needs: each batch's serve and as-of serve, a re-serve after the
  * round's last append (every cell must be a duplicate) and the same
  * re-serve after compaction (verdicts must not change). */
object IndexLifecycle {
  val CellWords = 4
  val WarmUpBatches = 1
  val BatchesPerRound = 4
  val RetainVersions = 2
  val MaxFilesPerShard = 1

  def apply(c: Ctx): Outcome = {
    val spark = c.spark
    val t = c.t
    val fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val corpus = spark.read.parquet(s"${c.input}/corpus.parquet")
    val batches = spark.read.parquet(s"${c.input}/batches.parquet")
    val nBatches = scala.io.Source.fromFile(s"${c.input}/n_batches.txt").mkString.trim.toInt

    val root = s"${c.work}/index"
    val (path, setUpMs) = c.setUp(3) { i =>
      val p = s"$root/build$i"
      Dedup.writeCellIndex(corpus, "doc_id", "text", CellWords, p)
      p
    }
    fs.listStatus(new Path(root)).map(_.getPath)
      .filterNot(_.getName == new Path(path).getName).foreach(fs.delete(_, true))

    val verdicts = new java.io.PrintWriter(s"${c.work}/verdicts.csv", "UTF-8")
    verdicts.println("kind,batch,doc_id,n_cells,n_dup_cells,dup_cell_frac,is_mostly_dup")
    def record(kind: String, batch: Int, rows: Array[Row]): Unit = rows.foreach { r =>
      verdicts.println(Seq(kind, batch, r.getAs[Long]("doc_id"), r.getAs[Long]("n_cells"),
        r.getAs[Long]("n_dup_cells"), r.getAs[Double]("dup_cell_frac"),
        r.getAs[Boolean]("is_mostly_dup")).mkString(","))
    }
    def screen(cells: DataFrame, index: DataFrame): Array[Row] =
      Dedup.indexedCellScreen(cells, index, "doc_id").collect()
    def dataFileBytes(files: Seq[String]): Long =
      files.map(f => fs.getFileStatus(new Path(path, f)).getLen).sum

    val serves, appends, asofs, cycles, compacts = mutable.ArrayBuffer.empty[Double]
    val roundS = mutable.ArrayBuffer.empty[Double]
    val dataFiles, maxPerShard, novel, added, rewritten = mutable.ArrayBuffer.empty[Double]
    var indexRows = if (t.enabled) IndexManifest.readData(spark, path).count() else 0L
    var batch = 0

    def round(nBatches: Int): Unit = {
      var timed = 0.0
      var cells: DataFrame = null
      for (_ <- 0 until nBatches) {
        val b = batch
        val snap = t.span("manifest.load")(IndexManifest.load(spark, path).get)
        dataFiles += snap.dataFiles.size
        maxPerShard += snap.dataFiles.groupBy(_.takeWhile(_ != '/')).values.map(_.size).max
        var pre, asof: Array[Row] = null
        val serveMs = t.op("serve") {
          cells = t.span("dedup.cellHashes") {
            val h = Dedup.cellHashes(batches.where(col("batch") === b), "doc_id", "text", CellWords)
            if (t.enabled) c.noop(h)
            h
          }
          val index = t.span("manifest.readData")(IndexManifest.readData(spark, path))
          pre = t.span("dedup.screen")(screen(cells, index))
        }
        val appendMs = t.op("append")(
          Dedup.appendCellIndex(cells, path, retainVersions = RetainVersions))
        val asofMs = t.op("asof") {
          val index = t.span("manifest.readDataAt")(
            IndexManifest.readDataAt(spark, path, snap.version))
          asof = screen(cells, index)
        }
        serves += serveMs; appends += appendMs; asofs += asofMs
        cycles += serveMs + appendMs + asofMs
        timed += cycles.last
        record("serve", b, pre)
        record("asof", b, asof)
        if (t.enabled) {
          val n = IndexManifest.readData(spark, path).count()
          novel += (n - indexRows).toDouble
          indexRows = n
          added += IndexManifest.load(spark, path).get.dataFiles.diff(snap.dataFiles).size
        }
        batch += 1
      }
      record("reserve", batch - 1, screen(cells, IndexManifest.readData(spark, path)))
      val before = IndexManifest.load(spark, path).get.dataFiles
      val compactMs = t.op("compact")(Dedup.compactIndex(spark, path, MaxFilesPerShard,
        retainVersions = RetainVersions): Unit)
      if (t.enabled)
        rewritten += dataFileBytes(before.diff(IndexManifest.load(spark, path).get.dataFiles))
      record("compacted", batch - 1, screen(cells, IndexManifest.readData(spark, path)))
      compacts += compactMs
      roundS += (timed + compactMs) / 1000
    }

    round(WarmUpBatches)
    c.warmLoop(1, batch + BatchesPerRound <= nBatches)(round(BatchesPerRound))
    verdicts.close()

    val finalIndex = IndexManifest.readData(spark, path)
    val rows = finalIndex.count()
    val distinct = finalIndex.select("cell_hash").distinct().count()
    val warm = (xs: Seq[Double]) => xs.drop(WarmUpBatches)

    val layers: Map[String, Double] =
      if (!t.enabled) Map.empty
      else {
        def warmSpan(name: String) = Stats.median(warm(t.durations(name)))
        def bytesUnder(p: Path): Long =
          if (!fs.exists(p)) 0L
          else {
            val it = fs.listFiles(p, true)
            var n = 0L
            while (it.hasNext) n += it.next().getLen
            n
          }
        val mean = (xs: Seq[Double]) => xs.sum / xs.size
        Map(
          "dedup.cellHashes_ms" -> warmSpan("dedup.cellHashes"),
          "dedup.screen_ms" -> warmSpan("dedup.screen"),
          "manifest.readData_ms" -> warmSpan("manifest.readData"),
          "manifest.readDataAt_ms" -> warmSpan("manifest.readDataAt"),
          "manifest.load_ms" -> warmSpan("manifest.load"),
          "manifest.data_files" -> mean(dataFiles.toSeq),
          "manifest.max_files_per_shard" -> mean(maxPerShard.toSeq),
          "manifest.retained_versions" -> IndexManifest.versions(spark, path).size.toDouble,
          "manifest.meta_bytes" ->
            (bytesUnder(new Path(path, "_manifests")) + bytesUnder(new Path(path, "_segments"))).toDouble,
          "fs.files_added.append" -> mean(added.toSeq),
          "fs.bytes_read.append" -> t.perOp("append", "fs_bytes_read"),
          "fs.bytes_written.append" -> t.perOp("append", "fs_bytes_written"),
          "index.novel_cells_per_batch" -> mean(novel.toSeq),
          "compact.bytes_rewritten" -> mean(rewritten.toSeq),
          "index.serve_p50_ms" -> Stats.median(warm(serves.toSeq)),
          "index.append_p50_ms" -> Stats.median(warm(appends.toSeq)),
          "index.asof_serve_p50_ms" -> Stats.median(warm(asofs.toSeq)),
          "index.compact_p50_ms" -> Stats.median(compacts.toSeq.drop(1)),
          "index.bytes_per_cell" -> bytesUnder(new Path(path)).toDouble / distinct)
      }

    Outcome(setUpMs, roundS.head, warm(cycles.toSeq), roundS.tail.sum,
      serves.size + appends.size + asofs.size + compacts.size, layers,
      Map("batches_done" -> batch, "cell_words" -> CellWords,
        "index_rows" -> rows, "index_distinct" -> distinct))
  }
}
