package perfbench

import graft.etl.{ExportsEtl, ReportJob}

/** The paper's job: `ReportJob.run` over a generated exports-deals view,
  * once in a fresh JVM (what a monthly job pays) and then warm until the
  * run's time is up. The traced run calls the job's parts in the order
  * `ReportJob.run` does, plus a noop write of the report so the compute
  * of `forAllLenders` shows apart from the per-lender write. */
object MonthlyReport {
  val Start = "2024-01-01"
  val End = "2024-02-01"

  def apply(c: Ctx): Outcome = {
    val spark = c.spark
    val t = c.t
    val (view, setUpMs) = c.setUp(3)(_ =>
      spark.read.parquet(s"${c.input}/exports_deals_view.parquet"))
    val outDir = s"${c.work}/report/out"
    val resultDir = s"${c.work}/report/result"

    def report(): Unit =
      if (!t.enabled) ReportJob.run(view, Start, End, outDir, resultDir): Unit
      else {
        val (clean, quarantined) = t.span("etl.splitQuarantine")(ReportJob.splitQuarantine(view))
        val rep = t.span("etl.forAllLenders")(ExportsEtl.forAllLenders(clean, Start, End))
        t.span("etl.forAllLenders_noop")(c.noop(rep))
        t.span("etl.writePerLender")(ReportJob.writePerLender(rep, outDir))
        t.span("etl.quarantine_write")(
          quarantined.write.mode("overwrite").parquet(s"$outDir/_quarantine"))
        t.span("etl.mergeAll")(ReportJob.mergeAll(spark, outDir, resultDir)): Unit
      }

    val firstS = t.op("report")(report()) / 1000
    // The second run is still ~25% slower than the ones after it (the JIT
    // is still compiling the job's hot paths), so it is not measured.
    t.op("report")(report()): Unit
    val warm = scala.collection.mutable.ArrayBuffer.empty[Double]
    // at least three warm runs, so the warm median is never one sample
    c.warmLoop(3)(warm += t.op("report")(report()))

    val layers: Map[String, Double] =
      if (!t.enabled) Map.empty
      else {
        def warmMedian(span: String) = Stats.median(t.durations(span).drop(2))
        val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
        val outPath = new org.apache.hadoop.fs.Path(outDir)
        val lenderDirs = fs.listStatus(outPath)
          .count(s => s.isDirectory && s.getPath.getName.startsWith("report_lender="))
        val reportBytes = fs.listStatus(new org.apache.hadoop.fs.Path(resultDir))
          .filter(_.getPath.getName.startsWith("part-")).map(_.getLen).sum
        val (_, quarantined) = ReportJob.splitQuarantine(view)
        Map(
          "etl.writePerLender_ms" -> warmMedian("etl.writePerLender"),
          "etl.quarantine_write_ms" -> warmMedian("etl.quarantine_write"),
          "etl.mergeAll_ms" -> warmMedian("etl.mergeAll"),
          "etl.forAllLenders_noop_ms" -> warmMedian("etl.forAllLenders_noop"),
          "etl.view_rows" -> view.count().toDouble,
          "etl.quarantined_rows" -> quarantined.count().toDouble,
          "etl.report_rows" -> spark.read.option("header", true).option("sep", "\t")
            .csv(resultDir).count().toDouble,
          "etl.lender_dirs" -> lenderDirs.toDouble,
          "etl.fs_bytes_written_per_report_byte" ->
            t.perOp("report", "fs_bytes_written") / reportBytes)
      }

    Outcome(setUpMs, firstS, warm.toSeq, warm.sum / 1000, 2 + warm.size, layers,
      Map("out_dir" -> outDir, "result_dir" -> resultDir, "start" -> Start, "end" -> End))
  }
}
