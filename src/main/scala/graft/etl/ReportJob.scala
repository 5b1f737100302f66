package graft.etl

import java.util.concurrent.{CompletionException, Executors}

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.{Csv, Sanitize, UnionByName}

/** The reference's two driver programs as one Spark job:
  * run_exports_query.py (per-lender report CSVs) + merge_all_lenders.py
  * (consolidated union) — but single-pass: one plan computes every lender
  * and a partitioned write fans the output into one directory per lender,
  * where the reference re-ran its query ~49 times and wrote files in a
  * Python loop.
  */
object ReportJob {

  /** The write-side partitioning: hash-shuffle on the partition column
    * into an EXPLICIT count — the session's `spark.sql.shuffle.partitions`
    * — NOT coalesce(1). Each lender's rows land in one task, so each
    * lender gets one file, and the lenders are spread over that many
    * write tasks. The count must be explicit: AQE coalesces a
    * repartition by column alone, and at report scale (a few thousand
    * rows) it coalesced all 50 lenders into ONE task that wrote every
    * file serially; a repartition to a number is left as asked. Rows are
    * sorted WITHIN each partition to reproduce the reference query's
    * ORDER BY inside every lender's file (run_exports_query.py writes the
    * sorted query result per lender) — a global pre-sort would be
    * destroyed by this repartitioning.
    * The sort LEADS with `report_lender`: `partitionBy("report_lender")`
    * makes FileFormatWriter require an ordering on the partition column,
    * and a sort that already satisfies it is reused as-is — otherwise the
    * writer plans its OWN sort on top and the intended per-file
    * (associated_lender, scenarioId) order would survive only via sort
    * stability, which Spark does not document. Within one lender
    * report_lender is constant, so the trailing keys still give the
    * reference's per-file order. Exposed so ReportJobSpec can assert the
    * plan shape. */
  def partitionedForWrite(report: DataFrame): DataFrame =
    report.repartition(
        report.sparkSession.sessionState.conf.numShufflePartitions,
        col("report_lender"))
      .sortWithinPartitions(
        col("report_lender"), col("associated_lender"), col("scenarioId"))

  /** Per-lender partitioned CSV write in the reference dialect
    * (run_exports_query.py:75-89): `outDir/report_lender=<lender>/…`,
    * tab-delimited, QUOTE_ALL, BOM, ''-null — the scalable
    * dynamic-partition write ([[partitionedForWrite]]) through
    * [[Csv.tabCsvWriter]], which writes each file BOM first. Replaces
    * everything under `outDir`.
    *
    * @return the per-lender files, in lender-path order, with their
    *         statuses. */
  def writePerLender(report: DataFrame, outDir: String): Seq[FileStatus] =
    writeLenders(report, outDir, "overwrite")

  private def writeLenders(report: DataFrame, outDir: String,
                           mode: String): Seq[FileStatus] = {
    Csv.tabCsvWriter(partitionedForWrite(report))
      .partitionBy("report_lender")
      .mode(mode)
      .save(outDir)
    lenderFiles(report.sparkSession, outDir)
  }

  /** The per-lender files under `outDir`, listed on the driver: the part
    * files of every lender directory. `_`-prefixed directories
    * (`_quarantine`, Hadoop-hidden) carry no report CSVs. */
  private def lenderFiles(spark: SparkSession, outDir: String): Seq[FileStatus] = {
    val p = new Path(outDir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
      .filter(st => st.isDirectory && !st.getPath.getName.startsWith("_"))
      .sortBy(_.getPath.toString)
      .flatMap(st => Csv.partFiles(spark, st.getPath.toString)).toSeq
  }

  /** Per-lender failure isolation (reference: run_exports_query.py:241-242
    * catches one lender's exception and CONTINUES the loop). The
    * single-pass plan has no per-lender exception boundary — a malformed
    * `results` JSON would not throw at all: `from_json` yields NULL under
    * Spark's permissive parsing and the scenario silently reclassifies
    * (exported_lender_result NULL → failingExport), poisoning the report
    * with no trace. The production shape of the reference's guard is
    * row-level quarantine at ingestion: split out rows whose non-null
    * `results` does not parse against [[ExportsEtl.ResultsType]], side-cart
    * them under `<outDir>/_quarantine/` (parquet — full row fidelity), and
    * run the report on the clean remainder. Finer-grained than the
    * reference: one poison row loses that ROW, not a whole lender's
    * report, and never fails the job.
    *
    * @return (clean rows, quarantined rows). */
  def splitQuarantine(view: DataFrame): (DataFrame, DataFrame) = {
    val malformed = col("results").isNotNull &&
      from_json(col("results"), ExportsEtl.ResultsType).isNull
    (view.where(!malformed), view.where(malformed))
  }

  /** merge_all_lenders.py over the per-lender files under `outDir`, for
    * a directory of files that may come from different writes ([[run]]
    * joins the files of its own write instead): read every file as
    * all-string, union by column NAME (merge_all_lenders.py:55), re-parse
    * `time` leniently, write one consolidated file. The files are listed
    * on the driver and each file's header is read there; files that share
    * a header are read together with it as their all-string schema, and
    * the groups are unioned by name, missing columns null — one read of
    * every file would apply the first file's header to all of them by
    * position. The files are known, so no read lists a directory or
    * infers a header.
    *
    * @return the consolidated file, all-string, as written. */
  def mergeAll(spark: SparkSession, outDir: String, resultDir: String): DataFrame = {
    val files = lenderFiles(spark, outDir)
    require(files.nonEmpty, "no per-lender report files to merge")
    val headers = Csv.readHeaders(spark, files.map(_.getPath))
    val groups = files.zip(headers).groupBy(_._2).toSeq
      .map { case (header, fs) => (header, fs.map(_._1)) }
      .sortBy { case (_, fs) => fs.map(_.getPath.toString).min }
    val merged = UnionByName.all(groups.map { case (header, fs) =>
        Csv.readKnownTabCsv(spark, fs.sortBy(_.getPath.toString), header)
      })
      .withColumn("time", Sanitize.coerceTimestamp(col("time")))
    val written = Csv.writeTabCsv(merged, resultDir, singleFile = true)
    Csv.readKnownTabCsv(spark, written, merged.columns.toSeq)
  }

  /** Full monthly run: quarantine split → report → per-lender CSVs →
    * consolidated CSV, each output byte written once.
    *  - `outDir` is deleted once; then the quarantine side-cart
    *    (`outDir/_quarantine`, parquet) is written on a second driver
    *    thread WHILE the per-lender write appends the lender directories,
    *    so neither write truncates the other's output and the quarantine
    *    costs no time on the report's path.
    *  - The consolidated file is the per-lender files joined on the
    *    driver ([[consolidate]]): one BOM and one header, then each
    *    file's rows in lender-path order — no Spark job. The join is
    *    exact because the files come from one write of one schema: every
    *    header is the same, and `time` is already in the dialect that
    *    [[mergeAll]] re-parses it into.
    *
    * @return the consolidated file, all-string, as written. */
  def run(view: DataFrame, startDate: String, endDate: String,
          outDir: String, resultDir: String): DataFrame = {
    val spark = view.sparkSession
    val (clean, quarantined) = splitQuarantine(view)
    val report = ExportsEtl.forAllLenders(clean, startDate, endDate)
    val out = new Path(outDir)
    out.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(out, true)
    val side = Executors.newSingleThreadExecutor()
    val files = try {
      val quarantine = SQLExecution.withThreadLocalCaptured(
          ClassicConversions.castToImpl(spark), side) {
        quarantined.write.parquet(s"$outDir/_quarantine")
      }
      val written = writeLenders(report, outDir, "append")
      try quarantine.join()
      catch { case e: CompletionException => throw e.getCause }
      written
    } finally side.shutdown()
    consolidate(report, files, resultDir)
  }

  /** [[run]]'s consolidation: `files`, the per-lender files of one
    * [[writePerLender]]-shaped write of `report`, joined on the driver
    * into `resultDir` ([[Csv.joinTabCsv]]) — no Spark job.
    *
    * @return the consolidated file, all-string, as written. */
  def consolidate(report: DataFrame, files: Seq[FileStatus],
                  resultDir: String): DataFrame = {
    require(files.nonEmpty, "no per-lender report files to consolidate")
    val columns = StructType(report.schema.filterNot(_.name == "report_lender"))
    val spark = report.sparkSession
    val joined = Csv.joinTabCsv(spark, files, columns, resultDir)
    Csv.readKnownTabCsv(spark, Seq(joined), columns.fieldNames.toSeq)
  }
}
