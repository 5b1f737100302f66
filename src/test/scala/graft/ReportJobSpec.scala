package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.ReportJob
import graft.operators.{Csv, Skew}

/** End-to-end report job over the golden fixture + skew operators. */
class ReportJobSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("ReportJob writes per-lender BOM'd CSVs and a consolidated merge") {
    val fixture = new ExportsEtlSpec
    val tmp = Files.createTempDirectory("graft_report").toString
    val merged = ReportJob.run(fixture.viewForJob, "2024-01-01", "2025-01-01",
      s"$tmp/output", s"$tmp/result")

    // _quarantine is always written (empty here) — lender dirs are the rest
    val lenderDirs = new java.io.File(s"$tmp/output").listFiles()
      .filter(d => d.isDirectory && !d.getName.startsWith("_"))
      .map(_.getName).sorted
    assert(lenderDirs.toSeq ==
      Seq("report_lender=alpha", "report_lender=beta", "report_lender=gamma"))

    // every per-lender part file carries the BOM
    lenderDirs.foreach { d =>
      val part = new java.io.File(s"$tmp/output/$d").listFiles()
        .filter(_.getName.startsWith("part-")).head
      val head = Files.readAllBytes(part.toPath).take(3).toSeq
      assert(head == Seq(0xEF.toByte, 0xBB.toByte, 0xBF.toByte), d)
    }

    // the write input is hash-partitioned on report_lender into an
    // explicit partition count (parallel across lenders; the runtime
    // task spread is asserted by the many-lender case below) — not
    // collapsed to a single partition. Assert the PLAN: a
    // repartition-by-expression on report_lender, and no Repartition(1)
    // on the MAIN ROW STREAM. Broadcast-hinted join sides are excluded:
    // those relations are collected to the driver for broadcast anyway, so
    // a bounded-side coalesce(1) there (purpose counts, lender list) is a
    // deliberate final-merge optimization, not a write-path collapse.
    val writePlan = ReportJob
      .partitionedForWrite(graft.etl.ExportsEtl
        .forAllLenders(fixture.viewForJob, "2024-01-01", "2025-01-01"))
      .queryExecution.optimizedPlan
    val repartitions = writePlan.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression => r
    }
    assert(repartitions.exists(_.partitionExpressions.exists(
      _.references.map(_.name).toSeq == Seq("report_lender"))),
      s"write input not partitioned by report_lender:\n$writePlan")
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join, LogicalPlan, Repartition}
    def mainStreamRepartitions(p: LogicalPlan): Seq[Int] = p match {
      case j: Join =>
        val left =
          if (j.hint.leftHint.exists(_.strategy.contains(BROADCAST))) Nil
          else mainStreamRepartitions(j.left)
        val right =
          if (j.hint.rightHint.exists(_.strategy.contains(BROADCAST))) Nil
          else mainStreamRepartitions(j.right)
        left ++ right
      case r: Repartition =>
        r.numPartitions +: mainStreamRepartitions(r.child)
      case other => other.children.flatMap(mainStreamRepartitions)
    }
    assert(!mainStreamRepartitions(writePlan).contains(1),
      "write input collapsed to one partition")

    // merged row count equals the all-lenders report row count
    val expected = graft.etl.ExportsEtl
      .forAllLenders(fixture.viewForJob, "2024-01-01", "2025-01-01").count()
    assert(merged.count() == expected)
    // merge read-back is all-string with the 22 report columns (lender
    // partition column excluded from file contents, like the reference)
    assert(merged.columns.length == 22)
  }

  test("poison rows land in _quarantine; every other lender file still written") {
    val fixture = new ExportsEtlSpec
    // A malformed-results row (truncated JSON): from_json yields NULL, so
    // without the quarantine split it would silently reclassify the
    // scenario; with it, the ROW is side-carted and the job completes.
    val poisoned = fixture.viewForJob.unionByName(poisonRow, allowMissingColumns = true)

    val tmp = Files.createTempDirectory("graft_quarantine").toString
    val merged = ReportJob.run(poisoned, "2024-01-01", "2025-01-01",
      s"$tmp/output", s"$tmp/result")

    // the poison row — and only it — is in the quarantine side-cart
    val q = spark.read.parquet(s"$tmp/output/_quarantine")
    assert(q.select("scenarioId").as[String].collect().toSeq == Seq("sPOISON"))

    // all lender reports written beside the quarantine, none truncated by it
    val lenderDirs = new java.io.File(s"$tmp/output").listFiles()
      .filter(d => d.isDirectory && !d.getName.startsWith("_"))
      .map(_.getName).sorted
    assert(lenderDirs.toSeq ==
      Seq("report_lender=alpha", "report_lender=beta", "report_lender=gamma"))

    // the report equals the clean-fixture report: the poison row changed
    // nothing downstream
    val expected = graft.etl.ExportsEtl
      .forAllLenders(fixture.viewForJob, "2024-01-01", "2025-01-01").count()
    assert(merged.count() == expected)
  }

  /** A view where each of `lenders` is exported for its own scenario:
    * every lender gets a report (one row per surviving scenario). */
  private def lenderView(lenders: Seq[String]) = lenders.zipWithIndex.map {
    case (lender, j) =>
      val i = j + 1
      ExportsViewRow(java.sql.Timestamp.valueOf("2024-03-01 10:00:00"), s"s$i",
        s"""[{"lenderName":"$lender","doesService":true,""" +
          s""""maxBorrowingCapacity":"800000","performance":""" +
          """{"lenderPassedServicing":"true","lenderExportWinner":"true"}}]""",
        Some(lender), "PAYG", "Fixed", "Purchase", Some(100.0 * i), Some(2L),
        Some(1L), "Purchase", Some(0L), Some(0.8), "70-80", Some(0L),
        Some(120000.0), Some(500.0), Some(0.0), isValidExport = true)
  }.toDF()

  private def manyLenderView(n: Int) = lenderView((1 to n).map(i => f"l$i%02d"))

  /** A malformed-results row (truncated JSON) for lender alpha. */
  private def poisonRow = Seq((java.sql.Timestamp.valueOf("2024-06-01 00:00:00"),
      "sPOISON", """[{"lenderName":"alpha","doesService":""", "alpha"))
    .toDF("time", "scenarioId", "results", "exportedLender")

  private def bytes(f: java.io.File): Seq[Byte] = Files.readAllBytes(f.toPath).toSeq
  private def lines(b: Seq[Byte]): Seq[String] =
    new String(b.toArray, "UTF-8").split("\n").toSeq
  /** The names under `dir`, without the filesystem's `.crc` side files. */
  private def listing(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getName).filterNot(_.startsWith("."))
      .sorted.toSeq
  private def partFilesIn(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
      .sortBy(_.getName).toSeq

  /** `run`'s consolidated file is its per-lender files joined: one BOM and
    * header, then each file's body in lender-path order, with a `_SUCCESS`
    * marker; as a multiset its lines are mergeAll's over the same files;
    * and the consolidation runs no Spark job. */
  private def assertJoined(view: org.apache.spark.sql.DataFrame, name: String): Unit = {
    val tmp = Files.createTempDirectory(name).toString
    val (out, result) = (s"$tmp/output", s"$tmp/result")
    val merged = ReportJob.run(view, "2024-01-01", "2025-01-01", out, result)

    val lenderFiles = new java.io.File(out).listFiles()
      .filter(d => d.isDirectory && !d.getName.startsWith("_")).sortBy(_.getName)
      .flatMap(d => partFilesIn(d.getPath)).toSeq
    val perLender = lenderFiles.map(bytes)
    val prefix = perLender.head.take(perLender.head.indexOf('\n'.toByte) + 1)
    assert(prefix.take(3) == Seq(0xEF.toByte, 0xBB.toByte, 0xBF.toByte))
    assert(perLender.forall(_.startsWith(prefix)), "per-lender headers differ")
    assert(listing(result) == Seq("_SUCCESS", "part-00000.csv"))
    val joined = bytes(partFilesIn(result).head)
    assert(joined == prefix ++ perLender.flatMap(_.drop(prefix.length)),
      "the consolidated file is not BOM + header + the bodies in lender-path order")

    ReportJob.mergeAll(spark, out, s"$tmp/merged")
    val viaMerge = bytes(partFilesIn(s"$tmp/merged").head)
    assert(lines(joined).sorted == lines(viaMerge).sorted)
    assert(merged.count() == lines(joined).size - 1)

    val report = graft.etl.ExportsEtl.forAllLenders(
      ReportJob.splitQuarantine(view)._1, "2024-01-01", "2025-01-01")
    val files = ReportJob.writePerLender(report, s"$tmp/again")
    val jobs = JobTasks(spark) {
      ReportJob.consolidate(report, files, s"$tmp/again_result"): Unit
    }
    assert(jobs.isEmpty, s"the consolidation ran jobs of $jobs tasks")
    assert(bytes(partFilesIn(s"$tmp/again_result").head) == joined)
  }

  test("run joins the golden fixture's per-lender files into the consolidated file") {
    assertJoined(new ExportsEtlSpec().viewForJob, "graft_join_golden")
  }

  test("run joins 40 lenders' files into the consolidated file") {
    assertJoined(manyLenderView(40), "graft_join_many")
  }

  test("a re-run into the same directories leaves only its own output") {
    val tmp = Files.createTempDirectory("graft_rerun").toString
    val (out, result) = (s"$tmp/output", s"$tmp/result")
    ReportJob.run(lenderView(Seq("alpha", "beta", "gamma"))
        .unionByName(poisonRow, allowMissingColumns = true),
      "2024-01-01", "2025-01-01", out, result)
    assert(spark.read.parquet(s"$out/_quarantine").count() == 1)
    val merged = ReportJob.run(lenderView(Seq("alpha", "beta")),
      "2024-01-01", "2025-01-01", out, result)

    assert(listing(out) ==
      Seq("_SUCCESS", "_quarantine", "report_lender=alpha", "report_lender=beta"))
    assert(spark.read.parquet(s"$out/_quarantine").count() == 0)
    assert(listing(result) == Seq("_SUCCESS", "part-00000.csv"))
    assert(listing(tmp) == Seq("output", "result"), "a staging directory is left")
    assert(merged.select("associated_lender").as[String].collect().distinct.sorted.toSeq ==
      Seq("alpha", "beta"))
  }

  test("the per-lender write spreads over the shuffle partitions, and the " +
      "merge of past-32 known files lists nothing and infers no header") {
    val tmp = Files.createTempDirectory("graft_report_shape").toString
    val out = s"$tmp/output"
    val report = graft.etl.ExportsEtl.forAllLenders(manyLenderView(40),
      "2024-01-01", "2025-01-01")
    val files = ReportJob.writePerLender(report, out)
    assert(files.size == 40, "one file per lender")
    // part-NNNNN is the write task's partition: one task wrote them all
    // when AQE coalesced the write's shuffle
    val writeTasks = files.map(_.getPath.getName.take(10)).distinct
    assert(writeTasks.size > 1,
      s"every per-lender file came from one write task: $writeTasks")

    val partitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    var merged: org.apache.spark.sql.DataFrame = null
    val mergeJobs = JobTasks(spark) {
      merged = ReportJob.mergeAll(spark, out, s"$tmp/result")
    }
    assert(mergeJobs.forall(_ <= partitions),
      s"mergeAll ran jobs of $mergeJobs tasks, more than $partitions " +
        "(a parallel listing of the per-lender files)")
    assert(merged.count() == report.count())

    // the header read on the driver is the one Spark infers from the same
    // BOM'd file
    val file = files.head.getPath
    assert(Files.readAllBytes(Paths.get(file.toUri)).take(3).toSeq ==
      Seq(0xEF.toByte, 0xBB.toByte, 0xBF.toByte))
    val inferred = Csv.readTabCsvAllString(spark, file.toString).columns.toSeq
    assert(Csv.readHeaders(spark, Seq(file)) == Seq(inferred))
    assert(inferred == report.columns.filterNot(_ == "report_lender").toSeq)
  }

  test("mergeAll aligns per-lender files by column name, missing columns null") {
    val tmp = Files.createTempDirectory("graft_merge_names").toString
    val out = s"$tmp/output"
    def lender(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      Csv.writeTabCsv(df, s"$out/report_lender=$name", singleFile = true): Unit
    lender("a", Seq(("2024-01-01 00:00:00", "a1", "x1"))
      .toDF("time", "scenarioId", "extra"))
    // reordered columns
    lender("b", Seq(("b1", "x2", "2024-01-02 00:00:00"))
      .toDF("scenarioId", "extra", "time"))
    // one column missing
    lender("c", Seq(("c1", "2024-01-03 00:00:00")).toDF("scenarioId", "time"))
    val merged = ReportJob.mergeAll(spark, out, s"$tmp/result")
    assert(merged.columns.toSeq == Seq("time", "scenarioId", "extra"))
    val rows = merged.orderBy("scenarioId").as[(String, String, String)]
      .collect().toSeq
    assert(rows == Seq(
      ("2024-01-01 00:00:00+0000", "a1", "x1"),
      ("2024-01-02 00:00:00+0000", "b1", "x2"),
      ("2024-01-03 00:00:00+0000", "c1", null)))
  }

  test("saltedCounts equals plain groupBy count") {
    val df = (1 to 1000).map(i => (if (i % 10 == 0) "hot" else s"k$i", i))
      .toDF("k", "v")
    val plain = df.groupBy($"k").count().orderBy("k")
      .as[(String, Long)].collect().toSeq
    val salted = Skew.saltedCounts(df, "k", Seq("k", "v"), 8)
      .orderBy("k").as[(String, Long)].collect().toSeq
    assert(salted == plain)
  }

  test("saltedJoin equals plain join") {
    val big = (1 to 500).map(i => (s"k${i % 7}", i)).toDF("k", "v")
    val small = (0 to 6).map(i => (s"k$i", s"dim$i")).toDF("k", "d")
    val plain = big.join(small, Seq("k")).orderBy("k", "v")
      .as[(String, Int, String)].collect().toSeq
    val salted = Skew.saltedJoin(big, small, "k", 4).orderBy("k", "v")
      .as[(String, Int, String)].collect().toSeq
    assert(salted == plain)
  }
}
