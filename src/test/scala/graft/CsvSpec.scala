package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators._

/** Byte-level assertions on the reference CSV dialect (S4/S6/S7,
  * run_exports_query.py:75-89). */
class CsvSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def partFile(dir: String): java.io.File =
    new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-")).head

  test("writeTabCsv emits BOM, tabs, QUOTE_ALL, empty-for-null, %z timestamps (S4)") {
    val dir = Files.createTempDirectory("graftcsv").toString + "/out"
    val df = Seq(
      (1L, Some("a b"), Some(java.sql.Timestamp.valueOf("2024-01-02 03:04:05"))),
      (2L, None, None)
    ).toDF("id", "s", "t")
    Csv.writeTabCsv(df, dir, singleFile = true)
    val bytes = Files.readAllBytes(partFile(dir).toPath)
    assert(bytes.take(3).toSeq == Seq(0xEF.toByte, 0xBB.toByte, 0xBF.toByte), "BOM")
    val text = new String(bytes.drop(3), "UTF-8")
    val lines = text.split("\n")
    assert(lines(0) == "\"id\"\t\"s\"\t\"t\"")
    assert(lines(1) == "\"1\"\t\"a b\"\t\"2024-01-02 03:04:05+0000\"")
    assert(lines(2) == "\"2\"\t\"\"\t\"\"")
  }

  test("multi-file writeTabCsv starts each part with one BOM; headers read back BOM-free") {
    val dir = Files.createTempDirectory("graftcsv").toString + "/multi"
    val df = (1 to 40).map(i => (i.toLong, s"v$i")).toDF("id", "s").repartition(3)
    val files = Csv.writeTabCsv(df, dir)
    assert(files.size == 3)
    val bom = Seq(0xEF.toByte, 0xBB.toByte, 0xBF.toByte)
    files.foreach { f =>
      val bytes = Files.readAllBytes(Paths.get(f.getPath.toUri)).toSeq
      assert(bytes.take(3) == bom, f)
      assert(!bytes.drop(3).startsWith(bom), s"$f starts with two BOMs")
      assert(new String(bytes.drop(3).toArray, "UTF-8").split("\n")(0) == "\"id\"\t\"s\"")
    }
    assert(Csv.readHeaders(spark, files.map(_.getPath)) == Seq.fill(3)(Seq("id", "s")))
    val back = Csv.readTabCsvAllString(spark, dir)
    assert(back.columns.toSeq == Seq("id", "s"))
    assert(back.select("id").as[String].collect().map(_.toInt).sorted.toSeq == (1 to 40))
  }

  test("readTabCsvAllString round-trips with all-string schema, empty → null (S6)") {
    val dir = Files.createTempDirectory("graftcsv").toString + "/rt"
    val df = Seq((1L, Option("x"), Option(2.5)), (2L, None, None)).toDF("a", "b", "c")
    Csv.writeTabCsv(df, dir, singleFile = true)
    val back = Csv.readTabCsvAllString(spark, dir).orderBy("a")
    assert(back.schema.fields.forall(_.dataType.typeName == "string"))
    val rows = back.as[(String, Option[String], Option[String])].collect().toSeq
    assert(rows == Seq(("1", Some("x"), Some("2.5")), ("2", None, None)))
  }

  test("validateWritten flags header drift (S5)") {
    val dir = Files.createTempDirectory("graftcsv").toString + "/val"
    val df = Seq((1, "x")).toDF("a", "b")
    Csv.writeTabCsv(df, dir, singleFile = true)
    assert(Csv.validateWritten(spark, dir, Seq("a", "b")).isEmpty)
    assert(Csv.validateWritten(spark, dir, Seq("a", "zzz")).nonEmpty)
  }

  test("UnionByName.all aligns drifted columns, missing → null (O2)") {
    val a = Seq((1, "x")).toDF("id", "s")
    val b = Seq((2.5, 9)).toDF("v", "id")
    val u = UnionByName.all(Seq(a, b)).orderBy("id")
    assert(u.columns.toSeq == Seq("id", "s", "v"))
    val rows = u.as[(Int, Option[String], Option[Double])].collect().toSeq
    assert(rows == Seq((1, Some("x"), None), (9, None, Some(2.5))))
  }
}
