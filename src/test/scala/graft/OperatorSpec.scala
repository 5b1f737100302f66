package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Shared local session for all suites. */
object TestSpark {
  lazy val spark: SparkSession = Sessions.start(4, aqe = true)
  val sf: String = "/root/testdata/sf0.001"
}

/** Unit tests per operator (SURVEY.md §5.1). */
class OperatorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("floor-form cents equals round-half-up on the real lineitem measures") {
    // q1AggBody's (x*100 + 0.5)::long replaced round(x*100)::long for the
    // BigDecimal-free codegen path — pin the equivalence precondition
    // (positive, ≤2-decimal measures) against the actual table, plus the
    // exact boundary values the floor form must get right
    val li = Tables.lineitem(spark, TestSpark.sf)
    def both(c: org.apache.spark.sql.Column) =
      ((c * 100 + lit(0.5)).cast("long"), round(c * 100).cast("long"))
    for (m <- Seq("l_quantity", "l_extendedprice", "l_discount")) {
      val (f, r) = both(col(m))
      assert(li.where(f =!= r || col(m) < 0).isEmpty,
        s"$m: floor form diverged from round (or negative value present)")
    }
    val edge = Seq(0.0, 0.01, 0.99, 1.0, 12.34, 949.99, 104949.5)
      .toDF("x")
    val (f, r) = both($"x")
    assert(edge.where(f =!= r).isEmpty)
  }

  test("DedupLatest.latestBy equals the row_number formulation (A1)") {
    val df = Seq(
      ("s1", 1L, "a"), ("s1", 3L, "c"), ("s1", 2L, "b"),
      ("s2", 5L, "x"), ("s3", 7L, "y")).toDF("k", "t", "v")
    val got = DedupLatest.latestBy(df, Seq("k"), "t", Seq("v"))
      .orderBy("k").as[(String, Long, String)].collect()
    assert(got.toSeq == Seq(("s1", 3L, "c"), ("s2", 5L, "x"), ("s3", 7L, "y")))
  }

  test("DedupLatest.latestByTieBroken picks highest tiebreaker on ties") {
    val df = Seq(("s1", 1L, 10L, "lo"), ("s1", 1L, 20L, "hi")).toDF("k", "t", "id", "v")
    val got = DedupLatest.latestByTieBroken(df, Seq("k"), "t", "id", Seq("v"))
      .select("v").as[String].collect()
    assert(got.toSeq == Seq("hi"))
  }

  test("ExplodeDefault emits stub for NULL and empty arrays (O5)") {
    val df = Seq(
      (1, Seq("a", "b")), (2, Seq.empty[String]), (3, null)
    ).toDF("id", "arr")
    val got = df.select($"id",
        ExplodeDefault.explodeWithDefault($"arr", lit("stub")).as("e"))
      .orderBy("id", "e").as[(Int, String)].collect()
    assert(got.toSeq == Seq((1, "a"), (1, "b"), (2, "stub"), (3, "stub")))
  }

  test("GlobalAggs.withGlobal attaches 1-row aggregates to every row (W1/W3)") {
    val df = Seq(("a", 1), ("b", 2), ("a", 3)).toDF("k", "v")
    val got = GlobalAggs.withGlobal(df, Seq(
      count_distinct($"k").as("nk"), sum($"v").as("sv")))
    assert(got.count() == 3)
    assert(got.select("nk", "sv").distinct().as[(Long, Long)].collect().toSeq ==
      Seq((2L, 6L)))
  }

  test("GlobalAggs.withGroupDistinctCount matches COUNT(DISTINCT) OVER (PARTITION BY) (W2)") {
    val df = Seq(("a", "u1"), ("a", "u1"), ("a", "u2"), ("b", "u3")).toDF("g", "u")
    val got = GlobalAggs.withGroupDistinctCount(df, "g", "u", "n")
      .select("g", "n").distinct().orderBy("g").as[(String, Long)].collect()
    assert(got.toSeq == Seq(("a", 2L), ("b", 1L)))
  }

  test("RankFeatures rank uses min-tie semantics (W4) and zero-fills pivot (O3)") {
    val df = Seq(
      // tier T, entities e1/e2 tie in 2024-02 (both cnt=1), e1 alone in 2024-03
      ("T", "e1", "2024-03"), ("T", "e1", "2024-02"), ("T", "e2", "2024-02")
    ).toDF("tier", "entity", "m")
    val months = Seq("2024-03", "2024-02", "2024-01")
    val got = RankFeatures.rankPivot(df, "tier", "entity", col("m"), months)
      .orderBy("entity")
      .select("entity", "scenario_count_current", "scenario_count_one_month",
        "scenario_count_two_months", "rank_in_tier_one_month", "rank_in_tier_two_months")
      .as[(String, Long, Long, Long, Long, Long)].collect()
    // ties in one_month share rank 1; two_months absent -> 0-filled
    assert(got.toSeq == Seq(
      ("e1", 1L, 1L, 0L, 1L, 0L),
      ("e2", 0L, 1L, 0L, 1L, 0L)))
  }

  test("Sanitize strips the reference character class globally (P8)") {
    val df = Seq("""a[b]{c}"d"\e,f""").toDF("s")
    val got = df.select(Sanitize.stripSpecialChars($"s")).as[String].head()
    assert(got == "abcdef")
  }

  test("Sanitize.coerceDouble coerces invalid to NULL (P9)") {
    val df = Seq("1.5", "x", null).toDF("s")
    val got = df.select(Sanitize.coerceDouble($"s")).as[Option[Double]].collect()
    assert(got.toSeq == Seq(Some(1.5), None, None))
  }

  test("lookbackMonths crosses year boundaries") {
    assert(RankFeatures.lookbackMonths(java.time.LocalDate.parse("2024-01-15")) ==
      Seq("2024-01", "2023-12", "2023-11"))
  }
}

/** Every registered query runs on sf0.001 and returns rows with the declared
  * deterministic ordering intact. */
class RegistrySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  Registry.all.foreach { case (name, q) =>
    test(s"$name runs non-empty on sf0.001") {
      val df = q.build(spark, TestSpark.sf)
      if (DataQueries.mayBeEmpty(name)) df.count() // must run, may be empty
      else assert(df.count() > 0)
    }
  }

  test("entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle name is a registered query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("no oracled query emits DECIMAL or TIMESTAMP columns (hash-gate invariant)") {
    // The driver's hash is representation-sensitive: Spark DECIMAL(18,2)
    // vs DuckDB's sum-widened DECIMAL(38,2) hash-differ on identical
    // values, and timestamps differ in physical encoding — round 1 lost 3
    // queries to exactly this. Structural guard: oracled outputs carry
    // only exact-portable types (longs, doubles, strings, booleans, ...).
    import org.apache.spark.sql.types.{DecimalType, TimestampNTZType, TimestampType}
    val offenders = Registry.all.collect {
      case (name, q) if q.oracle.isDefined =>
        name -> q.build(spark, TestSpark.sf).schema.fields.collect {
          case f if f.dataType.isInstanceOf[DecimalType] ||
            f.dataType == TimestampType || f.dataType == TimestampNTZType =>
            s"${f.name}: ${f.dataType.simpleString}"
        }
    }.filter(_._2.nonEmpty)
    assert(offenders.isEmpty,
      s"representation-sensitive output columns: ${offenders.toMap}")
  }
}
