package graft

import graft.Out.OrderedOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators._

/** Oracle-checked queries covering the reference's operator inventory
  * (SURVEY.md §2), each mapped onto the driver testdata per FIXTURES.md §B:
  * `events` exercises dedup/argmax, JSON extraction, month buckets and
  * window aggregates; `orders ⋈ customer/nation` the dimension joins and
  * rank/pivot; `lineitem` the bench-scale aggregates.
  */
object RefQueries {

  private val Dec = DecimalType(18, 2)

  /** S2+A4 (run_exports_query.py:38-45): distinct non-null driver list. */
  private def s2Distinct(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"))
      .where(col("event_type").isNotNull)
      .distinct()
      .dumpOrdered("event_type")

  /** A1 (exports_results.sql:51-81): latest record per key via max_by.
    * Input is [[Tables.eventsHot]] (32-way cached) — the testdata parquet
    * is single-row-group, so the plain reader runs the scan + partial
    * aggregate in ONE task (~340 ms at sf0.1); the cached form spreads it
    * across the session's cores. Deterministic BY CONSTRUCTION: the
    * ordering key is the COLLISION-FREE scalar composite
    * `ts_us * 2^63 + event_id` ([[graft.operators.DedupLatest.ordKey128]],
    * DECIMAL(38,0) on Spark / HUGEINT in the oracle — identical total
    * order), so determinism needs no data property at all: distinct rows
    * get distinct keys. */
  private def a1Dedup(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val ev = Tables.eventsHot(spark, dir)
      .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"),
        col("value"), col("props"))
    val ordKey = DedupLatest.ordKey128(col("ts_us"), col("event_id"))
    DedupLatest.latestByScalar(ev, Seq("user_id"), "ts_us", ordKey,
        Seq("event_type", "value", "props"))
      .select(col("user_id"), col("ts_us").as("last_ts_us"),
        col("event_type").as("last_event_type"), col("value").as("last_value"),
        col("props").as("last_props"))
      // dumpOrdered, NOT dumpOrderedTail: the user_id-partitioned events
      // cache makes this body EXCHANGE-FREE (single-stage complete
      // aggregate), and coalesce(1) over a shuffle-free body would
      // serialize the whole aggregate into one task.
      .dumpOrdered("user_id")
  }

  /** A2 (exports_results.sql:73-76): collect_list + lambda filter + fold.
    * The fold runs cents-exact over DECIMAL; the final column is DOUBLE on
    * BOTH engine sides — DuckDB widens decimal sums to DECIMAL(38,2), which
    * the driver's representation-sensitive hash rejects against Spark's
    * (18,2). A 2-decimal value below 2^53 cents converts to the same nearest
    * double in both engines, so DOUBLE is the portable output type
    * (the pattern ref_e2e_monthly_report already proves). */
  private def a2CollectFilter(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val lst = filter(collect_list(col("value")), v => v > 150)
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        size(lst).cast("long").as("n_high"),
        aggregate(lst, lit(0).cast(Dec), (acc, v) => (acc + v.cast(Dec)).cast(Dec))
          .cast("double").as("sum_high"))
      .dumpOrdered("user_id")
  }

  /** F5/F6 (exports_results.sql:38,140): JSON path extraction, NULL-safe. */
  private def f5Json(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").as("k_str"),
        expr("try_cast(get_json_object(props, '$.k') AS BIGINT)").as("k_val"))
      .dumpOrdered("event_id")

  /** P2 (exports_results.sql:45-48): validity + half-open time-range filter. */
  private def p2TimeFilter(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val lo = Tables.usOf("2024-01-10")
    val hi = Tables.usOf("2024-01-20")
    // Filter on the RAW ts column so the predicate pushes down to the
    // parquet scan — a predicate on derived ts_us does not. The literal is
    // built in ts's own dtype (Tables.tsLiteral); a half-open µs range is
    // exact in every flavor the driver has generated.
    Tables.events(spark, dir)
      .where(col("ts") >= Tables.tsLiteral(spark, dir, lo) &&
        col("ts") < Tables.tsLiteral(spark, dir, hi) && col("value") > 0)
      .select(col("event_id"), col("event_type"), col("ts_us"))
      .dumpOrdered("event_id")
  }

  /** W1–W3 (exports_results.sql:110-112): global + partitioned distinct
    * counts and global sum, via crossJoin-of-aggregates instead of OVER ().
    *
    * Both DISTINCT counts and the global sum come from ONE shared pre-
    * aggregation `tu` = (event_type, user_id) → partial cents-sum: the
    * per-type distinct user count is `count(user_id)` over tu's rows, the
    * global distinct count is `count_distinct(user_id)` over tu (a user can
    * appear under several types), and the global sum is `sum(s_c)` —
    * sums are decomposable across the (type, user) partitioning. This
    * replaces two separate distinct-expand aggregations over the full table
    * with one table-sized shuffle plus two aggregates over the tiny tu. */
  private def w1Global(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val ev = Tables.eventsHot(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    // tu is consumed twice (global row, per-type counts) — persist so the
    // events-sized shuffle runs once; tu itself is O(types × users).
    val tu = ev.groupBy(col("event_type"), col("user_id"))
      .agg(sum(round(col("value") * 100).cast("long")).as("s_c"))
      .persist()
    // Cents-scaled long sum (codegen), emitted as DOUBLE — the cross-engine
    // output type (see a2CollectFilter; a DECIMAL output here only
    // hash-matched while the global sum happened to carry non-zero cents).
    val globalRow = tu.agg(
      count_distinct(col("user_id")).as("n_users_global"),
      (sum(col("s_c")).cast("double") / 100).as("sum_value_global"))
    // The per-type table is bounded by |event_type| values; coalesce(1)
    // runs the final count-merge in one task (input = tu-partition-count ×
    // |types| partial rows — tiny after the map-side combine) instead of
    // 32 near-empty tasks, and the broadcast collects from one partition.
    val perType = tu.groupBy(col("event_type"))
      .agg(count(col("user_id")).as("n_users_in_type"))
      .coalesce(1)
    ev.crossJoin(broadcast(globalRow))
      .join(broadcast(perType), Seq("event_type"), "left")
      .select(col("event_id"), col("n_users_global"), col("sum_value_global"),
        col("n_users_in_type"))
      .dumpOrdered("event_id")
  }

  /** W4+A3 (run_exports_query.py:121-125): per-(type, month, user) counts
    * ranked desc with min-tie (SQL RANK) semantics. */
  private def w4Rank(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(spark, dir)
      .withColumn("month", date_format(col("ts_ts"), "yyyy-MM"))
      .groupBy(col("event_type"), col("month"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("event_type"), col("month")).orderBy(col("cnt").desc)
    counts.withColumn("rnk", rank().over(w).cast("long"))
      .dumpOrdered("event_type", "month", "user_id")
  }

  /** J1+P11 (run_exports_query.py:223-225): left joins to dimensions,
    * join-key column dropped. `nation` is a BOUNDED dim (25 rows) → explicit
    * broadcast; `customer` SCALES with the data (1.5 M rows/sf, OOMs the
    * build side at 100×) → no hint, AQE/JoinSelection picks broadcast at
    * small sf and degrades to shuffle join at scale. */
  private def j1DimJoin(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val o = Tables.ordersHot(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    o.join(c, o("o_custkey") === c("c_custkey"), "left")
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "left")
      .select(col("o_orderkey"), col("o_totalprice"), col("c_name"),
        col("c_mktsegment"), col("n_name"))
      .dumpOrdered("o_orderkey")
  }

  /** J3 (exports_results.sql:152-163): correlated EXISTS → left-semi join
    * (the scalable decorrelated form). */
  private def j3Exists(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir)
      .where(col("l_quantity") >= 45 && col("l_returnflag") === "R")
      .select(col("l_orderkey"))
    o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
      .select(col("o_orderkey"), col("o_totalprice"))
      .dumpOrdered("o_orderkey")
  }

  /** J3 again in the reference's literal shape: higher-order `exists` over a
    * collected array (exports_results.sql:152-163 uses unnest of the array
    * column; the HOF avoids any join at all once the array exists). */
  private def j3ExistsHof(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val items = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(collect_list(struct(col("l_quantity"), col("l_returnflag"))).as("items"))
    val o = Tables.orders(spark, dir)
    o.join(items, o("o_orderkey") === items("l_orderkey"), "left")
      .select(col("o_orderkey"),
        coalesce(
          exists(col("items"), x => x("l_quantity") >= 45 && x("l_returnflag") === "R"),
          lit(false)).as("has_big_return"))
      .dumpOrdered("o_orderkey")
  }

  /** O5+P6 (exports_results.sql:117-134): explode with stub default so every
    * parent row survives. */
  private def o5ExplodeDefault(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val matched = Tables.lineitem(spark, dir)
      .where(col("l_returnflag") === "R")
      .groupBy(col("l_orderkey"))
      .agg(collect_list(struct(col("l_linenumber"), col("l_quantity"))).as("items"))
    val stub = struct(lit(0).as("l_linenumber"), lit(0.0).as("l_quantity"))
    val o = Tables.orders(spark, dir).select(col("o_orderkey"))
    o.join(matched, o("o_orderkey") === matched("l_orderkey"), "left")
      .select(col("o_orderkey"),
        ExplodeDefault.explodeWithDefault(col("items"), stub).as("item"))
      .select(col("o_orderkey"),
        col("item.l_linenumber").as("linenumber"),
        col("item.l_quantity").as("quantity"))
      .dumpOrdered("o_orderkey", "linenumber", "quantity")
  }

  /** P3+F8 (exports_results.sql:34-42): first matching element, 1-based
    * index, NULL when no match (try_element_at ≡ DuckDB arr[1]). */
  private def p3FirstMatch(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val evs = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(array_sort(collect_list(struct(col("ts_us"), col("event_id"), col("value"))))
        .as("evs"))
    val hit = try_element_at(filter(col("evs"), x => x("value") > 180), lit(1))
    evs.select(col("user_id"),
        hit.getField("ts_us").as("first_ts_us"),
        hit.getField("event_id").as("first_event_id"))
      .dumpOrdered("user_id")
  }

  /** F10 (exports_results.sql:150-175): order-sensitive nested CASE
    * classification — branch order must be preserved exactly. */
  private def f10Classify(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val label =
      when(col("event_type") === "error", "Error Deals")
        .when(col("value").isNull, "Unknown")
        .when(col("value") < 0, "Invalid")
        .when(col("event_type") === "purchase" && col("value") >= 200, "Big Purchase")
        .when(col("event_type") === "purchase", "Purchase")
        .when(col("value") >= 250, "High Value")
        .otherwise("Other")
    Tables.events(spark, dir)
      .select(col("event_id"), label.as("performance"))
      .dumpOrdered("event_id")
  }

  /** P8 (run_exports_query.py:49-67): Tableau-safety regex strip + quality
    * flags, global-replace semantics. */
  private def p8Sanitize(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        Sanitize.stripSpecialChars(col("text")).as("cleaned"),
        regexp_replace(col("text"), "\\s+", " ").as("squashed"),
        Sanitize.looksJsonish(col("text")).as("jsonish"))
      .dumpOrdered("doc_id")

  /** P9+P10 (run_exports_query.py:69-71, merge_all_lenders.py:58-59):
    * coerce-to-null casts for numerics and timestamps. */
  private def p9TryCast(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        Sanitize.coerceDouble(col("lang")).as("bad_num"),
        Sanitize.coerceDouble(col("n_chars").cast("string")).as("good_num"),
        date_format(
          Sanitize.coerceTimestamp(
            concat(lit("2024-01-"), lpad((col("n_chars") % 28 + 1).cast("string"), 2, "0"))),
          "yyyy-MM-dd").as("parsed_day"))
      .dumpOrdered("doc_id")

  /** F14+A3 (run_exports_query.py:113-121,182-184): month truncation and
    * month arithmetic feeding a per-month aggregate. */
  private def f14Months(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .withColumn("month", date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM"))
      .withColumn("prev_month",
        date_format(add_months(date_trunc("month", col("o_orderdate")), -1), "yyyy-MM"))
      .groupBy(col("month"), col("prev_month"))
      .agg(count(lit(1)).as("n_orders"),
        // Cents-exact decimal sum, emitted as DOUBLE (cross-engine stable
        // output type; see a2CollectFilter).
        sum(col("o_totalprice").cast(Dec)).cast("double").as("sum_price"))
      .dumpOrdered("month")

  /** O3/O4/W4/P12 (run_exports_query.py:106-168): the full 3-month
    * rank/pivot feature table, reference column names. */
  private def o3PivotRank(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val months = RankFeatures.lookbackMonths(java.time.LocalDate.parse("1997-06-01"))
    val o = Tables.orders(spark, dir)
      .select(col("o_orderstatus").as("tier"), col("o_orderpriority").as("entity"),
        col("o_orderdate"))
    RankFeatures.rankPivot(o, "tier", "entity",
        date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM"), months)
      .dumpOrdered("tier", "entity")
  }

  /** O2 (merge_all_lenders.py:55): union-by-name with missing columns. */
  private def o2UnionByName(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val a = Tables.customer(spark, dir)
      .select(col("c_name").as("name"), col("c_acctbal").as("acctbal"),
        col("c_mktsegment").as("segment"))
    val b = Tables.supplier(spark, dir)
      .select(col("s_name").as("name"), col("s_acctbal").as("acctbal"))
    a.unionByName(b, allowMissingColumns = true).dumpOrdered("name")
  }

  /** The cents-scaled aggregate alone, over any lineitem source.
    *
    * Cents scaling is the FLOOR FORM `(x·100 + 0.5)::long`, not
    * `round(x·100)`: Spark's `Round` routes every double through a
    * per-value `BigDecimal.setScale` (measured 2.6× on the whole query
    * at sf10 — 1.45 → 0.57 s, from 4.6× of DuckDB to 1.6×), while the
    * floor form stays pure codegen arithmetic. The two are equal on
    * POSITIVE values whose true decimals have ≤ 2 places (TPC-H
    * measures: the fp product lands within ~1e-11 of an integer cent,
    * never near a .5 midpoint; for positives floor(v+0.5) IS
    * round-half-up by definition) — the precondition OperatorSpec pins
    * against the real table ("floor-form cents equals round-half-up on
    * the real lineitem measures"), and the DuckDB oracle's native round()
    * differential re-proves at every SF. Negative measures would need
    * the round form back (floor(v+0.5) rounds -2.5 toward +∞). */
  private def q1AggBody(src: DataFrame): DataFrame = {
    def cents(c: org.apache.spark.sql.Column) =
      (c * 100 + lit(0.5)).cast("long")
    val qtyC = cents(col("l_quantity"))
    val priceC = cents(col("l_extendedprice"))
    val discC = cents(col("l_discount"))
    src.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(qtyC).as("qty_c"),
        sum(priceC).as("price_c"),
        sum(priceC * (lit(100L) - discC)).as("disc_c4"),
        count(lit(1)).as("count_order"))
  }

  /** Headline aggregate in the reference's A-group shape over the bench
    * fact table. Sums are exact and cross-engine hash-identical but stay on
    * the fast codegen path: 2-decimal doubles are scaled to integer cents
    * (long), summed as longs (whole-stage codegen, no BigDecimal), and only
    * the final 6 group rows are converted — to DOUBLE, the cross-engine
    * output type (exact: the long sums stay below 2^53, and long→double plus
    * one correctly-rounded division matches DuckDB's decimal→double cast;
    * DECIMAL output would diverge in precision — Spark (18,2)/(28,4) vs
    * DuckDB's sum-widened (38,2)/(38,4) — and fail the driver's
    * representation-sensitive hash). */
  private def q1Agg(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    q1AggBody(Tables.lineitemHot(spark, dir))
      .select(col("l_returnflag"), col("l_linestatus"),
        (col("qty_c").cast("double") / 100).as("sum_qty"),
        (col("price_c").cast("double") / 100).as("sum_base_price"),
        (col("disc_c4").cast("double") / 10000).as("sum_disc_price"),
        col("count_order"))
      .dumpOrderedTail("l_returnflag", "l_linestatus")
  }

  /** Exact interpolated percentiles per group (oracle: quantile_cont) plus
    * the sketch forms as the documented scale path (rows-only checked —
    * HLL/GK values are engine-specific).
    *
    * The DISTINCT aggregate runs as its own pass joined back on the
    * group key (guide §4): mixing `count_distinct` with imperative
    * percentile/sketch aggregates in ONE groupBy forces Spark's Expand
    * rewrite — every row duplicated per distinct group AND every
    * aggregate (including the otherwise codegen-able count) dropped to
    * the interpreted ObjectHashAggregate path. Split, each pass stays
    * single-width and the distinct pass keeps codegen; measured 6.2×
    * on the sibling approx query (values bit-identical; the join key
    * is the ≤3-row status domain). */
  private def sketchStats(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val pct = orders.groupBy(col("o_orderstatus"))
      .agg(
        Sketches.percentileExact(col("o_totalprice"), 0.5).as("p50"),
        Sketches.percentileExact(col("o_totalprice"), 0.95).as("p95"))
    val distinct = orders.groupBy(col("o_orderstatus"))
      .agg(count_distinct(col("o_custkey")).as("n_cust_exact"))
    pct.join(distinct, Seq("o_orderstatus"))
      .select(col("o_orderstatus"), col("p50"), col("p95"),
        col("n_cust_exact"))
      .dumpOrdered("o_orderstatus")
  }

  /** Approx-sketch forms with a PORTABLE oracle: raw HLL/GK outputs are
    * engine-specific by construction, so the oracled columns are the exact
    * count plus tolerance BOOLEANS — each engine checks its own sketch
    * against its own exact value (HLL within 5% relative error; approx p50
    * inside the exact IQR). Both engines assert the same contract, and the
    * booleans hash-compare. The bands are deliberately ~5× wider than the
    * configured sketch error (HLL rsd 1% vs 5% band; GK accuracy 1e-4 of
    * the distribution vs the IQR) so a near-threshold estimate flipping
    * one engine's boolean but not the other's is implausible at any sf —
    * verified green at sf0.01 and sf0.1. */
  private def sketchApprox(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    // distinct pass split from the sketch pass — see [[sketchStats]]:
    // fused, the Expand rewrite doubles every row and drops the whole
    // aggregate to interpreted evaluation (measured 3.50 s → 0.56 s
    // for this exact aggregate at sf0.01, values bit-identical)
    val distinct = orders.groupBy(col("o_orderstatus"))
      .agg(count_distinct(col("o_custkey")).as("n_cust_exact"))
    val sk = orders.groupBy(col("o_orderstatus"))
      .agg(
        Sketches.approxDistinct(col("o_custkey")).as("n_cust_approx"),
        Sketches.percentileExact(col("o_totalprice"), 0.25).as("p25"),
        Sketches.percentileExact(col("o_totalprice"), 0.75).as("p75"),
        Sketches.percentileApprox(col("o_totalprice"), 0.5).as("p50_approx"))
    distinct.join(sk, Seq("o_orderstatus"))
      .select(col("o_orderstatus"), col("n_cust_exact"),
        (abs(col("n_cust_approx") - col("n_cust_exact")) <=
          col("n_cust_exact") * 0.05).as("approx_distinct_ok"),
        (col("p50_approx") >= col("p25") && col("p50_approx") <= col("p75"))
          .as("p50_approx_ok"))
      .dumpOrdered("o_orderstatus")
  }

  val defs: Seq[(String, Q)] = Seq(
    "ref_sketch_percentiles" -> Q(sketchStats, Some(
      """SELECT o_orderstatus,
        |  quantile_cont(o_totalprice, 0.5) AS p50,
        |  quantile_cont(o_totalprice, 0.95) AS p95,
        |  count(DISTINCT o_custkey) AS n_cust_exact
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    "ref_sketch_approx" -> Q(sketchApprox, Some(
      """SELECT o_orderstatus,
        |  count(DISTINCT o_custkey) AS n_cust_exact,
        |  abs(approx_count_distinct(o_custkey) - count(DISTINCT o_custkey))
        |    <= count(DISTINCT o_custkey) * 0.05 AS approx_distinct_ok,
        |  approx_quantile(o_totalprice, 0.5)
        |    BETWEEN quantile_cont(o_totalprice, 0.25)
        |        AND quantile_cont(o_totalprice, 0.75) AS p50_approx_ok
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    "ref_s2_distinct_keys" -> Q(s2Distinct, Some(
      """SELECT DISTINCT event_type FROM events
        |WHERE event_type IS NOT NULL ORDER BY event_type""".stripMargin)),

    "ref_a1_dedup_latest" -> Q(a1Dedup, Some(
      """SELECT user_id, max(epoch_us(ts)) AS last_ts_us,
        |  max_by(event_type,
        |    epoch_us(ts)::HUGEINT * 9223372036854775808 + event_id)
        |    AS last_event_type,
        |  max_by(value,
        |    epoch_us(ts)::HUGEINT * 9223372036854775808 + event_id)
        |    AS last_value,
        |  max_by(props,
        |    epoch_us(ts)::HUGEINT * 9223372036854775808 + event_id)
        |    AS last_props
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin), headline = true),

    "ref_a2_collect_filter" -> Q(a2CollectFilter, Some(
      """SELECT user_id,
        |  count(*) FILTER (WHERE value > 150) AS n_high,
        |  CAST(coalesce(sum(CAST(value AS DECIMAL(18,2))) FILTER (WHERE value > 150),
        |                0) AS DOUBLE) AS sum_high
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    "ref_f5_json_extract" -> Q(f5Json, Some(
      """SELECT event_id,
        |  json_extract_string(props, '$.k') AS k_str,
        |  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
        |FROM events ORDER BY event_id""".stripMargin)),

    "ref_p2_time_filter" -> Q(p2TimeFilter, Some(
      """SELECT event_id, event_type, epoch_us(ts) AS ts_us FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-20'
        |  AND value > 0
        |ORDER BY event_id""".stripMargin)),

    "ref_w1_global_aggs" -> Q(w1Global, Some(
      """SELECT event_id,
        |  count(DISTINCT user_id) OVER () AS n_users_global,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER () AS DOUBLE)
        |    AS sum_value_global,
        |  count(DISTINCT user_id) OVER (PARTITION BY event_type) AS n_users_in_type
        |FROM events ORDER BY event_id""".stripMargin), headline = true),

    "ref_w4_rank_month" -> Q(w4Rank, Some(
      """WITH c AS (
        |  SELECT event_type, strftime(ts, '%Y-%m') AS month, user_id,
        |         count(*) AS cnt
        |  FROM events GROUP BY 1, 2, 3)
        |SELECT event_type, month, user_id, cnt,
        |       rank() OVER (PARTITION BY event_type, month ORDER BY cnt DESC) AS rnk
        |FROM c ORDER BY event_type, month, user_id""".stripMargin)),

    "ref_j1_dim_join" -> Q(j1DimJoin, Some(
      """SELECT o_orderkey, o_totalprice, c_name, c_mktsegment, n_name
        |FROM orders o
        |LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        |ORDER BY o_orderkey""".stripMargin), headline = true),

    "ref_j3_exists_semi" -> Q(j3Exists, Some(
      """SELECT o_orderkey, o_totalprice FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_quantity >= 45 AND l.l_returnflag = 'R')
        |ORDER BY o_orderkey""".stripMargin)),

    "ref_j3_exists_hof" -> Q(j3ExistsHof, Some(
      """SELECT o_orderkey,
        |  EXISTS (SELECT 1 FROM lineitem l
        |          WHERE l.l_orderkey = o.o_orderkey
        |            AND l.l_quantity >= 45 AND l.l_returnflag = 'R') AS has_big_return
        |FROM orders o ORDER BY o_orderkey""".stripMargin)),

    "ref_o5_explode_default" -> Q(o5ExplodeDefault, Some(
      """SELECT o.o_orderkey,
        |  COALESCE(l.l_linenumber, 0) AS linenumber,
        |  COALESCE(l.l_quantity, 0.0) AS quantity
        |FROM orders o
        |LEFT JOIN (SELECT * FROM lineitem WHERE l_returnflag = 'R') l
        |  ON o.o_orderkey = l.l_orderkey
        |ORDER BY o_orderkey, linenumber, quantity""".stripMargin)),

    "ref_p3_first_match" -> Q(p3FirstMatch, Some(
      """WITH f AS (
        |  SELECT user_id, min(epoch_us(ts)) AS first_ts_us,
        |         arg_min(event_id, ts) AS first_event_id
        |  FROM events WHERE value > 180 GROUP BY user_id)
        |SELECT u.user_id, f.first_ts_us, f.first_event_id
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN f USING (user_id) ORDER BY user_id""".stripMargin)),

    "ref_f10_classify" -> Q(f10Classify, Some(
      """SELECT event_id,
        |  CASE WHEN event_type = 'error' THEN 'Error Deals'
        |       WHEN value IS NULL THEN 'Unknown'
        |       WHEN value < 0 THEN 'Invalid'
        |       WHEN event_type = 'purchase' AND value >= 200 THEN 'Big Purchase'
        |       WHEN event_type = 'purchase' THEN 'Purchase'
        |       WHEN value >= 250 THEN 'High Value'
        |       ELSE 'Other' END AS performance
        |FROM events ORDER BY event_id""".stripMargin)),

    "ref_p8_sanitize" -> Q(p8Sanitize, Some(
      """SELECT doc_id,
        |  regexp_replace(text, '[\[\]\{\}"\\,]', '', 'g') AS cleaned,
        |  regexp_replace(text, '\s+', ' ', 'g') AS squashed,
        |  regexp_matches(text, '[\[\]\{\}]') AS jsonish
        |FROM documents ORDER BY doc_id""".stripMargin)),

    "ref_p9_try_cast" -> Q(p9TryCast, Some(
      """SELECT doc_id,
        |  TRY_CAST(lang AS DOUBLE) AS bad_num,
        |  TRY_CAST(CAST(n_chars AS VARCHAR) AS DOUBLE) AS good_num,
        |  strftime(TRY_CAST('2024-01-' || lpad(CAST(n_chars % 28 + 1 AS VARCHAR), 2, '0')
        |                    AS TIMESTAMP), '%Y-%m-%d') AS parsed_day
        |FROM documents ORDER BY doc_id""".stripMargin)),

    "ref_f14_months" -> Q(f14Months, Some(
      """SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
        |  strftime(date_trunc('month', o_orderdate) - INTERVAL 1 MONTH, '%Y-%m')
        |    AS prev_month,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1, 2 ORDER BY month""".stripMargin)),

    "ref_o3_pivot_rank" -> Q(o3PivotRank, Some(
      """WITH c AS (
        |  SELECT o_orderstatus AS tier, o_orderpriority AS entity,
        |         strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
        |         count(*) AS cnt
        |  FROM orders
        |  WHERE strftime(date_trunc('month', o_orderdate), '%Y-%m')
        |        IN ('1997-06', '1997-05', '1997-04')
        |  GROUP BY 1, 2, 3),
        |r AS (SELECT *, rank() OVER (PARTITION BY tier, month ORDER BY cnt DESC)
        |        AS rnk FROM c)
        |SELECT tier, entity,
        |  coalesce(max(CASE WHEN month = '1997-06' THEN cnt END), 0)
        |    AS scenario_count_current,
        |  coalesce(max(CASE WHEN month = '1997-05' THEN cnt END), 0)
        |    AS scenario_count_one_month,
        |  coalesce(max(CASE WHEN month = '1997-04' THEN cnt END), 0)
        |    AS scenario_count_two_months,
        |  coalesce(max(CASE WHEN month = '1997-05' THEN rnk END), 0)
        |    AS rank_in_tier_one_month,
        |  coalesce(max(CASE WHEN month = '1997-04' THEN rnk END), 0)
        |    AS rank_in_tier_two_months
        |FROM r GROUP BY 1, 2 ORDER BY tier, entity""".stripMargin)),

    "ref_o2_union_by_name" -> Q(o2UnionByName, Some(
      """SELECT c_name AS name, c_acctbal AS acctbal, c_mktsegment AS segment
        |FROM customer
        |UNION ALL BY NAME
        |SELECT s_name AS name, s_acctbal AS acctbal FROM supplier
        |ORDER BY name""".stripMargin)),

    "ref_q1_agg" -> Q(q1Agg, Some(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_base_price,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |           AS DECIMAL(28,4))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin), headline = true),
  )
}
