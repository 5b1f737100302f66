package graft

import org.apache.spark.sql.SparkSession

/** The one place a Spark session is built: every main and the test
  * suite's shared session come from [[start]].
  *
  * Every session runs `local[cores]` with shuffle partitions = cores, UTC,
  * the UI off and the ObjectHashAggregate sort-based fallback threshold at
  * 65536 groups. ObjectHashAggregate (ArgMaxFields, collect_list) falls
  * back to sort-based aggregation once a task's hash map reaches this many
  * groups; the Spark default (128) was tuned for huge collect_list buffers
  * and kicks in far too early for fixed-size argmax buffers. 64k groups ×
  * ~1 KB buffer ≈ 64 MB per task at worst, and past that the sort-based
  * fallback is the right safety valve.
  *
  * The only other setting is AQE, on or off:
  *  - on for Verify, ScaleGen and the tests (the production shape:
  *    skew-join splitting, runtime broadcast);
  *  - off for Bench and for what plans or times the bench's queries
  *    (PlanDump, Plans, ScaleBench). Every headline query is sub-second
  *    at bench scale with its shuffle sized explicitly (partitions =
  *    cores), so AQE's per-stage re-plan round trips are pure overhead:
  *    measured +26% on the 7-query total at sf0.1 (5.25 s → 4.16 s). The
  *    static planner still picks broadcast joins from parquet size stats.
  *
  * `spark.sql.extensions` is not set: it is a static conf, read when the
  * SparkContext is created, so a shared test JVM cannot apply it (see
  * ExtensionsSpec). Functions are registered at runtime instead.
  */
object Sessions {

  /** The settings of a session on `cores` local cores, AQE on or off. */
  def settings(cores: Int, aqe: Boolean): Map[String, String] = Map(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> aqe.toString,
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "65536",
    "spark.ui.enabled" -> "false")

  /** The session with [[settings]]`(cores, aqe)`, logging at WARN. */
  def start(cores: Int, aqe: Boolean): SparkSession = {
    val spark = settings(cores, aqe)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `SPARK_GRAFT_CPUS`, or `default` when it is unset. */
  def envCores(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)
}
