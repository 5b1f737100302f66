package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What a workload hands the harness and the checker. */
final case class Outcome(
    setUpMs: Seq[Double],      // each repetition of the workload's set-up step
    firstRoundS: Double,       // the first round, in a JVM that has done nothing else
    warmOpsMs: Seq[Double],    // primary-operation latencies after the first round
    warmRoundsS: Double,       // timed seconds of the rounds after the first
    attempted: Int,            // timed operations, first round included
    layers: Map[String, Double], // workload-specific per-layer metrics (traced)
    facts: Map[String, Any])   // values the checker compares with DuckDB

final case class Ctx(spark: SparkSession, t: Tracer, input: String,
                     work: String, seconds: Double) {
  private val start = System.nanoTime()
  def elapsedS: Double = (System.nanoTime() - start) / 1e9

  /** The measured window after the first round: whole rounds while the
    * workload's input lasts (`more`), at least `minRounds`, and then only
    * while at least half of another round (as long as the last) still
    * fits in `seconds`, so the window ends as close to `seconds` as whole
    * rounds allow. */
  def warmLoop(minRounds: Int, more: => Boolean = true)(round: => Unit): Unit = {
    val since = elapsedS
    var n = 0
    var last = 0.0
    while ((n < minRounds || elapsedS - since + last / 2 < seconds) &&
        elapsedS < 150 && more) {
      val t0 = elapsedS
      round
      last = elapsedS - t0
      n += 1
    }
  }

  /** Runs the set-up step `n` times; returns the last result and each
    * repetition's time. */
  def setUp[T](n: Int)(step: Int => T): (T, Seq[Double]) = {
    val runs = (0 until n).map { i =>
      val t0 = System.nanoTime()
      val r = step(i)
      (r, (System.nanoTime() - t0) / 1e6)
    }
    (runs.last._1, runs.map(_._2))
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** One benchmark run in one JVM:
  * `--workload W --input DIR --work DIR --seconds S --trace 0|1 --cores N
  * --result FILE`. Writes the measured values to FILE as JSON; the
  * Python runner turns them into the benchmark's metrics and checks the
  * outputs against DuckDB after this JVM has exited. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = a("cores")
    // graft.Verify's session: the profile whose answers the oracle
    // certifies. Only the scratch and warehouse locations are added, so
    // the run writes nothing outside its work directory.
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a("work")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a("work")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sql("SELECT 1").collect()
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val traced = a("trace") == "1"
    val t = new Tracer(spark, traced)
    val ctx = Ctx(spark, t, a("input"), a("work"), a("seconds").toDouble)
    val o = a("workload") match {
      case "monthly_report" => MonthlyReport(ctx)
      case "index_lifecycle" => IndexLifecycle(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    val metrics: Map[String, Double] =
      if (!traced) Map(
        "setup_s" -> (sessionS + Stats.median(o.setUpMs) / 1000),
        "op_p50_ms" -> Stats.median(o.warmOpsMs),
        "ops_per_s" -> o.warmOpsMs.size / o.warmRoundsS)
      else {
        val perOp = for {
          op <- Seq("report", "serve", "append", "compact")
          c <- Seq("plan_ms", "codegen_compiles", "codegen_ms", "jobs", "stages",
            "tasks", "task_deser_ms", "task_cpu_ms", "gc_ms", "scan_bytes",
            "shuffle_bytes")
        } yield s"spark.$c.$op" -> t.perOp(op, c)
        val floor = (1 to 7).map(_ => t.op("floor")(ctx.noop(spark.range(2).toDF("i"))))
        t.writeSpans(s"${a("work")}/spans.jsonl")
        perOp.toMap ++ o.layers ++ Map(
          "spark.floor_ms" -> Stats.median(floor),
          "jvm.first_round_s" -> o.firstRoundS,
          "trace.op_p50_ms" -> Stats.median(o.warmOpsMs))
      }
    val json = Json.obj(Seq(
      "attempted" -> o.attempted,
      "metrics" -> metrics,
      "facts" -> o.facts))
    java.nio.file.Files.write(java.nio.file.Paths.get(a("result")), json.getBytes("UTF-8"))
    spark.stop()
  }
}
