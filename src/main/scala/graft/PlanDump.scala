package graft

import java.nio.file.{Files, Paths}

/** Optimization-round plan snapshotter:
  * `runMain graft.PlanDump <sfDir> <outDir> <suffix> <name>[,name...]`
  * writes `<outDir>/<name>_<suffix>.txt` with the FORMATTED physical plan
  * of each registered query — the before/after evidence files the round
  * deliverables require (`plans/r15/<query>_before.txt` etc.). The
  * session is the bench's (AQE off, `SPARK_GRAFT_CPUS` cores, default 32)
  * so the dumped plan is the one the bench times. Not part of the driver
  * contract.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse("plans/r15")
    val suffix = args.lift(2).getOrElse("before")
    val names = args.lift(3).map(_.split(",").toSeq)
      .getOrElse(Registry.headlines.map(_._1))
    val spark = Sessions.start(Sessions.envCores(32), aqe = false)
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.VectorFunctions.register(spark)
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val df = Registry.byName(name).build(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
        // Same literal-vector compaction as Plans.scala: a k×dim literal
        // centroid table prints every double without informing the audit.
        .replaceAll("\\[(-?[0-9.E-]+,){8,}-?[0-9.E-]+\\]", "[«literal-vec»]")
        .linesIterator.map { l =>
          if (l.length <= 2000) l
          else l.take(2000) + s" …(+${l.length - 2000} chars)"
        }.mkString("\n")
      Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), plan + "\n")
      println(s"wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
