package graft

import org.apache.spark.sql.SparkSession

/** The Spark jobs `body` started, each as its number of tasks run, counted
  * by a listener between two marker jobs — the listener bus is FIFO, so
  * the closing marker's start event proves every job and task event of
  * `body` was delivered. A stage shared by several jobs (a reused
  * shuffle) counts for the first job that lists it; later jobs skip it. */
object JobTasks {
  def apply(spark: SparkSession)(body: => Unit): Seq[Int] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    val sc = spark.sparkContext
    val tag = s"job-tasks-${java.util.UUID.randomUUID()}"
    val counting = new java.util.concurrent.atomic.AtomicBoolean(false)
    val closed = new java.util.concurrent.CountDownLatch(1)
    // events arrive on the one listener-bus thread; read after `closed`
    val jobs = scala.collection.mutable.ArrayBuffer.empty[Seq[Int]]
    val tasksByStage = scala.collection.mutable.Map.empty[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p =>
            Option(p.getProperty("spark.job.description"))) match {
          case Some(d) if d == s"$tag-open" => counting.set(true)
          case Some(d) if d == s"$tag-close" =>
            counting.set(false); closed.countDown()
          case _ => if (counting.get) jobs += js.stageIds
        }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (counting.get)
          tasksByStage(te.stageId) = tasksByStage.getOrElse(te.stageId, 0) + 1
    }
    def marker(d: String): Unit = {
      sc.setJobDescription(d)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      marker(s"$tag-open")
      body
      marker(s"$tag-close")
      assert(closed.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the listener bus never delivered the closing marker")
      val seen = scala.collection.mutable.Set.empty[Int]
      jobs.toSeq.map(_.filter(seen.add).map(tasksByStage.getOrElse(_, 0)).sum)
    } finally sc.removeSparkListener(listener)
  }
}
