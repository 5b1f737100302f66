package org.apache.spark

/** Lets the benchmark wait until every listener event posted so far has
  * been delivered, so counters read after an operation include all of its
  * jobs, stages, tasks and query-execution callbacks. The listener bus is
  * package-private to Spark, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
