package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Times the benchmark's operations and, when enabled, records what each
  * one cost in every layer below it.
  *
  * Disabled (the untraced runs that give the end-to-end metrics), an
  * operation is a bare `System.nanoTime` pair: no listener is registered
  * and no span is kept. Enabled (the traced run), the tracer registers a
  * `SparkListener` and a `QueryExecutionListener`, reads Spark's codegen
  * counters, the Hadoop `FileSystem` statistics and the JVM's GC beans,
  * and keeps a span per call the workload wraps. Counters are global, so
  * each operation drains the listener bus before and after it runs and
  * charges the difference to its kind; the drains sit outside the timed
  * interval. Spans stay in memory and are written as JSONL at the end. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val origin = System.nanoTime()

  private val jobs, stages, tasks, deserMs, cpuNs, scanBytes, shuffleBytes,
    planMs = new AtomicLong

  if (enabled) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet(): Unit
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = e.taskMetrics
        if (m != null) {
          deserMs.addAndGet(m.executorDeserializeTime)
          cpuNs.addAndGet(m.executorCpuTime)
          scanBytes.addAndGet(m.inputMetrics.bytesRead)
          shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      private def phases(qe: QueryExecution): Unit =
        planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum): Unit
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
    })
  }

  private def fileStats = org.apache.hadoop.fs.FileSystem.getAllStatistics
    .asScala.filter(_.getScheme == "file")

  /** Every layer counter, read after the listener bus has drained. */
  def snapshot(): Map[String, Double] = {
    PerfbenchBus.drain(sc)
    val fsS = fileStats
    Map(
      "plan_ms" -> planMs.get.toDouble,
      "codegen_compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "codegen_ms" -> CodeGenerator.compileTime / 1e6,
      "jobs" -> jobs.get.toDouble,
      "stages" -> stages.get.toDouble,
      "tasks" -> tasks.get.toDouble,
      "task_deser_ms" -> deserMs.get.toDouble,
      "task_cpu_ms" -> cpuNs.get / 1e6,
      "gc_ms" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum.toDouble,
      "scan_bytes" -> scanBytes.get.toDouble,
      "shuffle_bytes" -> shuffleBytes.get.toDouble,
      "fs_bytes_read" -> fsS.map(_.getBytesRead).sum.toDouble,
      "fs_bytes_written" -> fsS.map(_.getBytesWritten).sum.toDouble)
  }

  private final case class Span(id: Int, parent: Int, trace: Int, name: String,
                                startNs: Long, endNs: Long)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, Int)] // (span id, trace id), innermost first
  private var nextId = 1

  /** Wraps one call into a layer: a span when tracing, nothing otherwise. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val (parent, trace) = stack.headOption.getOrElse((0, id))
      stack = (id, trace) :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, trace, name, t0, System.nanoTime())
      }
    }

  private val opSums = mutable.LinkedHashMap.empty[String, mutable.Map[String, Double]]
  private val opCounts = mutable.Map.empty[String, Int].withDefaultValue(0)

  /** Runs one operation of the given kind and returns its wall time in ms.
    * When tracing, the layer counters it moved are charged to `kind`. */
  def op(kind: String)(body: => Unit): Double =
    if (!enabled) {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e6
    } else {
      val before = snapshot()
      val t0 = System.nanoTime()
      span(kind)(body)
      val ms = (System.nanoTime() - t0) / 1e6
      val after = snapshot()
      val sums = opSums.getOrElseUpdate(kind, mutable.Map.empty[String, Double].withDefaultValue(0.0))
      after.foreach { case (k, v) => sums(k) += v - before(k) }
      opCounts(kind) += 1
      ms
    }

  /** Mean per operation of `kind` for one layer counter (0 if none ran). */
  def perOp(kind: String, counter: String): Double =
    if (opCounts(kind) == 0) 0.0 else opSums(kind)(counter) / opCounts(kind)

  /** Durations in ms of every span with this name, in call order. */
  def durations(name: String): Seq[Double] =
    spans.filter(_.name == name).sortBy(_.startNs).map(s => (s.endNs - s.startNs) / 1e6).toSeq

  def writeSpans(path: String): Unit = {
    val lines = spans.sortBy(_.startNs).map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace,
        "name" -> s.name, "start_ms" -> (s.startNs - origin) / 1e6,
        "end_ms" -> (s.endNs - origin) / 1e6))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** The small JSON writer the harness needs for its result and span files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case null => "null"
    case other => str(other.toString)
  }

  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
