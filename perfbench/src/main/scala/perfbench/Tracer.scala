package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Work counted inside one leaf span: Spark listener events plus
  * counters read at the span's two boundaries. Written by the listener
  * thread, read by the calling thread after the bus is drained. */
final class Counters {
  val c: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  def add(k: String, v: Double): Unit = synchronized {
    c(k) = c.getOrElse(k, 0.0) + v
  }

  def snapshot: Map[String, Double] = synchronized(c.toMap)
}

/** One span: name, start, end and the span that caused it. Spans of one
  * run share the run's trace; `family` names the API call family. */
final case class Span(id: Int, parent: Int, name: String, family: String,
                      kind: String, cycle: Int, start: Double,
                      var end: Double = Double.NaN,
                      counters: Counters = new Counters,
                      attrs: mutable.LinkedHashMap[String, Any] =
                        mutable.LinkedHashMap.empty)

/** In-memory trace recorder, used only by the traced run. Spans are held
  * in memory and written out once when the run ends. Spark work is
  * attributed to the open leaf span: the benchmark loop is one thread and
  * a closed loop, and each leaf drains the listener bus before it
  * closes, so every event a leaf caused has been counted by then. */
object Tracer {
  @volatile private var open: Counters = null
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val t0 = System.nanoTime()
  private var sc: org.apache.spark.SparkContext = null

  def now: Double = (System.nanoTime() - t0) / 1e9

  def install(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    sc.addSparkListener(Listener)
  }

  def all: Seq[Span] = spans.toSeq

  def span(parent: Int, name: String, family: String, kind: String,
           cycle: Int): Span = {
    val s = Span(spans.size, parent, name, family, kind, cycle, now)
    spans += s
    s
  }

  /** Run `body` as a leaf span: listener events land in its counters,
    * and codegen and GC counters are diffed across its boundaries. */
  def leaf[T](parent: Int, name: String, family: String, kind: String,
              cycle: Int)(body: => T): T = {
    val s = span(parent, name, family, kind, cycle)
    val before = boundary()
    open = s.counters
    try body
    finally {
      PerfbenchBus.drain(sc)
      open = null
      s.end = now
      boundary().foreach { case (k, v) => s.counters.add(k, v - before(k)) }
    }
  }

  private def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble

  private def boundary(): Map[String, Double] = Map(
    "codegen.compiles" ->
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
    "codegen.compile_ms" -> CodeGenerator.compileTime / 1e6,
    "jvm.gc_ms" -> gcMs)

  def add(k: String, v: Double): Unit = {
    val o = open
    if (o != null) o.add(k, v)
  }

  object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("task_s", m.executorRunTime / 1e3)
        add("cpu_s", m.executorCpuTime / 1e9)
        add("input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("input_records", m.inputMetrics.recordsRead.toDouble)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("shuffle_write_records",
          m.shuffleWriteMetrics.recordsWritten.toDouble)
        add("shuffle_fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        add("spill_disk_bytes", m.diskBytesSpilled.toDouble)
        add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
        add("task_gc_ms", m.jvmGCTime.toDouble)
      }
    }
  }
}

/** Catalyst phase times of every query an action runs, from
  * `QueryExecution.tracker`. Registered through
  * `spark.sql.queryExecutionListeners`; events arrive on the listener
  * bus and land in the open span like the task events do. */
class PhaseListener extends QueryExecutionListener {
  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      ph.get(p).foreach(s => Tracer.add(s"catalyst.${p}_ms",
        s.durationMs.toDouble))
    }
    Tracer.add("queries", 1)
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)
}
