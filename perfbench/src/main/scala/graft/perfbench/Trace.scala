package graft.perfbench

import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.etl.WarehouseSink

/** One traced interval. `op` is the operation (query execution or day)
  * the span belongs to; its spans share it. Times are epoch microseconds.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startUs: Long, endUs: Long, counts: Map[String, Long] = Map.empty) {
  def us: Long = endUs - startUs
}

/** Counters fed by the Spark listener and the query-execution listener.
  * All are sums except `peak_mem_b`, a maximum.
  */
object Counters {
  val names: Seq[String] = Seq("jobs", "stages", "tasks", "task_ms", "cpu_ns", "gc_ms",
    "launch_wait_ms", "task_retries", "shuffle_write_b", "shuffle_read_b", "fetch_wait_ms",
    "spill_disk_b", "spill_mem_b", "peak_mem_b", "scan_b", "scan_rows", "write_b",
    "analysis_ms", "optimize_ms", "physical_ms")
  private val index = names.zipWithIndex.toMap
  def apply(name: String): Int = index(name)
}

/** Spans and listener counts for the traced run. Spans are kept in memory
  * and written once at the end. While detached (always, with
  * `enabled = false`) no listener is registered and `span` is a plain call.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, Int)] = Nil // (span id, op id)
  private var nextId = 1
  private var nextOp = 1

  private val counts = new Array[Long](Counters.names.size)
  /** Listener-side spans (jobs, planning phases) not yet attached to an op. */
  private val pending = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val stageSubmitMs = mutable.Map.empty[Int, Long]
  private val jobStartMs = mutable.Map.empty[Int, Long]

  private def add(name: String, v: Long): Unit = counts(Counters(name)) += v

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      add("jobs", 1); jobStartMs(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStartMs.remove(e.jobId).foreach(t => pending += ((s"job ${e.jobId}", t, e.time)))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      e.stageInfo.submissionTime.foreach(t => stageSubmitMs(e.stageInfo.stageId) = t)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      add("stages", 1); stageSubmitMs -= e.stageInfo.stageId
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      add("tasks", 1)
      val info = e.taskInfo
      if (info.attemptNumber > 0 || info.failed) add("task_retries", 1)
      stageSubmitMs.get(e.stageId).foreach(t => add("launch_wait_ms", math.max(0L, info.launchTime - t)))
      val m = e.taskMetrics
      if (m != null) {
        add("task_ms", m.executorRunTime); add("cpu_ns", m.executorCpuTime)
        add("gc_ms", m.jvmGCTime)
        add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
        add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        add("spill_disk_b", m.diskBytesSpilled); add("spill_mem_b", m.memoryBytesSpilled)
        add("scan_b", m.inputMetrics.bytesRead); add("scan_rows", m.inputMetrics.recordsRead)
        add("write_b", m.outputMetrics.bytesWritten)
        val p = Counters("peak_mem_b")
        counts(p) = math.max(counts(p), m.peakExecutionMemory)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
    private def phases(qe: QueryExecution): Unit = Tracer.this.synchronized {
      for ((phase, metric) <- Seq("analysis" -> "analysis_ms",
          "optimization" -> "optimize_ms", "planning" -> "physical_ms");
          p <- qe.tracker.phases.get(phase)) {
        add(metric, p.durationMs)
        pending += ((s"plan.$phase", p.startTimeMs, p.endTimeMs))
      }
    }
  }

  private var attached = false

  /** Registers (or removes) both listeners; untraced passes of the traced
    * run detach them so the two sides of the overhead ratio differ only
    * in tracing.
    */
  def attach(on: Boolean): Unit = if (enabled && on != attached) {
    if (on) {
      spark.sparkContext.addSparkListener(listener); spark.listenerManager.register(qeListener)
    } else {
      drain()
      spark.sparkContext.removeSparkListener(listener); spark.listenerManager.unregister(qeListener)
    }
    attached = on
  }

  private def drain(): Unit = if (attached) org.apache.spark.perfbench.ListenerBusDrain(spark.sparkContext)

  def snapshot(): Array[Long] = { drain(); synchronized(counts.clone()) }

  /** Runs `f` inside a span. `newOp` starts a new operation: its span
    * carries the listener counts of the operation, and the listener-side
    * spans (jobs, planning phases) become its children.
    */
  def span[A](name: String, newOp: Boolean = false)(f: => A): A =
    if (!attached) f
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(0)
      val op = if (newOp) { nextOp += 1; nextOp - 1 } else stack.headOption.map(_._2).getOrElse(0)
      val before = if (newOp) snapshot() else null
      if (newOp) synchronized { pending.clear(); counts(Counters("peak_mem_b")) = 0L }
      stack = (id, op) :: stack
      val start = nowUs
      try f
      finally {
        val end = nowUs
        stack = stack.tail
        val counted = if (newOp) {
          val after = snapshot()
          synchronized {
            for ((n, s, e) <- pending) {
              spans += Span(nextId, id, op, n, s * 1000L, e * 1000L); nextId += 1
            }
            pending.clear()
          }
          val peak = Counters("peak_mem_b")
          Counters.names.indices.map(i =>
            Counters.names(i) -> (if (i == peak) after(i) else after(i) - before(i))).toMap
        } else Map.empty[String, Long]
        spans += Span(id, parent, op, name, start, end, counted)
      }
    }
}

/** Times every call into the warehouse-load layer as a span. */
final class TracedSink(inner: WarehouseSink, tracer: Tracer) extends WarehouseSink {
  override def location(table: String): String = inner.location(table)
  override def loadFact(df: DataFrame, table: String, date: LocalDate): Unit =
    tracer.span(s"sink.loadFact:$table")(inner.loadFact(df, table, date))
  override def loadDim(df: DataFrame, table: String): Unit =
    tracer.span(s"sink.loadDim:$table")(inner.loadDim(df, table))
  override def read(spark: SparkSession, table: String): DataFrame =
    tracer.span(s"sink.read:$table")(inner.read(spark, table))
}
