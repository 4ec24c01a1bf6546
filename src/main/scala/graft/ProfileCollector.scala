package graft

import java.util.concurrent.{ConcurrentLinkedQueue, TimeoutException}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

/** Execution counters of one session: jobs started, stages and tasks
  * completed, summed executor run time (ms) and summed task-metric
  * memory and disk spill (bytes). Subtract two snapshots for an interval.
  */
final case class ExecCounts(jobs: Long, stages: Long, tasks: Long, taskMs: Long,
    memSpilled: Long, diskSpilled: Long) {
  def -(o: ExecCounts): ExecCounts = ExecCounts(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, taskMs - o.taskMs, memSpilled - o.memSpilled,
    diskSpilled - o.diskSpilled)
}

/** The one Spark listener of the mains (Bench, SpillCheck, Profile). It
  * keeps the [[ExecCounts]] of its session and, from a
  * `QueryExecutionListener`, each query execution that finished (a
  * write, a collect, an eager checkpoint inside a declaration), so a
  * caller reads the plans and planning phases that actually ran instead
  * of planning a query a second time.
  *
  * Listener events arrive asynchronously: read through [[snapshot]],
  * which first drains the listener bus.
  */
final class ProfileCollector(spark: SparkSession) extends AutoCloseable {
  private val jobs, stages, tasks, taskMs, memSpilled, diskSpilled = new AtomicLong(0L)
  private val finished = new ConcurrentLinkedQueue[(String, QueryExecution)]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        taskMs.addAndGet(m.executorRunTime)
        memSpilled.addAndGet(m.memoryBytesSpilled)
        diskSpilled.addAndGet(m.diskBytesSpilled)
      }
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      finished.add(funcName -> qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      finished.add(funcName -> qe)
  }
  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** The counters once every event posted so far is delivered. A bus
    * that does not drain within 10 s is not waited on further; the
    * counters are then read as they stand.
    */
  def snapshot(): ExecCounts = {
    try Bridge.drainListenerBus(spark.sparkContext, 10000L)
    catch { case _: TimeoutException => }
    ExecCounts(jobs.get, stages.get, tasks.get, taskMs.get, memSpilled.get, diskSpilled.get)
  }

  /** The query executions (action name, execution) delivered since the
    * last call, oldest first, as of the last [[snapshot]]. The collector
    * lets go of them: a finished plan holds its shuffle dependencies,
    * whose files the context cleaner deletes only once they are
    * unreachable, so a long run takes them once per query.
    */
  def takeExecutions(): Seq[(String, QueryExecution)] =
    Iterator.continually(finished.poll()).takeWhile(_ != null).toSeq

  /** Detach both listeners and let go of every execution not yet taken. */
  override def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    finished.clear()
  }
}
