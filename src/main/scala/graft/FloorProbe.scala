package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Ad-hoc sf0.1 fixed-floor decomposition (VERDICT r17 ask #5 — name
  * where the ~0.3–2 s per-query floor goes):
  * `runMain graft.FloorProbe <q1,q2,...> [reps]`. Per rep, splits:
  *
  *   - `build`: DataFrame construction (query closure — includes store
  *              cache hits after rep 1)
  *   - `plan`:  `queryExecution.executedPlan` materialization =
  *              analysis + optimization + physical planning (AQE's
  *              per-stage re-planning still lands in exec)
  *   - `exec`:  the noop write (codegen + job scheduling + tasks +
  *              AQE re-optimization)
  *
  * plus jobs / stages / tasks counts and summed executor task time for
  * the exec phase — wall − task/cores is the scheduling+planning floor
  * no core count can move.
  */
object FloorProbe {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val reps = if (args.length > 1) args(1).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskMs = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = e.taskMetrics
        if (m != null) taskMs.addAndGet(m.executorRunTime)
      }
    })
    def settle(): Unit = { Thread.sleep(150) } // listener drain between phases
    for (name <- names; rep <- 1 to reps) {
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan // force analysis→physical planning
      val t2 = System.nanoTime()
      settle()
      val (j0, s0, k0, m0) = (jobs.get, stages.get, tasks.get, taskMs.get)
      val t3 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t4 = System.nanoTime()
      settle()
      println(f"FLOORPROBE $name rep=$rep build=${(t1 - t0) / 1e9}%.3f " +
        f"plan=${(t2 - t1) / 1e9}%.3f exec=${(t4 - t3) / 1e9}%.3f " +
        f"jobs=${jobs.get - j0} stages=${stages.get - s0} tasks=${tasks.get - k0} " +
        f"task_sec=${(taskMs.get - m0) / 1e3}%.3f")
    }
    spark.stop()
  }
}
