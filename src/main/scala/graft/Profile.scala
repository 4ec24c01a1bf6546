package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Where a declared query's time goes:
  * `runMain graft.Profile <q1,q2,...> [reps]` on `SPARK_GRAFT_SF_DIR`
  * (default sf0.1) with `SPARK_GRAFT_CPUS` cores (default 32); store
  * builds honour `SPARK_GRAFT_STORE_DIR` as in every other main. Each rep
  * runs the query through the noop sink, as Bench does, and prints
  *
  * {{{
  * PROFILE <q> rep=<n> build_s=… analysis_ms=… optimization_ms=… planning_ms=… exec_s=… jobs=… stages=… tasks=… task_s=…
  * }}}
  *
  * `build_s` is the query closure, store builds and eager checkpoints
  * included (rep 1 of a fresh JVM pays the builds); the planning phases,
  * `exec_s` and the counts are the write's.
  *
  * After the last rep, one `PROFILE-OP <q> <n>:<action>` line per
  * operator of each query execution that rep finished — eager checkpoints
  * taken while the query was declared, then the write — walking each
  * final adaptive plan, query stages included and codegen wrappers
  * skipped, indented by depth, with its non-zero output rows, shuffle
  * records and bytes written, spill size and peak memory. Operators of a
  * stage that feeds a range-partitioned exchange (a global sort) count
  * their rows twice: the range partitioner's sampling job runs that stage
  * once more. The exchange's shuffle records are exact.
  */
object Profile extends AdaptiveSparkPlanHelper {
  val Phases: Seq[String] = Seq("analysis", "optimization", "planning")

  /** SQL metric key → label in the operator table. */
  private val Metrics = Seq("numOutputRows" -> "rows", "shuffleRecordsWritten" -> "shuffle_records",
    "shuffleBytesWritten" -> "shuffle_bytes", "spillSize" -> "spill_bytes",
    "peakMemory" -> "peak_mem_bytes")

  /** One rep. `executions` are the query executions it finished, as
    * (action name, execution), oldest first: the declaration's eager
    * checkpoints, then the write.
    */
  final case class Rep(buildS: Double, phasesMs: Map[String, Long], execS: Double,
      counts: ExecCounts, executions: Seq[(String, QueryExecution)]) {
    def line(name: String, rep: Int): String =
      f"PROFILE $name rep=$rep build_s=$buildS%.3f " +
        Phases.map(p => s"${p}_ms=${phasesMs.get(p).fold("-")(_.toString)}").mkString(" ") +
        f" exec_s=$execS%.3f jobs=${counts.jobs} stages=${counts.stages} " +
        f"tasks=${counts.tasks} task_s=${counts.taskMs / 1e3}%.3f"
  }

  /** One operator of a final plan; `metrics` holds every tracked metric
    * the operator has, zeros included.
    */
  final case class Operator(depth: Int, name: String, metrics: Seq[(String, Long)]) {
    def line(query: String, execution: String): String =
      s"PROFILE-OP $query $execution ${"  " * depth}$name" +
        metrics.collect { case (k, v) if v != 0 => s" $k=$v" }.mkString
  }

  /** Build and write query `name` once through the noop sink. */
  def rep(spark: SparkSession, collector: ProfileCollector, name: String, dir: String): Rep = {
    collector.snapshot()
    collector.takeExecutions()
    val t0 = System.nanoTime()
    val df = SparkEntry.queries(name)(spark, dir)
    val t1 = System.nanoTime()
    val before = collector.snapshot()
    val t2 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    val t3 = System.nanoTime()
    val counts = collector.snapshot() - before
    val executions = collector.takeExecutions()
    val phases = executions.lastOption.toSeq.flatMap { case (_, q) =>
      Phases.flatMap(p => q.tracker.phases.get(p).map(s => p -> s.durationMs))
    }.toMap
    Rep((t1 - t0) / 1e9, phases, (t3 - t2) / 1e9, counts, executions)
  }

  /** The operators of `qe`'s executed plan in pre-order, descending
    * through each adaptive plan's final plan and each query stage.
    */
  def operators(qe: QueryExecution): Seq[Operator] = {
    def walk(p: SparkPlan, depth: Int): Seq[Operator] = p match {
      case _: WholeStageCodegenExec | _: InputAdapter => allChildren(p).flatMap(walk(_, depth))
      case _ =>
        val ms = Metrics.flatMap { case (k, label) => p.metrics.get(k).map(m => label -> m.value) }
        Operator(depth, p.nodeName, ms) +: allChildren(p).flatMap(walk(_, depth + 1))
    }
    walk(qe.executedPlan, 0)
  }

  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val reps = if (args.length > 1) args(1).toInt else 3
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val collector = new ProfileCollector(spark)
    for (name <- names) {
      val runs = (1 to reps).map { i =>
        val r = rep(spark, collector, name, dir)
        println(r.line(name, i))
        r
      }
      for (last <- runs.lastOption; ((action, qe), i) <- last.executions.zipWithIndex;
          o <- operators(qe))
        println(o.line(name, s"${i + 1}:$action"))
    }
    spark.stop()
  }
}
