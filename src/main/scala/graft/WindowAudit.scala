package graft

import org.apache.spark.sql.catalyst.plans.logical.Window

/** Ad-hoc global-window enumerator (VERDICT r17 ask #7 — list every
  * declared query that plans a WindowExec with NO partition spec, the
  * source of Verify's "No Partition Defined for Window operation"
  * warnings): `runMain graft.WindowAudit [dir]`. Driver-only plan
  * walk — builds each declared query and collects empty-partition
  * WindowExec nodes (including subqueries); store-backed queries
  * execute their session store builds as a side effect of
  * construction, nothing else runs. Output: one WINAUDIT line per
  * query that plans ≥ 1 global window, with the window expressions —
  * the PLANS.md enumeration is generated from this.
  */
object WindowAudit {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Session.local(8)
    var total = 0
    for ((name, q) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      try {
        // Walk the OPTIMIZED LOGICAL plan: physical collect stops at the
        // AdaptiveSparkPlanExec wrapper (AQE hides its input plan from
        // tree traversal), so a WindowExec census over executedPlan
        // silently reports zero — the logical Window nodes are what the
        // physical global windows are planned from, 1:1.
        val plan = q(spark, dir).queryExecution.optimizedPlan
        val hits = plan.collectWithSubqueries {
          case w: Window if w.partitionSpec.isEmpty => w
        }
        if (hits.nonEmpty) {
          total += hits.size
          val exprs = hits.map(_.windowExpressions.map(_.sql).mkString("; "))
            .mkString(" | ")
          println(s"WINAUDIT $name n=${hits.size} exprs=$exprs")
        }
      } catch { case e: Throwable =>
        println(s"WINAUDIT $name ERROR ${Option(e.getMessage).getOrElse(e.getClass.getName).take(120)}")
      }
    }
    println(s"WINAUDIT TOTAL global_window_sites=$total")
    spark.stop()
  }
}
