package graft

/** Ad-hoc plan/timing probe (not part of the driver contract).
  *
  * DEV-ONLY entry point: never invoked by Verify/Bench or any query
  * path. The whole-result `collect()` below is deliberate — the point
  * is to force execution and read the final AQE plan on a sf0.1 frame
  * small enough to hold on the driver; nothing here informs the
  * engine's scale posture.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(32)
    val dir = "/root/testdata/sf0.1"

    def dump(name: String)(df: org.apache.spark.sql.DataFrame): Unit = {
      println(s"==== PLAN $name ====")
      df.explain("formatted")
    }

    dump("pruned_scan")(SparkEntry.queries("pruned_scan")(spark, dir))
    dump("reconciliation")(SparkEntry.queries("reconciliation")(spark, dir))
    dump("ann_topk")(SparkEntry.queries("ann_topk")(spark, dir))
    // The r3-rewritten pair-verification family — audit points: numeric
    // band keys, no isnotnull(<expensive expr>) pushed into scans
    // (PLANS.md trap 5), repartition guard before the verification join
    // (trap 6), no BroadcastExchange of a corpus-sized side.
    dump("near_dup_minhash")(SparkEntry.queries("near_dup_minhash")(spark, dir))
    dump("near_dup_simhash")(SparkEntry.queries("near_dup_simhash")(spark, dir))
    dump("ngram_jaccard")(SparkEntry.queries("ngram_jaccard")(spark, dir))
    dump("embedding_near_dup")(SparkEntry.queries("embedding_near_dup")(spark, dir))
    // r5 additions — audit points: containment shares the minhash
    // verification core (identical plan up to the final Project);
    // trained IVF broadcasts only the |cells|·dims centroid table;
    // quantize keeps scale OUT of the per-element lambda (two-Project
    // stack, CollapseProject cost guard).
    dump("containment_near_dup")(SparkEntry.queries("containment_near_dup")(spark, dir))
    dump("ann_topk_ivf_trained")(SparkEntry.queries("ann_topk_ivf_trained")(spark, dir))
    dump("embedding_quantize")(SparkEntry.queries("embedding_quantize")(spark, dir))
    // the at-scale shape: shuffle joins (no auto-broadcast) → ReuseExchange
    // (AQE materializes reuse at runtime, so execute then read the final plan)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val rec = SparkEntry.queries("reconciliation")(spark, dir)
    rec.collect()
    println("==== EXECUTED PLAN reconciliation_at_scale ====")
    println(rec.queryExecution.executedPlan.toString.take(60000))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.stop()
  }
}
