package graft

import org.apache.spark.sql.SparkSession

/** Ad-hoc single-query timing probe (not part of the driver contract):
  * `runMain graft.QProbe <query> [reps]` times one declared query in a
  * fresh JVM, noop-materialized like Bench, printing each rep's seconds.
  * Exists to separate genuine plan/JIT bimodality (reproduces here) from
  * host noise windows (doesn't).
  */
object QProbe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(32)
    // Experiment aliases beyond the declared map (plan-variant probes).
    val fn: (SparkSession, String) => org.apache.spark.sql.DataFrame = name match {
      case "bloom_plain" => (s, dir) => {
        import org.apache.spark.sql.functions._
        val li = Tables.lineitem(s, dir).select(col("l_partkey"), col("l_quantity"))
        val pt = Tables.part(s, dir).where(col("p_size") <= 5)
          .select(col("p_partkey"), col("p_brand"))
        li.join(pt, col("l_partkey") === col("p_partkey"))
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_quantity")).cast("long").as("sum_qty"))
          .orderBy("p_brand")
      }
      case "bloom_build" => (s, dir) => {
        import org.apache.spark.sql.functions._
        val pt = Tables.part(s, dir).where(col("p_size") <= 5)
          .select(col("p_partkey"), col("p_brand"))
        graft.ext.BloomJoin.buildFilter(pt, "p_partkey")
      }
      case "bloom_prune" => (s, dir) => {
        import org.apache.spark.sql.functions._
        val li = Tables.lineitem(s, dir).select(col("l_partkey"), col("l_quantity"))
        val pt = Tables.part(s, dir).where(col("p_size") <= 5)
          .select(col("p_partkey"), col("p_brand"))
        val f = graft.ext.BloomJoin.buildFilter(pt, "p_partkey")
        graft.ext.BloomJoin.prune(li, "l_partkey", f)
      }
      case _ => SparkEntry.queries(name)
    }
    val times = (1 to reps).map { i =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val t = (System.nanoTime() - t0) / 1e9
      println(f"QPROBE-REP $name $i%d $t%.2f")
      t
    }
    println(f"QPROBE $name ${times.map(t => f"$t%.2f").mkString(" ")}")
    spark.stop()
  }
}
