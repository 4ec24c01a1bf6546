package graft

import org.apache.spark.sql.functions._

/** Ad-hoc IVF store-BUILD timing probe (not part of the driver
  * contract): `runMain graft.IvfBuild [dir]` times the occupancy-scaled
  * Lloyd training — the one-time ingest that writes the `assignments`
  * store — in its FLAT form (n·|cells| cosines per round; the r15 sf100
  * campaign measured 3 passes = 20B cosines ≈ 646 s) against the
  * two-level COARSE-ROUTED form (≈ 2n·√cells per round — VERDICT r15
  * ask #4). Prints per-variant wall seconds plus the assignment row
  * count and two summary statistics (distinct cells, Σ vec_id·cell) so
  * runs are comparable: full-width coarse is bit-identical to flat
  * (spec-pinned); p=1 is the approximation whose checksum may differ.
  *
  * `SPARK_GRAFT_IVF_VARIANT`: `flat`, `coarse`, or `both` (default).
  */
object IvfBuild {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val variant = sys.env.getOrElse("SPARK_GRAFT_IVF_VARIANT", "both")
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val emb = Tables.embeddings(spark, dir)

    def time(name: String)(f: => org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      val asg = f
      val row = asg.agg(count(lit(1)), countDistinct(col("cell")),
        sum(col("vec_id") * col("cell"))).first()
      val t = (System.nanoTime() - t0) / 1e9
      println(f"IVFBUILD $dir $name $t%.1f sec n=${row.getLong(0)} " +
        s"cells=${row.getLong(1)} chk=${row.getLong(2)}")
    }

    if (variant != "coarse")
      time("flat")(graft.ext.Similarity.kmeansCellsByOccupancy(emb))
    if (variant != "flat")
      time("coarse_p1")(graft.ext.Similarity.kmeansCellsByOccupancyCoarse(emb))
    spark.stop()
  }
}
