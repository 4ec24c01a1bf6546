package graft

import org.apache.spark.sql.functions._

import graft.ext.Dedup

/** Ad-hoc containment_stratified decomposition probe (VERDICT r16 ask
  * #3 — attribute the sf100 ~1.26×-over-linear residual to a STAGE):
  * `runMain graft.StratProfile [dir]`, honoring SPARK_GRAFT_STORE_DIR
  * so the signature stores ride the same at-rest medium as the
  * campaign. Times, against warm stores:
  *
  *   - `skew_cand`:   the permissive 1-row-band channel (declared
  *                    knobs: ratioCut 2, ≥2 matches, occupancy cap 64)
  *   - `band_cand`:   the 2-row-band channel (cap 64)
  *   - `full_query`:  the declared containment_stratified plan
  *
  * plus the skew channel's bucket census over the SURVIVING buckets
  * (post dead-bucket skip): survivor count, Σ occ², max occ — the
  * candidate-pair volume driver. full − (skew + band) ≈ verification +
  * the shared exact-intersection joins.
  */
object StratProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    // Warm the shared stores first (ingest cost reported separately so
    // stage timings below are probe-only).
    def time[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"STRATPROF $dir $name ${(System.nanoTime() - t0) / 1e9}%.1f sec")
      r
    }
    val hr = time("store_hr")(ExtQueries.minhashStore(spark, dir))
    val bands = time("store_bands")(ExtQueries.minhashBandsStore(spark, dir))
    val sigRows = time("store_sigrows")(ExtQueries.minhashSigRowsStore(spark, dir))

    // Surviving-bucket census of the skew channel (post ratio-incapable
    // + occupancy-cap skip): what pair volume remains by construction.
    time("skew_census") {
      val occ = sigRows.groupBy("sig_idx", "sig_val")
        .agg(count(lit(1)).as("occ"), min(col("n")).as("nlo"),
          max(col("n")).as("nhi"))
        .where(!(col("nhi") <= col("nlo") * 2.0 || col("occ") > 64))
      val row = occ.agg(count(lit(1)), sum(col("occ") * col("occ")),
        max(col("occ"))).first()
      println(s"STRATPROF $dir skew_census survivors=${row.getLong(0)} " +
        s"sum_occ2=${row.getLong(1)} max_occ=${row.getLong(2)}")
    }

    time("skew_cand") {
      val n = Dedup.skewCandidates(sigRows, 2.0, 2, maxSigOccupancy = 64).count()
      println(s"STRATPROF $dir skew_cand_pairs $n")
    }
    time("band_cand") {
      val n = Dedup.bandedCandidates(bands, 64).count()
      println(s"STRATPROF $dir band_cand_pairs $n")
    }
    time("full_query") {
      val n = Dedup.containmentNearDupStratifiedFromHashes(hr,
        bands = Some(bands), sigRows = Some(sigRows),
        maxSigOccupancy = 64, maxBandOccupancy = ExtQueries.BandCap).count()
      println(s"STRATPROF $dir full_rows $n")
    }
    spark.stop()
  }
}
