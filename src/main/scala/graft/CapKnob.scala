package graft

import graft.ext.Dedup

/** Measures the banded channel's occupancy caps,
  * r14 edition: the three declared pair queries' plans with
  * maxBandOccupancy ∈ {0 (unbounded), 64 (declared)} on each dataset —
  * count() materialization over a pre-materialized signature store, so
  * the delta isolates the candidate channel, and the row counts ARE the
  * recall adjudication (rows(64) / rows(0) on identical verification).
  * Stratified runs its declared sig-cap 64 in both arms so the band-cap
  * delta is isolated there too. Output lines:
  *   CAPKNOB <dir> <query> cap=<c> <sec> s rows=<n>
  */
object CapKnob {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq else Seq("/root/repo/scale-data/sf10")
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    for (dir <- dirs) {
      val hr = graft.ext.Ckpt.ser(Dedup.hashedShingleRows(Tables.documents(spark, dir)))
      val bands = graft.ext.Ckpt.ser(Dedup.minhashBands(hr))
      def run(query: String, cap: Int)(mk: => org.apache.spark.sql.DataFrame): Unit = {
        val t0 = System.nanoTime()
        val n = mk.count()
        println(f"CAPKNOB $dir $query cap=$cap ${(System.nanoTime() - t0) / 1e9}%.1f s rows=$n")
      }
      for (cap <- Seq(0, 64)) {
        run("near_dup_minhash", cap)(
          Dedup.nearDupMinhashFromHashes(hr, bands = Some(bands),
            maxBandOccupancy = cap))
        run("containment_near_dup", cap)(
          Dedup.containmentNearDupFromHashes(hr, bands = Some(bands),
            maxBandOccupancy = cap))
        run("containment_stratified", cap)(
          Dedup.containmentNearDupStratifiedFromHashes(hr, bands = Some(bands),
            maxSigOccupancy = 64, maxBandOccupancy = cap))
      }
    }
    spark.stop()
  }
}
