package graft

import graft.ext.Similarity

/** Measures the ANN cell-count knob (VERDICT r11 ask #3): the declared
  * `knn_join` / `hard_negatives` queries train k-means cells seeded
  * from the label fixture (|cells| = 10 at every sf), so their
  * Σ|cell|²-bounded pair stage grows ~quadratically with corpus size —
  * the sf1 full-set run measured 12.3× / 10.9× for 10× data. The
  * documented fix is cells ∝ n (constant target occupancy); this main
  * measures BOTH configurations per dataset so the knob's
  * linear-restoring effect is recorded, not asserted:
  *
  *   - pinned: the query's own `kmeansCells(emb)` (label seeding, 10
  *     cells) — skipped where Σ|cell|² = n²/10 is quadratic-bound past
  *     feasibility (sf10: 4×10⁹ pairs), which is itself the finding;
  *   - scaled: `kmeansCells(emb, numCells = n/occupancy)` with
  *     occupancy pinned to sf0.1's design point (2000 vectors / 10
  *     cells = 200), so Σ|cell|² ≈ n·occupancy stays linear in n.
  *
  * Timing protocol matches Bench: noop-sink materialization, several
  * reps, read the min (first rep carries training + JIT). Output lines:
  *   CELLKNOB <dir> <query> cells=<c> <r1> <r2> ... min=<min>
  */
object CellKnob {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1", "/root/repo/scale-data/sf1",
        "/root/repo/scale-data/sf10")
    val occupancy = sys.env.getOrElse("SPARK_GRAFT_CELL_OCCUPANCY", "200").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_CELL_REPS", "3").toInt
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    for (dir <- dirs) {
      val emb = Tables.embeddings(spark, dir)
      val n = emb.count()
      val scaledCells = math.max(10, (n / occupancy).toInt)
      // Pinned-cells pair volume is n²/10; past ~10⁸ pairs the
      // configuration is the measured quadratic wall, not a datapoint
      // worth hours of wall-clock. Record it as skipped.
      val pinnedFeasible = n.toDouble * n / 10 <= 2e8
      val configs =
        (if (pinnedFeasible) Seq(0) else Seq.empty[Int]) :+ scaledCells
      for (cells <- configs; qname <- Seq("knn_join", "hard_negatives")) {
        val asg = Similarity.kmeansCells(emb, numCells = cells).localCheckpoint()
        val times = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          val q = qname match {
            case "knn_join" => Similarity.knnJoin(emb, assignments = Some(asg))
            case _ => Similarity.hardNegatives(emb, assignments = Some(asg))
          }
          q.write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        val label = if (cells == 0) "pinned10" else s"scaled$cells"
        println(f"CELLKNOB $dir $qname n=$n cells=$label " +
          times.map(t => f"$t%.2f").mkString(" ") + f" min=${times.min}%.2f")
      }
      if (!pinnedFeasible)
        println(s"CELLKNOB $dir * n=$n cells=pinned10 SKIPPED " +
          f"(quadratic-bound: ${n.toDouble * n / 10}%.1e candidate pairs)")
    }
    spark.stop()
  }
}
