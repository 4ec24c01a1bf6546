package graft

/** `graft.Profile` on the sf0.001 tables: one rep of `reconciliation`
  * reports its execution counts, the write's planning phases and a final
  * plan whose root stage carries the query's rows.
  */
class ProfileSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("one reconciliation rep reports jobs, tasks, planning phases and root-stage rows") {
    val collector = new ProfileCollector(spark)
    val r = try Profile.rep(spark, collector, "reconciliation", dir) finally collector.close()
    assert(r.counts.jobs >= 1, r.counts)
    assert(r.counts.tasks >= 1, r.counts)
    assert(Profile.Phases.forall(r.phasesMs.contains), r.phasesMs)
    assert(r.executions.nonEmpty, "no query execution delivered for the write")
    // reconciliation ends in a global sort. The root Sort has no row
    // metric, and the stage under its range exchange also runs for the
    // partitioner's sample, so its operators count each row twice; the
    // records that exchange writes are the rows the root emits.
    val ops = Profile.operators(r.executions.last._2)
    val table = ops.map(_.line("reconciliation", "write")).mkString("\n")
    assert(ops.exists(_.name == "ShuffleQueryStage"), s"no query stage walked:\n$table")
    val rootRows = ops.iterator
      .flatMap(_.metrics.collectFirst { case ("shuffle_records", v) => v }).nextOption()
    assert(rootRows === Some(SparkEntry.queries("reconciliation")(spark, dir).count()), table)
  }
}
