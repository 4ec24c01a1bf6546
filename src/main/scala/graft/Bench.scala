package graft

/** Benchmark main — times every declared query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. A query that throws is recorded with its timing
  * AND an "errors" entry (a crashing query must be distinguishable from a
  * fast one — VERDICT r1 "What's wrong" #5).
  *
  * Noise protocol (BASELINE.md): this host exhibits multi-minute
  * noisy-neighbor FREEZES in which the whole JVM gets ~no CPU (verified
  * externally: during one 104 s stall of a query whose 34 preceding reps
  * took 3 s, `jcmd` could not even complete its attach handshake — the
  * process was frozen at the OS level, not stuck in a plan). The r3
  * protocol ran each query twice BACK-TO-BACK and kept the min, which a
  * multi-minute freeze swallows whole — the driver's r3 run recorded
  * 65–78 s for three sub-second queries that way. This version instead
  * runs PASSES over the full query set and keeps each query's minimum
  * ACROSS passes: consecutive samples of one query are now separated by
  * a full pass (~30 s+), so a freeze window inflates one pass's sample
  * and the cross-pass min stays a clean measurement. Every execution
  * fully materializes through the noop sink (count() lets Catalyst
  * collapse scans and drop final sorts — ADVICE r2); pass 1 additionally
  * absorbs JIT/codegen warm-up, which is why min-across-passes reflects
  * steady-state cost.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "4").toInt
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    def q(s: String): String =
      "\"" + s.flatMap {
        case '"'  => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    // Optional comma-separated name filter — local iteration and the
    // scale-up validation run (top-N subset at sf1) use it; the driver
    // never sets it, so driver benches always cover the full set.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    // Optional EXCLUDE list — the full-set-at-scale runs use it to skip
    // the handful of declared-quadratic/output-bound fixtures (each skip
    // justified by name in BASELINE.md per the no-silent-caps rule); the
    // driver never sets it either.
    val skip = sys.env.get("SPARK_GRAFT_BENCH_SKIP")
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)) && !skip(n))
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    // Task seconds, jobs, stages and tasks per sample go to stderr beside
    // the wall: task ≈ wall means per-job fixed costs pin the query, not
    // compute, so no core count can move it. They are read after the wall
    // sample, so the timed region and the stdout JSON are unchanged.
    val collector = new ProfileCollector(spark)
    for (pass <- 1 to passes; name <- names) {
      val before = collector.snapshot()
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val t = (System.nanoTime() - t0) / 1e9
        samples(name) = t :: samples(name)
        val c = collector.snapshot() - before
        // Per-sample diagnostics go to stderr so stdout carries exactly
        // one [info] line — the JSON the driver parses.
        System.err.println(f"bench pass $pass $name $t%.2f task=${c.taskMs / 1e3}%.2f " +
          s"jobs=${c.jobs} stages=${c.stages} tasks=${c.tasks}")
      } catch { case e: Throwable =>
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
      }
      // UNTIMED disk hygiene between queries: shuffle files of a
      // finished query are only deleted when ContextCleaner GCs the
      // dereferenced shuffle dependencies, so a long-lived bench JVM
      // accumulates tens of GB of dead shuffle data — at sf100 that
      // leftover plus the next query's own spill filled the disk
      // (ENOSPC during containment_stratified, r15 campaign). On a
      // cluster each executor's shuffle dirs get the same treatment
      // from the periodic-GC cleaner; a bench harness can't wait 30
      // minutes for it. The collector lets go of the finished query's
      // executions, so it pins none of its shuffle files.
      collector.snapshot()
      collector.takeExecutions()
      System.gc()
    }
    // Every pass threw → 0.0 with the errors entry carrying the cause
    // (a crashing query stays distinguishable from a fast one).
    val results = names.map(n => n -> samples(n).minOption.getOrElse(0.0))
    val errs = errors.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    def fmt(v: Double): String =
      java.lang.String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // The driver keeps only the last ~2000 chars of stdout; with 90+
    // queries a full per-query map no longer fits, and a front-truncated
    // JSON line is unparseable (BENCH_r06 recorded `parsed: null`). So:
    // the COMPLETE per-query map goes to BENCH_FULL.json in the repo, and
    // the stdout line carries the total plus as many SLOWEST-FIRST
    // queries as fit a fixed budget, with the remainder summarized by
    // count and summed seconds — always parseable, nothing lost.
    val fullQs = results.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$fullQs,"errors":$errs,"sf":${q(sfDir)},"passes":$passes}"""
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "/root/repo/BENCH_FULL.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(fullPath),
      (fullJson + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"bench full-json write failed: $e") }
    val budget = 1400
    val keptEntries = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var used = 0
    for ((k, v) <- results.sortBy { case (k, v) => (-v, k) }) {
      val entry = s"${q(k)}:${fmt(v)}"
      if (used + entry.length + 1 <= budget) { keptEntries += (k -> v); used += entry.length + 1 }
    }
    val qs = keptEntries.map { case (k, v) => s"${q(k)}:${fmt(v)}" }.mkString("{", ",", "}")
    val omitted = results.size - keptEntries.size
    val omittedSec = total - keptEntries.map(_._2).sum
    // n_errors leads the line: a nonzero count is unmissable even if a log
    // scraper truncates the (potentially long) errors map (VERDICT r7 #7).
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_errors":${errors.size},"queries":$qs,"omitted":$omitted,"omitted_sec":${fmt(omittedSec)},"errors":$errs,"sf":${q(sfDir)}}""")
    spark.stop()
  }
}
