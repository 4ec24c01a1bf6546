package graft

import org.apache.spark.sql.SparkSession

/** SPILL-REGIME correctness evidence (VERDICT r9 "Next round" #4): sf0.1
  * never pressures memory, so the spill branch of every hash-aggregate /
  * sort / shuffle in the heavy queries was an untested code path. This
  * main runs the dedup pair family + corpus_manifest + the sort-heavy
  * quantile/top-k shapes TWICE in one JVM:
  *
  *   1. a plain session — baseline result fingerprints;
  *   2. a fresh session (prior context stopped) with
  *      `spark.shuffle.spill.numElementsForceSpillThreshold` forced to
  *      2000, `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`
  *      at 2, and `spark.memory.fraction` at 0.2 — every external
  *      sorter/appender and object-hash aggregate is forced through its
  *      spill/fallback branch regardless of actual memory pressure (the
  *      deterministic way to exercise the regime on a small heap);
  *
  * then asserts (a) the per-query result fingerprints are IDENTICAL and
  * (b) the spill run actually spilled (task-metrics memory+disk spill
  * bytes > 0 — guards against the conf silently not applying). Exit 1 on
  * any divergence. Run: sbt "runMain graft.SpillCheck [sfDir]".
  */
object SpillCheck {
  private val targets = Seq(
    "near_dup_minhash", "containment_near_dup", "containment_stratified",
    "dup_groups", "near_dup_retain", "ngram_jaccard", "dedup_incremental",
    "corpus_manifest", "order_quantiles", "q18_large_orders", "top_offenders")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    /** Order-insensitive exact fingerprint: md5 over the newline-joined
      * SORTED raw row strings (each row rendered column-sorted, null as
      * \\u0000, columns joined by \\u0001).
      */
    def fingerprint(spark: SparkSession, name: String): String = {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val cols = df.columns.sorted
      val rows = df.select(cols.head, cols.tail: _*).collect()
        .map(r => (0 until r.length).map(i =>
          if (r.isNullAt(i)) "\u0000" else r.get(i).toString).mkString("\u0001"))
        .sorted
      java.security.MessageDigest.getInstance("MD5")
        .digest(rows.mkString("\n").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    }

    val plain = Session.local(8)
    val base = targets.map(n => n -> fingerprint(plain, n)).toMap
    plain.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()

    // The forced-spill thresholds are core settings, read once when a
    // context starts, so they go in as spark.* system properties, which
    // the next context's SparkConf loads.
    sys.props("spark.shuffle.spill.numElementsForceSpillThreshold") = "2000"
    sys.props("spark.memory.fraction") = "0.2"
    val spilly = Session.local(8)
    spilly.conf.set("spark.sql.shuffle.partitions", 4)
    spilly.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", 2)
    val collector = new ProfileCollector(spilly)
    val under = targets.map(n => n -> fingerprint(spilly, n)).toMap
    val ExecCounts(_, _, _, _, memSpilled, diskSpilled) = collector.snapshot()
    val diverged = targets.filter(n => base(n) != under(n))
    println(s"""{"check":"spill","queries":${targets.length},"diverged":${diverged.length},"mem_spilled_bytes":$memSpilled,"disk_spilled_bytes":$diskSpilled,"diverged_names":${diverged.mkString("[\"", "\",\"", "\"]").replace("[\"\"]", "[]")}}""")
    spilly.stop()
    if (diverged.nonEmpty) {
      System.err.println(s"DIVERGED under spill: $diverged")
      sys.exit(1)
    }
    if (memSpilled == 0 && diskSpilled == 0) {
      System.err.println("force-spill confs did not trigger any spill — evidence void")
      sys.exit(1)
    }
  }
}
