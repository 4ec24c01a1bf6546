package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.collection.mutable
import scala.util.Random

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{ExtQueries, SparkEntry, Tables}
import graft.etl.{ParquetWarehouseSink, Pipeline, RetailMapping}
import Fingerprint.mapper

/** The benchmark's JVM side; perfbench/run.py builds it, prepares the
  * data and the per-run directories, and calls it.
  *
  *   run --workload W --seed N --seconds S --trace 0|1 --cores C
  *       --data DIR --tmp DIR --fingerprints FILE --out TRACE.json [--record]
  *   gen --data DIR                   sf0.1 tables from [[Gen]]
  *   gen-sf1 --src DIR --data DIR     sf1 tables (ScaleUp ×10 of --src)
  *   selftest --data DIR --tmp DIR --fingerprints FILE
  *
  * `run` prints one JSON object as its last stdout line: end-to-end
  * metrics with `--trace 0`, per-layer metrics with `--trace 1`.
  */
object Main {

  final case class Opts(kv: Map[String, String], flags: Set[String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
  }

  private def parse(args: Seq[String]): Opts = {
    val kv = mutable.Map.empty[String, String]
    val flags = mutable.Set.empty[String]
    var rest = args.toList
    while (rest.nonEmpty) rest match {
      case k :: v :: t if k.startsWith("--") && !v.startsWith("--") => kv(k.drop(2)) = v; rest = t
      case k :: t if k.startsWith("--") => flags += k.drop(2); rest = t
      case x :: _ => sys.error(s"unexpected argument $x")
      case Nil =>
    }
    Opts(kv.toMap, flags.toSet)
  }

  def session(cores: Int, tmp: String, conf: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$tmp/spark-warehouse")
    val s = (Tables.sessionDefaults ++ conf).foldLeft(b)((b, kv) => b.config(kv._1, kv._2))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val mode = args.headOption.getOrElse("")
    val o = parse(args.toSeq.drop(1))
    mode match {
      case "run" => run(o, t0)
      case "gen" =>
        val s = session(o.int("cores"), o("tmp")); Gen.write(s, o("data")); s.stop()
      case "gen-sf1" =>
        val s = session(o.int("cores"), o("tmp")); Gen.writeSf1(s, o("src"), o("data")); s.stop()
      case "selftest" => selftest(o)
      case other => sys.error(s"unknown mode '$other'")
    }
  }

  // ------------------------------------------------------------ workloads

  /** Dedup and ANN families at the graded scale; see perfbench/README.md
    * for why these queries and not all 25 of the corpus families.
    */
  val CorpusQueries: Seq[String] = Seq(
    "near_dup_minhash", "containment_near_dup", "source_overlap", "dedup_incremental",
    "probe_near_dups", "dedup_exact", "dup_groups", "near_dup_retain", "semantic_dedup",
    "knn_join", "hard_negatives", "kmeans_assign", "ann_topk")

  /** The pair-heavy subset run at 10× data with on-disk stores. */
  val Sf1Queries: Seq[String] = Seq(
    "near_dup_minhash", "containment_near_dup", "source_overlap", "dedup_incremental",
    "probe_near_dups", "ngram_jaccard", "semantic_dedup", "knn_join", "hard_negatives",
    "embedding_near_dup", "semdedup_ingest_replay")

  /** Consecutive processing dates per daily_etl pass. */
  val DaysPerPass = 8
  /** Untimed days that warm the JIT, the parquet reader and the writer.
    * Day time falls from ~10 s to ~2.3 s over the first five days, and
    * another ~10% over the next five.
    */
  val WarmupDays = 6

  /** One closed-loop client: each operation starts when the previous one
    * has finished. An operation is one query execution or one day's DAG.
    */
  abstract class Workload(val tracer: Tracer) {
    var attempted = 0
    var failed = 0
    /** Everything before the first timed operation (stores, warm-up). */
    def setup(): Unit
    /** One pass; returns the wall seconds of each operation. */
    def pass(n: Int): Seq[Double]
    /** Untimed checks after the measurement. */
    def finish(): Unit = ()
    /** Workload-specific per-layer metrics over the traced window. */
    def layerMetrics(traced: Seq[Span], units: Int): Seq[(String, Double, String)]
    /** Number of work units (passes or days) per pass, for per-layer rates. */
    def unitsPerPass: Int

    protected def timed(name: String)(f: => Unit): Double = {
      attempted += 1
      val t = System.nanoTime()
      try tracer.span(name, newOp = true)(f)
      catch { case e: Exception =>
        failed += 1; System.err.println(s"perfbench: $name failed: $e")
      }
      val sec = (System.nanoTime() - t) / 1e9
      System.err.println(f"perfbench: $name $sec%.3f s")
      sec
    }

    protected def check(what: String, ok: Boolean): Unit = {
      attempted += 1
      if (!ok) { failed += 1; System.err.println(s"perfbench: check failed: $what") }
    }
  }

  final class QueryWorkload(spark: SparkSession, tracer: Tracer, dir: String,
      queries: Seq[String], seed: Long, expected: Map[String, String],
      recorded: mutable.Map[String, String], storeDir: Option[String]) extends Workload(tracer) {

    private val coldS = mutable.Map.empty[String, Double]
    private val builtStores = mutable.Map.empty[String, Int]
    private val timedS = mutable.Map.empty[String, List[Double]].withDefaultValue(Nil)
    var storeMb = 0.0

    private def order(n: Int) = new Random(seed * 1000003L + n).shuffle(queries)

    def setup(): Unit = {
      for (q <- order(0)) {
        val stores = ExtQueries.storeCache.size()
        val t = System.nanoTime()
        var fp = ""
        try tracer.span(s"warmup:$q", newOp = true) {
          fp = Fingerprint.of(SparkEntry.queries(q)(spark, dir))
        } catch { case e: Exception => System.err.println(s"perfbench: warm-up $q failed: $e") }
        coldS(q) = (System.nanoTime() - t) / 1e9
        System.err.println(f"perfbench: warm-up $q ${coldS(q)}%.3f s")
        builtStores(q) = ExtQueries.storeCache.size() - stores
        recorded(q) = fp
        check(s"fingerprint of $q: got '$fp', committed '${expected.getOrElse(q, "")}'",
          fp.nonEmpty && expected.get(q).contains(fp))
      }
      val rddBytes = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
      storeMb = (rddBytes + storeDir.map(d => Disk.du(d)).getOrElse(0L)) / 1e6
    }

    def pass(n: Int): Seq[Double] = order(n).map { q =>
      val s = timed(s"query:$q") {
        val df = tracer.span("build")(SparkEntry.queries(q)(spark, dir))
        tracer.span("run")(df.write.format("noop").mode("overwrite").save())
      }
      timedS(q) = s :: timedS(q)
      s
    }

    def unitsPerPass: Int = 1

    def layerMetrics(traced: Seq[Span], passes: Int): Seq[(String, Double, String)] = {
      val med = queries.map(q => q -> median(timedS(q))).toMap
      val storeBuildS = queries.filter(q => builtStores.getOrElse(q, 0) > 0)
        .map(q => math.max(0.0, coldS(q) - med(q))).sum
      Seq(("store.builds", builtStores.values.sum.toDouble, "count"),
        ("store.build_s", storeBuildS, "s"),
        ("store.mb", storeMb, "MB"),
        ("store.write_mb", storeDir.map(d => Disk.du(d) / 1e6).getOrElse(0.0), "MB")) ++
        queries.sorted.map(q => (s"q.${q}_s", med(q), "s"))
    }
  }

  final class DailyEtl(spark: SparkSession, tracer: Tracer, dir: String, seed: Long,
      root: String) extends Workload(tracer) {
    private val plain = new ParquetWarehouseSink(root)
    private val sink = new TracedSink(plain, tracer)
    /** The seed picks the first processing date; dates then run in order. */
    private val start = LocalDate.parse("1995-02-01").plusDays(math.floorMod(seed, 2000L))
    private var next = 0
    private val daysRun = mutable.ArrayBuffer.empty[LocalDate]
    private val files = mutable.Map.empty[LocalDate, Long]

    private val productCols = Tables.part(spark, dir).select(
      RetailMapping.skuCol(col("p_partkey")).as("sku"),
      col("p_name").as("product_name"),
      col("p_type").as("category"))

    /** Raw inputs of one date, as graft.PipelineScale draws them: the day's
      * sales rows and per-sku snapshots at d-1 and d, the closing one
      * carrying the product attributes the dim job refreshes from.
      */
    private def perDate(d: LocalDate) = (
      RetailMapping.rawSales(spark, dir, d),
      RetailMapping.snapshot(spark, dir, d.minusDays(1), "stock_on_hand"),
      RetailMapping.snapshot(spark, dir, d, "stock_on_hand").join(productCols, Seq("sku"), "left"))

    private def day(): Double = {
      val d = start.plusDays(next); next += 1
      daysRun += d
      val s = timed(s"day:$d") {
        val inputs = tracer.span("build")(perDate(d))
        tracer.span("pipeline")(Pipeline.runCalendar(spark, Seq(d), _ => inputs, sink))
      }
      // Untimed: each day's staged quantity equals the day's raw quantity.
      val staged = plain.read(spark, "fact_daily_sales").where(col("date_key") === d.toString)
        .agg(sum("total_quantity_sold")).head().get(0)
      val raw = RetailMapping.rawSales(spark, dir, d).agg(sum("quantity")).head().get(0)
      check(s"staged quantity of $d: $staged vs raw $raw", staged != null && staged == raw)
      if (tracer.enabled) files(d) = dayFiles(d)
      s
    }

    private def dayFiles(d: LocalDate): Long =
      Seq("fact_daily_sales", "fact_inventory_reconciliation").map(t =>
        Option(new File(s"$root/$t/date_key=$d").listFiles()).map(_.count(_.getName.startsWith("part-"))).getOrElse(0)).sum +
        Option(new File(s"$root/dim_products").listFiles()).map(_.count(_.getName.startsWith("part-"))).getOrElse(0)

    def setup(): Unit = (1 to WarmupDays).foreach(_ => day())

    def pass(n: Int): Seq[Double] = (1 to DaysPerPass).map(_ => day())

    def unitsPerPass: Int = DaysPerPass

    /** Replays a mid-window date: dynamic partition overwrite must leave
      * every fact table's row count unchanged.
      */
    override def finish(): Unit = {
      def rows() = Seq("fact_daily_sales", "fact_inventory_reconciliation")
        .map(t => plain.read(spark, t).count())
      val before = rows()
      val d = daysRun(daysRun.size / 2)
      val (sales, open, close) = perDate(d)
      Pipeline.run(spark, sales, open, close, d, plain)
      val after = rows()
      check(s"replay of $d: fact rows $before then $after", before == after)
    }

    def layerMetrics(traced: Seq[Span], days: Int): Seq[(String, Double, String)] = {
      def sumS(p: Span => Boolean) = traced.filter(p).map(_.us).sum / 1e6 / days
      val sinkS = sumS(_.name.startsWith("sink."))
      val pipelineS = sumS(_.name == "pipeline")
      Seq(("etl.load_fact_s", sumS(_.name.startsWith("sink.loadFact")), "s"),
        ("etl.load_dim_s", sumS(_.name.startsWith("sink.loadDim")), "s"),
        ("etl.alert_s", pipelineS - sinkS, "s"),
        ("etl.write_mb", traced.map(_.counts.getOrElse("write_b", 0L)).sum / 1e6 / days, "MB"),
        ("etl.files", files.values.sum.toDouble / files.size.max(1), "count"))
    }
  }

  // ---------------------------------------------------------------- run

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  private def run(o: Opts, t0: Long): Unit = {
    val workload = o("workload")
    val seed = o("seed").toLong
    val seconds = o.int("seconds")
    val trace = o.int("trace") == 1
    val cores = o.int("cores")
    val tmp = o("tmp")
    val dir = o("data")
    val sf = if (workload == "llm_corpus_sf1") "sf1" else "sf0.1"
    val storeDir = if (workload == "llm_corpus_sf1") Some(s"$tmp/stores") else None
    val spark = session(cores, tmp, storeDir.map("spark.graft.storeDir" -> _).toMap)
    val tracer = new Tracer(spark, trace)
    tracer.attach(true)
    val expected = Fingerprint.load(o("fingerprints"), sf)
    val recorded = mutable.LinkedHashMap.empty[String, String]
    val w: Workload = workload match {
      case "llm_corpus" =>
        new QueryWorkload(spark, tracer, dir, CorpusQueries, seed, expected, recorded, None)
      case "llm_corpus_sf1" =>
        new QueryWorkload(spark, tracer, dir, Sf1Queries, seed, expected, recorded, storeDir)
      case "daily_etl" => new DailyEtl(spark, tracer, dir, seed, s"$tmp/warehouse")
      case other => sys.error(s"unknown workload '$other'")
    }
    tracer.span("setup")(w.setup())
    val setupS = (System.nanoTime() - t0) / 1e9

    /** Whole passes until `secs` have elapsed, at least one;
      * (Σ op walls, op walls) per pass. The untimed output checks between
      * operations are in neither.
      */
    var n = 1
    def measure(secs: Double): Seq[(Double, Seq[Double])] = {
      val m0 = System.nanoTime()
      val out = mutable.ArrayBuffer.empty[(Double, Seq[Double])]
      while (out.isEmpty || (System.nanoTime() - m0) / 1e9 < secs) {
        val ops = tracer.span(s"pass $n")(w.pass(n))
        out += ((ops.sum, ops)); n += 1
      }
      out.toSeq
    }

    val metrics: Seq[(String, Double, String)] = if (!trace) {
      val passes = measure(seconds)
      val ops = passes.flatMap(_._2)
      System.err.println(f"perfbench: ${ops.size} ops in ${passes.size} passes; op p50 " +
        f"${median(ops)}%.3f s, max ${ops.max}%.3f s; VmHWM ${vmHwmMb()}%.0f MB")
      Seq(("setup_s", setupS, "s"),
        ("pass_s", median(passes.map(_._1)), "s"),
        ("op_p50_s", median(ops), "s"))
    } else {
      // Untraced, traced, untraced, each a third of `seconds` and at least
      // one pass: the overhead ratio compares the traced pass with the
      // untraced ones on either side of it, so JIT warm-up over the run
      // does not favour either side.
      tracer.attach(false)
      val before = measure(seconds / 3.0)
      tracer.attach(true)
      val from = tracer.nowUs
      val traced = measure(seconds / 3.0)
      tracer.attach(false)
      val untraced = before ++ measure(seconds / 3.0)
      val window = tracer.spans.filter(_.startUs >= from).toSeq
      val opSpans = window.filter(_.counts.nonEmpty)
      val units = traced.size * w.unitsPerPass
      def c(n: String): Double = opSpans.map(_.counts.getOrElse(n, 0L)).sum.toDouble
      val wallS = opSpans.map(_.us).sum / 1e6
      val perPass = median(traced.map(_._1)); val perPassUntraced = median(untraced.map(_._1))
      Seq(
        ("decl.build_s", window.filter(_.name == "build").map(_.us).sum / 1e6 / units, "s"),
        ("plan.analysis_s", c("analysis_ms") / 1e3 / units, "s"),
        ("plan.optimize_s", c("optimize_ms") / 1e3 / units, "s"),
        ("plan.physical_s", c("physical_ms") / 1e3 / units, "s"),
        ("exec.jobs", c("jobs") / units, "count"),
        ("exec.stages", c("stages") / units, "count"),
        ("exec.tasks", c("tasks") / units, "count"),
        ("exec.task_s", c("task_ms") / 1e3 / units, "s"),
        ("exec.cpu_s", c("cpu_ns") / 1e9 / units, "s"),
        ("exec.gc_s", c("gc_ms") / 1e3 / units, "s"),
        ("exec.launch_wait_s", c("launch_wait_ms") / 1e3 / units, "s"),
        ("exec.task_retries", c("task_retries") / units, "count"),
        ("exec.parallel_eff", c("task_ms") / 1e3 / (wallS * cores), "ratio"),
        ("exec.peak_mem_mb", opSpans.map(_.counts.getOrElse("peak_mem_b", 0L)).maxOption.getOrElse(0L) / 1e6, "MB"),
        ("shuffle.write_mb", c("shuffle_write_b") / 1e6 / units, "MB"),
        ("shuffle.read_mb", c("shuffle_read_b") / 1e6 / units, "MB"),
        ("shuffle.fetch_wait_s", c("fetch_wait_ms") / 1e3 / units, "s"),
        ("spill.disk_mb", c("spill_disk_b") / 1e6 / units, "MB"),
        ("spill.mem_mb", c("spill_mem_b") / 1e6 / units, "MB"),
        ("scan.mb", c("scan_b") / 1e6 / units, "MB"),
        ("scan.rows", c("scan_rows") / units, "count"),
        ("trace.overhead", perPass / perPassUntraced, "ratio")) ++
        w.layerMetrics(window, units) ++
        Seq(("trace.pass_s", perPass, "s"), ("trace.untraced_pass_s", perPassUntraced, "s"))
    }
    w.finish()
    if (o.flags("record")) Fingerprint.store(o("fingerprints"), sf, recorded.toMap)
    if (trace) writeTrace(o("out"), workload, seed, cores, setupS, tracer.spans.toSeq, metrics)
    spark.stop()
    val result = mapper.createObjectNode()
      .put("correct", w.failed == 0).put("attempted", w.attempted).put("failed", w.failed)
    result.set[ObjectNode]("metrics", metricsNode(metrics))
    println(mapper.writeValueAsString(result))
  }

  private def metricsNode(metrics: Seq[(String, Double, String)]): ObjectNode = {
    val node = mapper.createObjectNode()
    for ((n, v, u) <- metrics) {
      val m = node.putObject(n)
      if (v.isNaN || v.isInfinite) m.putNull("value") else m.put("value", v)
      m.put("unit", u)
    }
    node
  }

  private def writeTrace(path: String, workload: String, seed: Long, cores: Int, setupS: Double,
      spans: Seq[Span], metrics: Seq[(String, Double, String)]): Unit = {
    val root = mapper.createObjectNode()
      .put("workload", workload).put("seed", seed).put("cores", cores).put("setup_s", setupS)
    root.set[ObjectNode]("metrics", metricsNode(metrics))
    val arr = root.putArray("spans")
    for (s <- spans.sortBy(_.startUs)) {
      val o = arr.addObject().put("id", s.id).put("parent", s.parent).put("op", s.op)
        .put("name", s.name).put("start_us", s.startUs).put("end_us", s.endUs)
      val counts = o.putObject("counts")
      s.counts.toSeq.sorted.foreach { case (k, v) => counts.put(k, v) }
    }
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(path), root)
  }

  /** The same query's fingerprint at local[4] and local[1] must agree,
    * and match the committed one.
    */
  private def selftest(o: Opts): Unit = {
    val q = "near_dup_minhash"
    val expected = Fingerprint.load(o("fingerprints"), "sf0.1").get(q)
    val fps = Seq(4, 1).map { cores =>
      val s = session(cores, o("tmp"))
      val fp = Fingerprint.of(SparkEntry.queries(q)(s, o("data")))
      s.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      System.err.println(s"perfbench selftest: $q at local[$cores] = $fp")
      fp
    }
    val ok = fps.distinct.size == 1 && expected.contains(fps.head)
    println(mapper.writeValueAsString(mapper.createObjectNode().put("selftest", q)
      .put("local4", fps(0)).put("local1", fps(1)).put("committed", expected.getOrElse(""))
      .put("ok", ok)))
    if (!ok) sys.exit(1)
  }
}

object Disk {
  /** Bytes of all files under `dir` (0 when it does not exist). */
  def du(dir: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L) else f.length()
    walk(new File(dir))
  }
}
