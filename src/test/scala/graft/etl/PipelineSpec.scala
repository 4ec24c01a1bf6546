package graft.etl

import java.nio.file.Files
import java.time.LocalDate

import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** Pipeline — the in-process orchestrator (DAG replacement, SURVEY §3.3):
  * end-to-end run, idempotent re-run, partition isolation across dates.
  */
object PipelineSpec {
  /** Task bomb for the failure-injection tests: when armed, any task
    * evaluating a wired frame throws mid-write. Local mode shares the
    * JVM, so a @volatile static flag reaches every task; the filter UDF
    * is TEST instrumentation only (the engine itself stays UDF-free).
    */
  @volatile var bombArmed: Boolean = false

  def wired(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val bomb = org.apache.spark.sql.functions.udf { (sku: String) =>
      if (bombArmed) throw new RuntimeException(s"injected failure at $sku")
      true
    }.asNondeterministic() // keep Catalyst from constant-folding it away
    df.where(bomb(org.apache.spark.sql.functions.col("sku")))
  }
}

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val d1 = LocalDate.parse("2024-01-02")
  private val d2 = LocalDate.parse("2024-01-03")

  private def sales = Seq(("a1", "3"), ("a1", "2"), ("b2", "4")).toDF("sku", "quantity")
  private def invOpen = Seq(("a1", 10, "apple", "f"), ("b2", 8, "beet", "v"))
    .toDF("sku", "stock_on_hand", "product_name", "category")
  private def invClose = Seq(("a1", 5, "apple", "f"), ("b2", 5, "beet", "v"))
    .toDF("sku", "stock_on_hand", "product_name", "category")

  test("end-to-end run writes all three outputs and alerts on discrepancies") {
    val root = Files.createTempDirectory("graft-pipe").toString
    val res = Pipeline.run(spark, sales, invOpen, invClose, d1, root)
    assert(spark.read.parquet(res.stagedSalesPath).count() === 2)
    assert(spark.read.parquet(res.dimProductsPath).count() === 2)
    val recon = spark.read.parquet(res.reconciliationPath)
    assert(recon.count() === 2)
    // a1: open 10, sold 5, expected 5, actual 5 → ok; b2: 8-4=4 vs 5 → 1
    val alert = res.alert.get
    assert(alert.count === 1)
    assert(alert.examples.head.contains("SKU: B2"))
  }

  test("one run evaluates the closing snapshot once (dim and reconcile share it)") {
    // The dim job and the reconcile both read the closing snapshot; each
    // row must be evaluated once per run, not once per consumer.
    val evals = spark.sparkContext.longAccumulator("invClose rows")
    val counted = org.apache.spark.sql.functions.udf { (_: String) =>
      evals.add(1L); true
    }.asNondeterministic()
    val root = Files.createTempDirectory("graft-pipe-once").toString
    val res = Pipeline.run(spark, sales, invOpen, invClose.where(counted(col("sku"))), d1, root)
    assert(evals.value === 2L)
    assert(spark.read.parquet(res.dimProductsPath).count() === 2)
    assert(res.alert.get.count === 1)
  }

  test("warehouse read contract: pinned read schemas equal what parquet infers") {
    // ParquetWarehouseSink reads Pipeline's tables with pinned schemas; they
    // must equal the schema the written files infer, nullability included.
    val root = Files.createTempDirectory("graft-pipe-schema").toString
    val sink = new ParquetWarehouseSink(root)
    Pipeline.run(spark, sales, invOpen, invClose, d1, sink)
    val tables = Seq(Pipeline.SalesTable, Pipeline.DimTable, Pipeline.ReconTable)
    assert(ParquetWarehouseSink.readSchemas.keySet === tables.toSet)
    for (t <- tables) {
      val pinned = sink.read(spark, t)
      val inferred = spark.read.parquet(sink.location(t))
      assert(pinned.schema === inferred.schema, t)
      assert(pinned.exceptAll(inferred).isEmpty && inferred.exceptAll(pinned).isEmpty, t)
    }
  }

  test("re-running the same date is idempotent (dynamic partition overwrite)") {
    val root = Files.createTempDirectory("graft-pipe").toString
    Pipeline.run(spark, sales, invOpen, invClose, d1, root)
    val res2 = Pipeline.run(spark, sales, invOpen, invClose, d1, root)
    assert(spark.read.parquet(res2.stagedSalesPath).count() === 2)
    assert(spark.read.parquet(res2.reconciliationPath).count() === 2)
  }

  test("run accepts an explicit WarehouseSink binding (K3/K4 seam)") {
    val root = Files.createTempDirectory("graft-pipe").toString
    val sink: WarehouseSink = new ParquetWarehouseSink(root)
    val res = Pipeline.run(spark, sales, invOpen, invClose, d1, sink)
    assert(res.stagedSalesPath === sink.location("fact_daily_sales"))
    assert(sink.read(spark, "dim_products").count() === 2)
    // loadDim contract: a second load is a full refresh, not an append.
    sink.loadDim(invOpen.limit(1).select("sku", "product_name", "category"),
      "dim_products")
    assert(sink.read(spark, "dim_products").count() === 1)
  }

  test("JDBC sink: DELETE+COPY idempotency and TRUNCATE+COPY refresh through real SQL") {
    val dbDir = Files.createTempDirectory("graft-derby").toString
    val sink: WarehouseSink = new JdbcWarehouseSink(s"jdbc:derby:$dbDir/wh;create=true")
    val res = Pipeline.run(spark, sales, invOpen, invClose, d1, sink)
    assert(sink.read(spark, "fact_daily_sales").count() === 2)
    assert(res.alert.get.count === 1)
    // Idempotent re-run: DELETE-by-date drops the prior rows before COPY.
    Pipeline.run(spark, sales, invOpen, invClose, d1, sink)
    assert(sink.read(spark, "fact_daily_sales").count() === 2)
    assert(sink.read(spark, "fact_inventory_reconciliation").count() === 2)
    // A second date loads beside the first, untouched.
    Pipeline.run(spark, sales.limit(1), invOpen, invClose, d2, sink)
    val recon = sink.read(spark, "fact_inventory_reconciliation")
    assert(recon.where(col("date_key") === d1.toString).count() === 2)
    assert(recon.where(col("date_key") === d2.toString).count() === 2)
    // Dim full refresh: TRUNCATE + COPY leaves exactly the new rows.
    sink.loadDim(invOpen.limit(1).select("sku", "product_name", "category"),
      "dim_products")
    assert(sink.read(spark, "dim_products").count() === 1)
  }

  test("JDBC sink survives NULL strings (sku absent from the dim)") {
    // Regression pin for the r15 VARCHAR/CLOB crash: a sku that was in
    // stock yesterday but vanished from today's snapshot (sold out /
    // delisted) survives the full-outer join with a NULL product_name —
    // the dim is built from the CLOSING snapshot, which no longer has
    // it. Spark's stock Derby dialect setNull'd that string as CLOB
    // against the portable VARCHAR column (Derby ERROR 22005). The
    // fixture-scale JDBC test above never produced such a row, so the
    // bug shipped green for ten rounds; this case keeps one in.
    val dbDir = Files.createTempDirectory("graft-derby-null").toString
    val sink = new JdbcWarehouseSink(s"jdbc:derby:$dbDir/wh;create=true")
    val openPlusDelisted = invOpen.union(
      Seq(("zz9", 7, "zombie", "x")).toDF("sku", "stock_on_hand", "product_name", "category"))
    Pipeline.run(spark, sales, openPlusDelisted, invClose, d1, sink)
    val recon = sink.read(spark, "fact_inventory_reconciliation")
    val orphan = recon.where(col("sku") === "ZZ9").collect()
    assert(orphan.length === 1)
    assert(orphan.head.isNullAt(orphan.head.fieldIndex("product_name")))
  }

  test("JDBC sink maps double columns portably (DOUBLE PRECISION DDL)") {
    val dbDir = Files.createTempDirectory("graft-derby-dbl").toString
    val sink = new JdbcWarehouseSink(s"jdbc:derby:$dbDir/wh;create=true")
    val dim = Seq(("a1", 0.25), ("b2", 1.5)).toDF("sku", "weight")
    sink.loadDim(dim, "dim_weights")
    val back = sink.read(spark, "dim_weights").orderBy("sku").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    assert(back.toSeq === Seq(("a1", 0.25), ("b2", 1.5)))
  }

  test("a second date adds its partition without touching the first") {
    val root = Files.createTempDirectory("graft-pipe").toString
    Pipeline.run(spark, sales, invOpen, invClose, d1, root)
    Pipeline.run(spark, sales.limit(1), invOpen, invClose, d2, root)
    val recon = spark.read.parquet(s"$root/fact_inventory_reconciliation")
    assert(recon.where(col("date_key") === d1.toString).count() === 2)
    assert(recon.where(col("date_key") === d2.toString).count() === 2)
  }

  test("mid-write failure leaves the parquet warehouse intact; re-run converges") {
    // VERDICT r9 ask #6: the idempotency contract under REAL failure,
    // not just double-run. A task bomb detonates inside the fact-write
    // job of a second day-1 run carrying CHANGED input; dynamic
    // partition overwrite must leave the ORIGINAL day-1 partition
    // untouched (the staging dir dies with the aborted job), and the
    // disarmed re-run must converge to the new content.
    val root = Files.createTempDirectory("graft-pipe-fail").toString
    Pipeline.run(spark, sales, invOpen, invClose, d1, root)
    val before = spark.read.parquet(s"$root/fact_daily_sales")
      .orderBy("sku").collect().map(_.toString).toSeq

    val newSales = Seq(("a1", "7"), ("b2", "1")).toDF("sku", "quantity")
    PipelineSpec.bombArmed = true
    try intercept[Exception] {
      Pipeline.run(spark, PipelineSpec.wired(newSales), invOpen, invClose, d1, root)
    } finally PipelineSpec.bombArmed = false
    // Aborted overwrite: day 1 still holds the ORIGINAL rows — no
    // partial/empty partition, no leftover staging files visible.
    val after = spark.read.parquet(s"$root/fact_daily_sales")
      .orderBy("sku").collect().map(_.toString).toSeq
    assert(after === before, "failed overwrite corrupted the live partition")

    // Disarmed re-run converges to the new day-1 content.
    Pipeline.run(spark, PipelineSpec.wired(newSales), invOpen, invClose, d1, root)
    val got = spark.read.parquet(s"$root/fact_daily_sales")
      .select("sku", "total_quantity_sold").as[(String, Long)]
      .collect().toSet
    assert(got === Set(("A1", 7L), ("B2", 1L)))
  }

  test("failed JDBC COPY converges on re-run (DELETE clears partial loads)") {
    // The documented non-transactional DELETE+COPY window
    // (dags/retail_pipeline_dag.py:19-41 semantics): a COPY that dies
    // mid-stream may leave the date partially loaded; the contract is
    // that the next (idempotent) run's DELETE-by-date clears whatever
    // landed and the table converges exactly.
    val dbDir = Files.createTempDirectory("graft-derby-fail").toString
    val sink: WarehouseSink = new JdbcWarehouseSink(s"jdbc:derby:$dbDir/wh;create=true")
    Pipeline.run(spark, sales, invOpen, invClose, d1, sink)
    assert(sink.read(spark, "fact_daily_sales").count() === 2)

    val newSales = Seq(("a1", "9"), ("b2", "2")).toDF("sku", "quantity")
    PipelineSpec.bombArmed = true
    try intercept[Exception] {
      Pipeline.run(spark, PipelineSpec.wired(newSales), invOpen, invClose, d1, sink)
    } finally PipelineSpec.bombArmed = false
    // Whatever partial state the failed COPY left (the DELETE already
    // ran, so 0..n new rows), the disarmed re-run must converge.
    Pipeline.run(spark, PipelineSpec.wired(newSales), invOpen, invClose, d1, sink)
    val got = sink.read(spark, "fact_daily_sales")
      .select("sku", "total_quantity_sold").as[(String, Long)]
      .collect().toSet
    assert(got === Set(("A1", 9L), ("B2", 2L)))
  }

  test("calendar replay equals the equivalent single-day runs (DAG backfill)") {
    val d3 = LocalDate.parse("2024-01-04")
    val dates = Seq(d1, d2, d3)
    // Day-varying inputs: each day sells one fewer unit of a1.
    def dailySales(d: LocalDate) = {
      val sold = (5 - dates.indexOf(d)).toString
      Seq(("a1", sold), ("b2", "4")).toDF("sku", "quantity")
    }
    val perDate = (d: LocalDate) => (dailySales(d), invOpen, invClose)

    val calRoot = Files.createTempDirectory("graft-pipe-cal").toString
    val results = Pipeline.runCalendar(
      spark, dates, perDate, new ParquetWarehouseSink(calRoot))
    assert(results.map(_._1) === dates)

    val seqRoot = Files.createTempDirectory("graft-pipe-seq").toString
    dates.foreach { d =>
      val (s, o, c) = perDate(d)
      Pipeline.run(spark, s, o, c, d, seqRoot)
    }

    // Warehouse states converge table-by-table.
    for (t <- Seq("fact_daily_sales", "fact_inventory_reconciliation", "dim_products")) {
      val a = spark.read.parquet(s"$calRoot/$t")
      val b = spark.read.parquet(s"$seqRoot/$t")
      assert(a.count() === b.count(), s"$t row count")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, s"$t content")
    }
    // Replaying the middle date converges back to the same state.
    val (s2, o2, c2) = perDate(d2)
    Pipeline.run(spark, s2, o2, c2, d2, calRoot)
    val recon = spark.read.parquet(s"$calRoot/fact_inventory_reconciliation")
    assert(recon.count() ===
      spark.read.parquet(s"$seqRoot/fact_inventory_reconciliation").count())
  }
}
