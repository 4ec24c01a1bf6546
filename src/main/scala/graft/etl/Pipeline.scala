package graft.etl

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.ext.Ckpt

/** In-process orchestrator replacing the reference's Airflow DAG
  * (dags/retail_pipeline_dag.py:65-100; SURVEY.md §3.3).
  *
  * The DAG's cross-service hops (Airflow → Glue → Redshift DELETE+COPY)
  * collapse to three function calls in dependency order; idempotent daily
  * re-runs use dynamic partition overwrite instead of DELETE-by-date
  * (SURVEY.md §4.1): re-running a date replaces exactly that date's
  * partition and nothing else. The overwrite mode is set per-write (an
  * .option on the writer), not on the session, so it cannot leak into
  * unrelated writes later in the same SparkSession.
  */
object Pipeline {

  /** The warehouse tables [[run]] loads. */
  val SalesTable = "fact_daily_sales"
  val DimTable = "dim_products"
  val ReconTable = "fact_inventory_reconciliation"

  final case class Result(
      stagedSalesPath: String,
      dimProductsPath: String,
      reconciliationPath: String,
      alert: Option[Alerts.AlertReport])

  /** Runs stage-sales ∥ build-dims → reconcile → alert for one date,
    * loading through a [[ParquetWarehouseSink]] rooted at `outputRoot`.
    *
    * @param rawSales     raw POS sales rows (sku, quantity) for `date`
    * @param rawInventoryOpen  inventory snapshot rows at date-1
    * @param rawInventoryClose inventory snapshot rows at date
    * @param outputRoot   warehouse root; facts written date-partitioned
    */
  def run(
      spark: SparkSession,
      rawSales: DataFrame,
      rawInventoryOpen: DataFrame,
      rawInventoryClose: DataFrame,
      date: LocalDate,
      outputRoot: String): Result =
    run(spark, rawSales, rawInventoryOpen, rawInventoryClose, date,
      new ParquetWarehouseSink(outputRoot))

  /** As above against any [[WarehouseSink]] binding — the K3/K4 seam. */
  def run(
      spark: SparkSession,
      rawSales: DataFrame,
      rawInventoryOpen: DataFrame,
      rawInventoryClose: DataFrame,
      date: LocalDate,
      sink: WarehouseSink): Result = {
    // Job 1 — stage sales (K1/K3: overwrite exactly this date's rows).
    val staged = StageSales.stage(rawSales, date)
    sink.loadFact(staged, SalesTable, date)

    // The dim job and the reconcile share one evaluation of the closing
    // snapshot. Checkpoint, not persist(): PLANS.md trap 10.
    val close = Ckpt.ser(rawInventoryClose)

    // Dim job — full refresh (K4).
    sink.loadDim(DimProducts.build(close), DimTable)

    // Job 2 — reconcile (reads back the staged outputs like the reference
    // reads its staging zone, glue_job_2_reconcile.py:50,74).
    val openingStock = rawInventoryOpen
      .select(
        StageSales.normalizeSku(col("sku")).as("sku"),
        col("stock_on_hand").cast("long").as("opening_stock"))
    val closingStock = close
      .select(
        StageSales.normalizeSku(col("sku")).as("sku"),
        col("stock_on_hand").cast("long").as("actual_closing_stock"))
    val sales = sink.read(spark, SalesTable)
      .where(col("date_key") === date.toString)
      .select("sku", "total_quantity_sold")
    val dimRead = sink.read(spark, DimTable)

    // Dim read-back is a bounded single file (coalesce(1) above) → safe to
    // hint broadcast, matching the reference's DISTSTYLE ALL intent.
    val recon = Reconcile.reconcile(
      openingStock, closingStock, sales, dimRead, date, broadcastDim = true)
    sink.loadFact(recon, ReconTable, date)

    // Alert actions run on the written fact (read-back, not a 3rd recompute
    // of the join tree — fixes the reference's triple replay, SURVEY.md
    // §3.2), restricted to THIS run's partition: the reference alerts only
    // on the current processing date (glue_job_2_reconcile.py:118-133), and
    // the date_key filter is a partition-pruned read, not a full-fact scan.
    val alert = Alerts.build(
      sink.read(spark, ReconTable).where(col("date_key") === date.toString))
    Result(sink.location(SalesTable), sink.location(DimTable),
      sink.location(ReconTable), alert)
  }

  /** Calendar replay: the reference DAG is triggered once per
    * `processing_date` (dags/retail_pipeline_dag.py:54-61, the
    * `processing_date` Param threaded into every Glue job and Redshift
    * DELETE-by-date). A backfill is therefore a SEQUENCE of independent
    * per-date runs; because each run's fact writes overwrite exactly that
    * date's partition and the dim is a full refresh, replaying a calendar
    * is idempotent — re-running any date (or the whole range) converges to
    * the same warehouse state. `perDate` supplies the day's raw inputs
    * (sales, opening snapshot, closing snapshot); dates run in order so a
    * day's closing snapshot may feed the next day's opening.
    */
  def runCalendar(
      spark: SparkSession,
      dates: Seq[LocalDate],
      perDate: LocalDate => (DataFrame, DataFrame, DataFrame),
      sink: WarehouseSink): Seq[(LocalDate, Result)] =
    dates.map { date =>
      val (sales, open, close) = perDate(date)
      date -> run(spark, sales, open, close, date, sink)
    }
}
