package graft.etl

import java.sql.{Connection, DriverManager}
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types._

import graft.schemas.Schemas

/** Warehouse load contract — the typed seam for the reference's Redshift
  * loads (dags/retail_pipeline_dag.py:19-41: DELETE-by-date + COPY for
  * facts, TRUNCATE + COPY for dims; sql/create_redshift_tables.sql:4-38).
  *
  * The pipeline depends only on this trait, so a JDBC/warehouse binding
  * (DELETE+COPY in a transaction) can replace the Parquet one without
  * touching job logic. The contract every binding must honor:
  *  - [[loadFact]] is IDEMPOTENT per (table, date): re-running a date
  *    replaces exactly that date's rows and nothing else.
  *  - [[loadDim]] is a full refresh: the table afterwards contains
  *    exactly `df`'s rows.
  */
trait WarehouseSink {

  /** Where `table` lives, for read-back and reporting. */
  def location(table: String): String

  /** Idempotent daily fact load: replace exactly `date`'s rows. The frame
    * must carry a `date_key` column equal to `date`.
    */
  def loadFact(df: DataFrame, table: String, date: LocalDate): Unit

  /** Full-refresh dimension load (TRUNCATE + COPY analogue). */
  def loadDim(df: DataFrame, table: String): Unit

  /** Read a loaded table back. */
  def read(spark: SparkSession, table: String): DataFrame
}

/** Parquet binding: date-partitioned layout with dynamic partition
  * overwrite as the DELETE-by-date+COPY analogue (SURVEY.md §4.1). The
  * overwrite mode is a per-write option, never session state.
  */
final class ParquetWarehouseSink(root: String) extends WarehouseSink {

  override def location(table: String): String = s"$root/$table"

  override def loadFact(df: DataFrame, table: String, date: LocalDate): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("date_key").parquet(location(table))

  /** Small by construction; single file kept deliberately (reference's
    * coalesce(1), glue_job_create_dims.py:56) — acceptable for dims only,
    * never for facts (SURVEY.md §7.5).
    */
  override def loadDim(df: DataFrame, table: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(location(table))

  /** Tables of known layout read with their pinned schema, which starts
    * no schema-inference job (SURVEY.md §7.4); other tables infer.
    */
  override def read(spark: SparkSession, table: String): DataFrame =
    ParquetWarehouseSink.readSchemas.get(table)
      .fold(spark.read)(spark.read.schema(_))
      .parquet(location(table))
}

object ParquetWarehouseSink {

  /** What `spark.read.parquet` infers for each table [[Pipeline.run]]
    * writes: every column nullable, the `date_key` partition column last.
    */
  private[etl] val readSchemas: Map[String, StructType] = Map(
    Pipeline.SalesTable -> asRead(Schemas.stagedSales, "date_key"),
    Pipeline.DimTable -> asRead(Schemas.dimProducts),
    Pipeline.ReconTable -> asRead(Schemas.reconciliation, "date_key"))

  private def asRead(written: StructType, partitionCols: String*): StructType = {
    val (parts, data) = written.fields.partition(f => partitionCols.contains(f.name))
    StructType((data ++ parts).map(_.copy(nullable = true)))
  }
}

/** JDBC binding: the reference's ACTUAL warehouse-load semantics
  * (dags/retail_pipeline_dag.py:20-42) over any JDBC database — facts
  * load as DELETE-by-date then COPY (bulk append), dims as TRUNCATE then
  * COPY, exactly the DAG's SQL pairs. Tested against embedded Derby
  * (on the Spark classpath); a Redshift/Postgres URL drops in unchanged.
  *
  * Tables are created on first load with explicit portable DDL (VARCHAR,
  * not the Derby dialect's CLOB default — mirroring
  * sql/create_redshift_tables.sql:4-38's typed columns) so warehouse-side
  * predicates and joins work on every column.
  *
  * Scale notes: the DELETE runs once on the driver (pruned by the
  * warehouse's date_key sort/dist key, per the reference DDL); the COPY
  * is Spark's distributed JDBC append — each partition writes its own
  * batch, which is the reference's parallel S3 COPY analogue. Like the
  * reference's DELETE-then-COPY pair, the two steps are not one
  * transaction: a failed COPY leaves the date partially loaded until the
  * (idempotent) re-run — the standard warehouse pattern; a
  * staging-table + transactional swap binding would slot behind the same
  * trait if stronger atomicity were needed.
  */
/** @param props optional JDBC connection properties (user/password,
  *   driver options) threaded through BOTH the driver-side statements
  *   and Spark's distributed read/write — so a warehouse needing
  *   credentials works without embedding them in the URL string.
  *   Defensively copied: later caller mutation cannot change the sink.
  */
final class JdbcWarehouseSink(url: String,
    props: java.util.Properties = new java.util.Properties) extends WarehouseSink {

  // The writer dialect must agree with ensureTable's DDL BEFORE the first
  // distributed append: Spark's stock Derby dialect maps StringType→CLOB,
  // so its setNull(Types.CLOB) dies with Derby ERROR 22005 against the
  // portable VARCHAR column on the first NULL string — a row shape the
  // flagship reconcile legitimately produces (SKU absent from the dim).
  JdbcWarehouseSink.claimUrl(url)

  private val connProps: java.util.Properties = {
    val p = new java.util.Properties()
    p.putAll(props)
    p
  }

  override def location(table: String): String = s"$url#$table"

  private def withConn[A](f: Connection => A): A = {
    val c = DriverManager.getConnection(url, connProps)
    try f(c) finally c.close()
  }

  /** DDL column type — literally the registered writer dialect's mapping
    * (see the companion), so the CREATE TABLE and the distributed append
    * can never disagree on a column's SQL type again.
    */
  private def sqlType(dt: DataType): String =
    JdbcWarehouseSink.portableType(dt).databaseTypeDefinition

  /** Existence via JDBC metadata, not by catching a vendor-specific
    * duplicate-table SQLState (Derby says X0Y32, PostgreSQL/Redshift
    * 42P07, …) — the steady-state second load must take the
    * already-exists path on EVERY backend. Case-insensitive compare:
    * case-folding databases store the unquoted table name folded.
    * Scoped to the connection's CURRENT schema: a same-named table in
    * another schema/catalog must not satisfy the check while the
    * subsequent DELETE/TRUNCATE/INSERT resolve against the default
    * schema where it does not exist. (Drivers predating
    * Connection.getSchema fall back to the unscoped listing.)
    */
  private def tableExists(c: Connection, table: String): Boolean = {
    val schemaPattern =
      try Option(c.getSchema).filter(_.nonEmpty).orNull
      catch { case _: java.sql.SQLException | _: AbstractMethodError => null }
    val rs = c.getMetaData.getTables(null, schemaPattern, null, Array("TABLE"))
    try {
      var found = false
      while (!found && rs.next())
        found = table.equalsIgnoreCase(rs.getString("TABLE_NAME"))
      found
    } finally rs.close()
  }

  private def ensureTable(df: DataFrame, table: String): Unit = {
    // Column identifiers are QUOTED so the warehouse stores the frame's
    // exact (lowercase) names — unquoted DDL would be uppercased by
    // case-folding databases (Derby/Oracle style) and read back as a
    // DIFFERENT schema than was written; Spark's JDBC writer quotes its
    // INSERT column lists, so quoting here keeps the two consistent.
    val cols = df.schema.fields
      .map(f => s""""${f.name}" ${sqlType(f.dataType)}""").mkString(", ")
    withConn { c =>
      if (!tableExists(c, table))
        c.createStatement().executeUpdate(s"CREATE TABLE $table ($cols)")
    }
  }

  /** DELETE-by-date + COPY (dags/retail_pipeline_dag.py:20,35):
    * re-running a date replaces exactly that date's rows.
    */
  /** Cumulative [[loadFact]] phase seconds (delete, append) across the
    * sink's lifetime — diagnostic surface for the scale recordings
    * (PipelineScale snapshots it around each run; VERDICT r16 ask #5
    * adjudicates where an idempotent replay's extra cost lives).
    */
  @volatile private[graft] var factPhaseTotals: (Double, Double) = (0.0, 0.0)

  override def loadFact(df: DataFrame, table: String, date: LocalDate): Unit = {
    ensureTable(df, table)
    val t0 = System.nanoTime()
    withConn { c =>
      val del = c.prepareStatement(s"""DELETE FROM $table WHERE "date_key" = ?""")
      del.setDate(1, java.sql.Date.valueOf(date))
      del.executeUpdate()
    }
    val t1 = System.nanoTime()
    df.write.mode(SaveMode.Append).jdbc(url, table, connProps)
    val t2 = System.nanoTime()
    synchronized {
      factPhaseTotals = (factPhaseTotals._1 + (t1 - t0) / 1e9,
        factPhaseTotals._2 + (t2 - t1) / 1e9)
    }
  }

  /** TRUNCATE + COPY (dags/retail_pipeline_dag.py:28-33): the table
    * afterwards holds exactly `df`'s rows.
    */
  override def loadDim(df: DataFrame, table: String): Unit = {
    ensureTable(df, table)
    withConn(_.createStatement().executeUpdate(s"TRUNCATE TABLE $table"))
    df.write.mode(SaveMode.Append).jdbc(url, table, connProps)
  }

  override def read(spark: SparkSession, table: String): DataFrame =
    spark.read.jdbc(url, table, connProps)
}

/** Registers the writer-side dialect that keeps `df.write.jdbc` aligned
  * with [[JdbcWarehouseSink]]'s portable DDL. Scoped strictly to URLs a
  * sink instance has claimed — other JDBC traffic in the session keeps
  * its stock dialect. Because [[org.apache.spark.sql.jdbc.JdbcDialects]]
  * PREPENDS registrations and aggregates multiple matches with
  * first-`Some`-wins `getJDBCType`, this overrides ONLY the type mapping
  * below (StringType→VARCHAR over Derby's CLOB default — CLOBs cannot be
  * compared, grouped, or `setNull`'d into a VARCHAR column). Caveat
  * (ADVICE r16): Spark's AggregatedDialect composes just
  * getCatalystType/getJDBCType — on a claimed URL, NON-type dialect
  * behaviors (identifier quoting, truncate SQL, error classification)
  * fall back to the `JdbcDialect` BASE defaults, not the backend
  * dialect's overrides. Harmless for this sink (it issues its own
  * DDL/DELETE/TRUNCATE and quotes its own identifiers, and the base
  * defaults are the portable forms); a deployment that needs a
  * backend's custom truncate/quoting on the SAME url should load via an
  * unclaimed url or extend PortableDialect to delegate those methods.
  */
object JdbcWarehouseSink {
  import org.apache.spark.sql.jdbc.{JdbcDialect, JdbcDialects, JdbcType}

  /** Reference-DDL-shaped portable column types
    * (sql/create_redshift_tables.sql:4-38's typed columns; DOUBLE
    * PRECISION because bare DOUBLE is not a PostgreSQL/Redshift type,
    * while every major warehouse and Derby accept the SQL-standard
    * spelling). Single source of truth for BOTH the CREATE TABLE DDL and
    * the writer's parameter binding.
    */
  private[etl] def portableType(dt: DataType): JdbcType = dt match {
    case StringType => JdbcType("VARCHAR(255)", java.sql.Types.VARCHAR)
    case IntegerType => JdbcType("INT", java.sql.Types.INTEGER)
    case LongType => JdbcType("BIGINT", java.sql.Types.BIGINT)
    case DoubleType => JdbcType("DOUBLE PRECISION", java.sql.Types.DOUBLE)
    case FloatType => JdbcType("REAL", java.sql.Types.FLOAT)
    case BooleanType => JdbcType("BOOLEAN", java.sql.Types.BOOLEAN)
    case DateType => JdbcType("DATE", java.sql.Types.DATE)
    case TimestampType => JdbcType("TIMESTAMP", java.sql.Types.TIMESTAMP)
    case d: DecimalType =>
      JdbcType(s"DECIMAL(${d.precision},${d.scale})", java.sql.Types.DECIMAL)
    case other => throw new IllegalArgumentException(
      s"no warehouse mapping for column type $other")
  }

  private val claimedUrls =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Not an `object`: plain Scala objects lack `readResolve`, and the
    * resolved dialect instance is serialized into the executor-side
    * write tasks.
    */
  private final class PortableDialect extends JdbcDialect {
    override def canHandle(url: String): Boolean = claimedUrls.contains(url)
    override def getJDBCType(dt: DataType): Option[JdbcType] = dt match {
      case StringType => Some(portableType(StringType))
      case _ => None // defer to the backend dialect / common mapping
    }
  }

  // Registered once per JVM, before any sink write can resolve a dialect.
  JdbcDialects.registerDialect(new PortableDialect)

  private[etl] def claimUrl(url: String): Unit = claimedUrls.add(url)
}
