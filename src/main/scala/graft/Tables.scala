package graft

import scala.collection.mutable
import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet testdata (TESTDATA.md).
  * One parquet file per table under `dir` (an sf directory).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** `name`'s table. Its parquet schema is inferred (one Spark job) on the
    * first read in a session and reused while the table's files — each
    * one's name, size and modification time — and the session's parquet
    * read settings stay the same; any change infers again.
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val id = identity(spark, path)
    val known = inferred.synchronized {
      Option(inferred.get(spark)).flatMap(_.get(path)).collect { case (i, s) if id.contains(i) => s }
    }
    known.fold {
      val df = spark.read.parquet(path)
      id.foreach(i => inferred.synchronized {
        inferred.computeIfAbsent(spark, _ => mutable.Map.empty).update(path, i -> df.schema)
      })
      df
    }(spark.read.schema(_).parquet(path))
  }

  private final case class Identity(files: Seq[(String, Long, Long)], conf: Seq[(String, String)])

  /** Per session: path → the identity its schema was inferred under. */
  private val inferred =
    new java.util.WeakHashMap[SparkSession, mutable.Map[String, (Identity, StructType)]]()

  /** None when the path cannot be listed; the read then reports why. */
  private def identity(spark: SparkSession, path: String): Option[Identity] = Try {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // listStatus, not listFiles: the latter also looks up block locations.
    def under(p: Path): Seq[FileStatus] =
      fs.listStatus(p).toSeq.flatMap(f => if (f.isDirectory) under(f.getPath) else Seq(f))
    val files = under(p).map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted
    val conf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }.toSeq.sorted
    Identity(files, conf)
  }.toOption

  def lineitem(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "region")
  /** `events.ts` normalized to session-TZ `TimestampType` regardless of how
    * the generator wrote it. Generators have shipped the column three ways
    * across rounds, so the loader branches on the READ schema instead of
    * assuming one encoding:
    *
    *   - Parquet TIMESTAMP(NANOS): Spark's vectorized reader rejects it
    *     unless `spark.sql.legacy.parquet.nanosAsLong=true` (set at session
    *     construction — see [[sessionDefaults]] — never mutated here, since
    *     flipping a session-global legacy flag as a loader side effect would
    *     silently turn any later nanos read into BIGINT). It then arrives as
    *     `LongType` raw nanos; floor-divide to micros — the same truncation
    *     DuckDB applies reading nanos as a microsecond TIMESTAMP, so oracle
    *     values agree exactly.
    *   - Parquet timestamp[us] (isAdjustedToUTC=false): arrives as
    *     `TimestampNTZType`; cast to `TimestampType`. The session runs in
    *     UTC, so the cast is an identity on the wall-clock value and matches
    *     DuckDB's naive-TIMESTAMP read.
    *   - `TimestampType` (isAdjustedToUTC=true): passthrough.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = apply(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        require(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "true",
          "events.ts read as BIGINT implies a nanos-timestamp file: set " +
            "spark.sql.legacy.parquet.nanosAsLong=true at session construction " +
            "(Tables.sessionDefaults) before reading events")
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other =>
        throw new IllegalStateException(s"events.ts has unsupported type $other")
    }
  }

  /** Session configs every graft entry point needs; apply at builder
    * time: `Tables.sessionDefaults.foldLeft(builder)((b, kv) =>
    * b.config(kv._1, kv._2))`. The `nanosAsLong` flag is harmless when the
    * testdata carries micro-precision timestamps (current generator) and
    * required when it carries TIMESTAMP(NANOS) (older generators).
    *
    * The two memory/partition policies came out of the r14 third-decade
    * (sf100, 50M-doc) campaign, where the dedup family's ingest died
    * with [AGGREGATE_OUT_OF_MEMORY] in the map-side partial aggregate:
    *
    *   - `storageFraction 0.1` (default 0.5): every session-scoped
    *     ingest store is a `localCheckpoint()` at MEMORY_AND_DISK, so
    *     its blocks are disk-backed and eviction is cheap — but the
    *     default protects them from eviction up to HALF the unified
    *     pool, squeezing 32 concurrent hash-aggregate tasks into
    *     ~300 MB each once a corpus-scale store is resident. 0.1 keeps
    *     the pool execution-first; evicted store blocks just read back
    *     from disk. (Cluster guidance is identical: an engine whose
    *     at-rest artifacts are disk-backed tables should not reserve
    *     storage headroom for them.)
    *   - `initialPartitionNum 512` (default = shuffle.partitions = the
    *     core count): AQE coalesces DOWN to the advisory size but never
    *     splits UP, so reduce-side partition counts were pinned at 32
    *     regardless of data volume — fine through sf10, 150M+ rows per
    *     sort/agg task at sf100. Starting every AQE shuffle at 512 lets
    *     byte-sized coalescing pick the real count: small corpora fall
    *     back to ~core-count partitions (`parallelismFirst` default),
    *     the third decade keeps hundreds. On a 1000-executor cluster
    *     this would be thousands; 16×cores is the local[32] analogue.
    */
  val sessionDefaults: Seq[(String, String)] = Seq(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.memory.storageFraction" -> "0.1",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "512")
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")
}
