package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.time.LocalDateTime

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** Regression guard for the `events.ts` loader: the testdata generator has
  * shipped the column as Parquet TIMESTAMP(NANOS), as timestamp[us]
  * (TIMESTAMP_NTZ), and could ship plain TIMESTAMP — `Tables.events` must
  * normalize all three to session-TZ `TimestampType` with identical
  * wall-clock values. A generator change should break THIS spec with a clear
  * message, not 15 downstream queries (round-7 postmortem).
  *
  * The nanos fixture is written as raw INT64 (Spark cannot author Parquet
  * TIMESTAMP(NANOS)); with `nanosAsLong=true` a real nanos file reads back
  * as the same `LongType` column, so the loader sees an identical input.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private val wall = LocalDateTime.of(2024, 3, 15, 10, 30, 45, 123456000)
  private val micros = 1710498645123456L // 2024-03-15T10:30:45.123456Z

  private def dir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("events: raw INT64 nanos reads as TimestampType with micro truncation") {
    val d = dir("graft-ev-nanos")
    // 789 trailing nanos must floor away, matching DuckDB's micros read.
    Seq((1L, micros * 1000 + 789, "view")).toDF("user_id", "ts", "etype")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val out = Tables.events(spark, d)
    assert(out.schema("ts").dataType === TimestampType)
    val got = out.select(col("ts").cast("string")).as[String].head()
    assert(got === "2024-03-15 10:30:45.123456")
  }

  test("events: TIMESTAMP_NTZ (timestamp[us]) reads as TimestampType, identity wall-clock") {
    val d = dir("graft-ev-ntz")
    Seq((1L, wall, "view")).toDF("user_id", "ts", "etype")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val out = Tables.events(spark, d)
    assert(out.schema("ts").dataType === TimestampType)
    val got = out.select(col("ts").cast("string")).as[String].head()
    assert(got === "2024-03-15 10:30:45.123456")
  }

  test("events: TimestampType passes through unchanged") {
    val d = dir("graft-ev-ts")
    Seq((1L, Timestamp.valueOf("2024-03-15 10:30:45.123456"), "view"))
      .toDF("user_id", "ts", "etype")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val out = Tables.events(spark, d)
    assert(out.schema("ts").dataType === TimestampType)
    val got = out.select(col("ts").cast("string")).as[String].head()
    assert(got === "2024-03-15 10:30:45.123456")
  }

  /** Spark jobs that `f` starts. */
  private def jobsOf[A](f: => A): Long = {
    val collector = new ProfileCollector(spark)
    try {
      val before = collector.snapshot()
      f
      (collector.snapshot() - before).jobs
    } finally collector.close()
  }

  test("apply: a repeat read of an unchanged table starts no Spark job") {
    val d = dir("graft-tbl-repeat")
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$d/t.parquet")
    assert(jobsOf(Tables(spark, d, "t")) >= 1L, "the first read infers the schema")
    assert(jobsOf(Tables(spark, d, "t")) === 0L)
    assert(Tables(spark, d, "t").as[(Long, String)].collect().toSeq === Seq((1L, "a")))
  }

  test("apply: a table rewritten with other columns is read with its new schema") {
    val d = dir("graft-tbl-rewrite")
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$d/t.parquet")
    assert(Tables(spark, d, "t").columns.toSeq === Seq("k", "v"))
    Seq((2L, 0.5, true)).toDF("k", "w", "x").write.mode("overwrite").parquet(s"$d/t.parquet")
    val out = Tables(spark, d, "t")
    assert(out.columns.toSeq === Seq("k", "w", "x"))
    assert(out.as[(Long, Double, Boolean)].collect().toSeq === Seq((2L, 0.5, true)))
  }

  test("apply: a second session infers the schema again") {
    val d = dir("graft-tbl-session")
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$d/t.parquet")
    Tables(spark, d, "t")
    assert(jobsOf(Tables(spark.newSession(), d, "t")) >= 1L)
  }

  test("events: loader handles the live testdata schema") {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    if (Files.exists(java.nio.file.Paths.get(s"$sfDir/events.parquet"))) {
      val out = Tables.events(spark, sfDir)
      assert(out.schema("ts").dataType === TimestampType)
      assert(out.limit(1).count() === 1L)
    }
  }
}
