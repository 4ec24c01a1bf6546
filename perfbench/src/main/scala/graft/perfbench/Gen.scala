package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic generator for the benchmark's input tables.
  *
  * It writes the ten tables the program's loaders read ([[graft.Tables]]),
  * one parquet file each, with the schemas, key domains, row counts and
  * value distributions of the sf0.1 tables the program is graded on: 600k
  * lineitem rows over 1995-01-02..2001-11-04 (~240 per ship date), 5000
  * documents of which 250 are copies with a " dup" suffix, 2000 unit-norm
  * 64-d embeddings with labels independent of the vectors. The key
  * domains are the ones [[graft.ScaleUp]] strides by, so `ScaleUp.write`
  * turns this output into the sf1 tables.
  *
  * Every value is a pure function of (table, row id, column, seed) through
  * `xxhash64`, so the output does not depend on partitioning or core count.
  * The seed is fixed: the committed result fingerprints
  * (perfbench/fingerprints.json) are only valid for one data set.
  */
object Gen {
  val Seed = 42L

  /** Row counts per table; the manifest written next to the data repeats
    * them, and a run refuses data whose manifest differs.
    */
  val sf01Rows: Map[String, Long] = Map(
    "region" -> 5L, "nation" -> 25L, "customer" -> 15000L, "supplier" -> 1000L,
    "part" -> 20000L, "orders" -> 150000L, "lineitem" -> 600000L,
    "events" -> 100000L, "documents" -> 5000L, "embeddings" -> 2000L)

  private val words = Array("a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")

  /** Uniform long in [0, n) for column `k` of row `id`. */
  private def pick(id: Column, k: Int, n: Long): Column =
    pmod(xxhash64(id, lit(k), lit(Seed)), lit(n))

  /** Uniform double in [0, 1). */
  private def unit(id: Column, k: Int): Column =
    pick(id, k, 1000000007L).cast("double") / lit(1000000007.0)

  private def oneOf(id: Column, k: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (pick(id, k, xs.size.toLong) + 1).cast("int"))

  private def money(id: Column, k: Int, lo: Double, hi: Double): Column =
    round(lit(lo) + unit(id, k) * lit(hi - lo), 2)

  private def dayIn(id: Column, k: Int, from: String, days: Long): Column =
    date_add(lit(from).cast("date"), pick(id, k, days).cast("int")).cast("timestamp_ntz")

  def tables(spark: SparkSession): Seq[(String, DataFrame)] = {
    def rows(t: String) = spark.range(0, sf01Rows(t), 1, 1).toDF()
    val id = col("id")
    Seq(
      "region" -> rows("region").select(id.cast("int").as("r_regionkey"),
        element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
          (id + 1).cast("int")).as("r_name")),
      "nation" -> rows("nation").select(id.cast("int").as("n_nationkey"),
        concat(lit("NATION_"), id.cast("string")).as("n_name"),
        pmod(id, lit(5L)).cast("int").as("n_regionkey")),
      "customer" -> rows("customer").select(id.as("c_custkey"),
        format_string("Customer#%09d", id).as("c_name"),
        pick(id, 1, 25).cast("int").as("c_nationkey"),
        money(id, 2, -999.99, 9999.99).as("c_acctbal"),
        oneOf(id, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
          .as("c_mktsegment")),
      "supplier" -> rows("supplier").select(id.as("s_suppkey"),
        format_string("Supplier#%09d", id).as("s_name"),
        pick(id, 1, 25).cast("int").as("s_nationkey"),
        money(id, 2, -999.99, 9999.99).as("s_acctbal")),
      "part" -> rows("part").select(id.as("p_partkey"),
        concat_ws(" ",
          oneOf(id, 1, Seq("large", "hot", "blue", "red", "old", "cold", "green", "tiny")),
          oneOf(id, 2, Seq("ring", "bolt", "widget", "rod", "anvil", "gear", "nut", "pipe")))
          .as("p_name"),
        concat(lit("Brand#"), (pick(id, 3, 25) + 1).cast("string")).as("p_brand"),
        oneOf(id, 4, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"))
          .as("p_type"),
        (pick(id, 5, 50) + 1).cast("int").as("p_size"),
        (lit(900.0) + pmod(id, lit(1000L)).cast("double") / lit(10.0)).as("p_retailprice")),
      "orders" -> rows("orders").select(id.as("o_orderkey"),
        pick(id, 1, 15000).as("o_custkey"),
        oneOf(id, 2, Seq("F", "O", "P")).as("o_orderstatus"),
        money(id, 3, 900.0, 500000.0).as("o_totalprice"),
        dayIn(id, 4, "1995-01-01", 2404).as("o_orderdate"),
        oneOf(id, 5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
          .as("o_orderpriority")),
      "lineitem" -> rows("lineitem").select(
        pick(id, 1, 150000).as("l_orderkey"),
        pick(id, 2, 20000).as("l_partkey"),
        pick(id, 3, 1000).as("l_suppkey"),
        (pick(id, 4, 7) + 1).cast("int").as("l_linenumber"),
        (pick(id, 5, 50) + 1).cast("double").as("l_quantity"),
        money(id, 6, 900.0, 105000.0).as("l_extendedprice"),
        (pick(id, 7, 11).cast("double") / lit(100.0)).as("l_discount"),
        (pick(id, 8, 9).cast("double") / lit(100.0)).as("l_tax"),
        oneOf(id, 9, Seq("A", "N", "R")).as("l_returnflag"),
        oneOf(id, 10, Seq("F", "O")).as("l_linestatus"),
        dayIn(id, 11, "1995-01-02", 2499).as("l_shipdate")),
      "events" -> rows("events").select(id.as("event_id"),
        timestamp_micros(lit(1704067200000000L) + id * lit(25920000L)
          + pick(id, 1, 25920000L)).cast("timestamp_ntz").as("ts"),
        pick(id, 2, 1500).as("user_id"),
        oneOf(id, 3, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
        round(-log(lit(1.0) - unit(id, 4)) * lit(50.0), 2).as("value"),
        format_string("{\"k\": %d}", pick(id, 5, 100)).as("props")),
      "documents" -> documents(rows("documents")),
      "embeddings" -> rows("embeddings").select(id.as("vec_id"),
        embedding(id).as("embedding"),
        pick(id, 1, 10).cast("int").as("label")))
  }

  /** Documents in the shape of the graded tables: every document is a
    * random sequence of 10..100 tokens, then 250 of them (5%) are replaced,
    * one after another in a random order, by the current text of a random
    * document plus " dup". Most of these are exact copies of an original;
    * a few copy a document that is itself a copy (" dup dup"), or one that
    * is later replaced, so that their text has no other copy.
    */
  private def documents(ids: DataFrame): DataFrame = {
    val id = col("id")
    val n = sf01Rows("documents")
    val tokens = transform(sequence(lit(1), (pick(id, 1, 91) + 10).cast("int")),
      i => element_at(array(words.map(lit): _*),
        (pmod(xxhash64(id, i + lit(100), lit(Seed)), lit(words.length.toLong)) + 1).cast("int")))
    // `pos` is the position in the replacement order; the first 250 ids
    // of a random permutation are the copies.
    val base = ids.select(id, array_join(tokens, " ").as("orig"), pick(id, 3, n).as("src"),
        row_number().over(Window.orderBy(pick(id, 2, Long.MaxValue), id)).as("pos"))
      .withColumn("is_dup", col("pos") <= lit(n / 20))
    def prefixed(p: String) = base.select(base.columns.map(c => col(c).as(p + c)): _*)
    // s: the copied document; t: the document that one copied, if it is a
    // copy replaced earlier (chains of three copies are left out).
    val j = base.join(prefixed("s_"), col("src") === col("s_id"))
      .join(prefixed("t_"), col("s_src") === col("t_id"))
    val copyOfCopy = col("s_is_dup") && col("s_pos") < col("pos")
    val text = when(!col("is_dup"), col("orig"))
      .when(copyOfCopy, concat(col("t_orig"), lit(" dup dup")))
      .otherwise(concat(col("s_orig"), lit(" dup")))
    j.select(id.as("doc_id"), text.as("text"),
      when(unit(id, 6) < lit(0.41), lit("en"))
        .otherwise(oneOf(id, 7, Seq("de", "es", "fr", "zh"))).as("lang"),
      concat(lit("src"), pmod(id, lit(20L)).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(1).sortWithinPartitions("doc_id")
  }

  /** Unit-norm 64-d float vector of Box-Muller normals. */
  private def embedding(id: Column): Column = {
    val g = transform(sequence(lit(0), lit(63)), i =>
      sqrt(lit(-2.0) * log(lit(1.0) - pmod(xxhash64(id, i, lit(Seed)), lit(1000003L)).cast("double")
        / lit(1000003.0))) *
        cos(lit(2 * math.Pi) * pmod(xxhash64(id, i, lit(Seed + 1)), lit(1000003L)).cast("double")
          / lit(1000003.0)))
    val norm = sqrt(aggregate(g, lit(0.0), (acc, x) => acc + x * x))
    transform(g, x => (x / norm).cast("float"))
  }

  /** Writes every table under `dst` as `<name>.parquet`, then checks the
    * written row counts and records them in `dst/_ROWS`.
    */
  def write(spark: SparkSession, dst: String): Unit = {
    for ((name, df) <- tables(spark))
      df.coalesce(1).write.mode("overwrite").parquet(s"$dst/$name.parquet")
    writeManifest(spark, dst, sf01Rows)
  }

  /** The sf1 tables: [[graft.ScaleUp]] ×10 of the sf0.1 output. */
  def writeSf1(spark: SparkSession, sf01: String, dst: String): Unit = {
    graft.ScaleUp.write(spark, sf01, dst, 10)
    writeManifest(spark, dst, sf01Rows.map { case (t, n) =>
      t -> (if (t == "region" || t == "nation") n else n * 10) })
  }

  private def writeManifest(spark: SparkSession, dst: String, want: Map[String, Long]): Unit = {
    val got = want.keys.toSeq.sorted.map(t => t -> spark.read.parquet(s"$dst/$t.parquet").count())
    val bad = got.filter { case (t, n) => want(t) != n }
    require(bad.isEmpty, s"generated row counts differ from the expected ones: $bad")
    java.nio.file.Files.write(java.nio.file.Paths.get(dst, "_ROWS"),
      got.map { case (t, n) => s"$t $n" }.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
