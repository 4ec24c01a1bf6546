package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** The SQL-function surface: custom Catalyst expressions reachable from
  * `spark.sql` via both wirings (live-session registration and the
  * `spark.sql.extensions` session-construction path).
  */
class GraftExtensionsSpec extends SparkSpec {

  test("register() exposes the custom expressions to SQL") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT
        |  sorted_intersect_size(array(1L, 2L, 3L), array(2L, 3L, 4L)) AS n,
        |  cosine_similarity(
        |    array(cast(3.0 AS float), cast(4.0 AS float)),
        |    array(cast(3.0 AS float), cast(4.0 AS float))) AS c
        |""".stripMargin).head()
    assert(r.getInt(0) === 2)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
  }

  test("cosine_similarity is NULL on zero norm, length mismatch or null element") {
    GraftExtensions.register(spark)
    // The zero-denominator guard must hold where a bare division raises.
    assert(spark.conf.get("spark.sql.ansi.enabled") === "true")
    val r = spark.sql(
      """SELECT
        |  cosine_similarity(array(cast(0.0 AS float), cast(0.0 AS float)),
        |                    array(cast(1.0 AS float), cast(2.0 AS float))) AS zero_norm,
        |  cosine_similarity(array(cast(1.0 AS float), cast(2.0 AS float)),
        |                    array(cast(1.0 AS float))) AS length_mismatch,
        |  cosine_similarity(array(cast(1.0 AS float), cast(NULL AS float)),
        |                    array(cast(1.0 AS float), cast(2.0 AS float))) AS null_element
        |""".stripMargin).head()
    assert((0 until 3).forall(r.isNullAt), r)
  }

  test("cosine_similarity in SQL equals the DotProduct.cosine column bitwise") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val rnd = new scala.util.Random(20261019L)
    def vec(): Array[Float] = Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat)
    Seq.fill(400)((vec(), vec())).toDF("a", "b").createOrReplaceTempView("cos_pairs")
    val out = spark.sql("SELECT a, b, cosine_similarity(a, b) AS s FROM cos_pairs")
      .select(col("s"), graft.functions.DotProduct.cosine(col("a"), col("b")).as("c"))
    assert(out.count() === 400L)
    assert(out.where(col("s").isNull).count() === 0L)
    assert(out.where(!(col("s") <=> col("c"))).count() === 0L)
    spark.catalog.dropTempView("cos_pairs")
  }

  test("registered functions reject wrong arity at analysis time") {
    GraftExtensions.register(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT sorted_intersect_size(array(1L))").collect()
    }
    assert(e.getMessage.contains("2 arguments"))
  }

  test("withExtensions applies GraftExtensions to a fresh session at build") {
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // Reuses the shared SparkContext; only the session (and thus the
      // function registry) is new, with the extension applied at build.
      // (The equivalent `spark.sql.extensions=graft.GraftExtensions` is a
      // STATIC conf read from the SparkContext at its construction, so it
      // can't be exercised against a shared test context.)
      val s2 = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(s2 ne prev)
      val n = s2.sql("SELECT sorted_intersect_size(array(1L, 2L), array(2L, 3L)) AS n")
        .head().getInt(0)
      assert(n === 1)
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }
}
