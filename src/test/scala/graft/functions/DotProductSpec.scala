package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ext.{Similarity, TextOps}

/** Pins graft's one cosine, [[DotProduct.cosine]] over [[DotProduct.norm]]
  * norms, BITWISE against an independent reference: Spark's own
  * higher-order-function formulation with the same zero-denominator
  * guard. The declared ANN family's oracle hashes depend on the cosine
  * being exactly the oracle's scalar sequence (index-order double dot,
  * sqrt·sqrt, one division), and the routing sites compare floored
  * cosines, so one ulp could move an argmax.
  */
class DotProductSpec extends SparkSpec {
  import spark.implicits._
  import DotProductSpec.hofCosine

  /** The sf0.001 fixture's embeddings (TESTDATA.md). */
  private def embeddings = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")

  private def cosDot = DotProduct.cosine(col("a"), col("b"))
  private def cosHof = hofCosine("a", "b")

  test("DotProduct.cosine equals the HOF cosine bitwise on random vectors") {
    val rnd = new scala.util.Random(20260818L)
    def vec(n: Int): Array[Float] =
      Array.fill(n)((rnd.nextDouble() * 2 - 1).toFloat *
        math.pow(10, rnd.nextInt(7) - 3).toFloat)
    val rows = Seq.tabulate(400) { i =>
      val n = 1 + rnd.nextInt(64)
      (i.toLong, vec(n), vec(n))
    }
    val df = rows.toDF("id", "a", "b")
      .select(col("id"), cosDot.as("dot"), cosHof.as("hof"))
    // NaN-safe exact equality on the raw doubles — not trunc6: the
    // pinned property is bitwise, stronger than the 6dp the oracle
    // compares at.
    assert(df.where(col("dot").isNull).count() === 0L)
    assert(df.where(!(col("dot") <=> col("hof"))).count() === 0L)
  }

  test("DotProduct.cosine null semantics match the HOF cosine") {
    val z = Array(0.0f, 0.0f, 0.0f)
    val u = Array(1.0f, 2.0f, -3.0f)
    val short = Array(1.0f, 2.0f)
    val rows = Seq(
      (1L, u, z),      // zero norm → null
      (2L, z, z),      // both zero → null
      (3L, u, short),  // length mismatch → null
      (4L, u, u))      // sanity: defined, ≈ 1.0 (trunc6 may land on
                       // 0.999999 when sqrt(na)·sqrt(nb) rounds above
                       // na — identically in both formulations)
    val out = rows.toDF("id", "a", "b")
      .select(col("id"), cosDot.as("dot"), cosHof.as("hof"),
        TextOps.trunc6(cosDot).as("d6"))
      .orderBy("id").collect()
    for (r <- out)
      assert(r.get(1) === r.get(2), s"row ${r.getLong(0)}")
    assert(out.take(3).forall(_.isNullAt(1)))
    assert(!out(3).isNullAt(1) && out(3).getDouble(3) >= 0.999999)
  }

  test("null element in either array yields null in both formulations") {
    // Array literals with a null slot need the expression route.
    val df = spark.sql(
      """SELECT array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)) AS a,
        |       array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)) AS b""".stripMargin)
    val r = df.select(cosDot.as("dot"), cosHof.as("hof")).collect()
    assert(r(0).isNullAt(0) && r(0).isNullAt(1))
    val swapped = df.select(col("b").as("a"), col("a").as("b"))
      .select(cosDot.as("dot"), cosHof.as("hof")).collect()
    assert(swapped(0).isNullAt(0) && swapped(0).isNullAt(1))
  }

  /** The routing reference: per vector, the cell of the highest
    * trunc6 HOF cosine, smaller cell first on ties.
    */
  private def hofArgmax(vectors: DataFrame, centroids: DataFrame) = {
    val scored = vectors.crossJoin(centroids.select(col("cell"), col("centroid")))
      .select(col("vec_id"), col("cell"),
        TextOps.trunc6(hofCosine("embedding", "centroid")).as("cos"))
    assert(scored.where(col("cos").isNull).count() === 0L)
    scored
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("cos").desc, col("cell"))))
      .where(col("rn") === 1)
      .select(col("vec_id"), col("cell"), col("cos"))
  }

  test("assignCells routes every vector to its HOF-cosine argmax cell") {
    val e = embeddings
    val cent = Similarity.trainedCentroids(e,
      Similarity.kmeansCellsByOccupancy(e, occupancy = 20)).localCheckpoint()
    val got = Similarity.assignCells(e, cent)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val want = hofArgmax(e, cent)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(cent.count() > 1L)
    assert(got.size === e.count())
    assert(got === want)
  }

  test("kmeansAssign's new_label and cos equal the HOF-cosine argmax") {
    val e = embeddings
    // The label centroids, through the public trained-centroid builder
    // (the same aggregation kmeansAssign runs over the label column).
    val cent = Similarity.trainedCentroids(e, e.select(col("vec_id"), col("label").as("cell")))
    val got = Similarity.kmeansAssign(e)
      .collect().map(r => (r.getLong(0), (r.getInt(2), r.getDouble(3)))).toMap
    val want = hofArgmax(e, cent)
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getDouble(2)))).toMap
    assert(got.size === e.count())
    assert(got === want)
  }
}

object DotProductSpec {
  /** Spark's higher-order-function cosine of array columns `a` and `b`:
    * index-order double sums, sqrt·sqrt denominator, NULL when it is zero
    * (the guard keeps ANSI mode from raising DIVIDE_BY_ZERO). Null
    * elements and length mismatches propagate NULL through `aggregate`.
    */
  def hofCosine(a: String, b: String): Column = {
    def sq(v: String) =
      s"sqrt(aggregate($v, cast(0 AS double), (acc, x) -> acc + cast(x AS double) * cast(x AS double)))"
    val den = s"(${sq(a)} * ${sq(b)})"
    expr(
      s"""CASE WHEN $den = 0 THEN CAST(NULL AS double) ELSE
         |aggregate(zip_with($a, $b, (x, y) -> cast(x AS double) * cast(y AS double)),
         |  cast(0 AS double), (acc, v) -> acc + v) / $den END""".stripMargin)
  }
}
