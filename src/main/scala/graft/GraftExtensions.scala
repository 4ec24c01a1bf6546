package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.Bridge

import graft.functions.{DotProduct, SortedIntersectSize}

/** `SparkSessionExtensions` injection point: makes graft's custom
  * Catalyst expressions (and the cosine composed of them) available as
  * SQL functions, so
  * `spark.sql("SELECT cosine_similarity(a, b) ...")` works the same as
  * the Column API.
  *
  * Two equivalent wirings, same descriptor list:
  *   - config: `spark.sql.extensions=graft.GraftExtensions` at session
  *     build (or `.withExtensions(new GraftExtensions)`) — the standard
  *     library-extension path, applied to every new session and cloned
  *     into child sessions;
  *   - [[GraftExtensions.register]]: imperative registration into an
  *     ALREADY-RUNNING session's function registry (the extensions
  *     config is only consulted at session construction).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.descriptors.foreach(ext.injectFunction)
}

object GraftExtensions {
  /** (identifier, catalog info, builder) — the `injectFunction` shape. */
  type Descriptor = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def binary(name: String, usage: String)(
      build: (Expression, Expression) => Expression): Descriptor = (
    FunctionIdentifier(name),
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, ""),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 2, s"$name expects 2 arguments, got ${exprs.length}")
      build(exprs.head, exprs(1))
    })

  val descriptors: Seq[Descriptor] = Seq(
    binary("cosine_similarity",
      "cosine_similarity(array<float>, array<float>) - dot(a, b) / " +
        "(‖a‖·‖b‖) over the codegen'd dot_product kernel; NULL on a zero " +
        "norm, a length mismatch or a null element")(
      (a, b) => Bridge.sqlExpression(
        DotProduct.cosine(Bridge.column(a), Bridge.column(b)))),
    binary("sorted_intersect_size",
      "sorted_intersect_size(array, array) - |A ∩ B| of two sorted " +
        "duplicate-free arrays via a codegen'd two-pointer merge")(
      SortedIntersectSize(_, _)))

  /** Register all graft functions into a live session's registry. */
  def register(spark: SparkSession): Unit =
    descriptors.foreach { case (id, info, builder) =>
      Bridge.registerFunction(spark, id, info, builder)
    }
}
