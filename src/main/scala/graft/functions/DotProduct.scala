package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{lit, sqrt, when}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native dot product over two `array<float>` columns — graft's one
  * vector kernel. Every cosine in the tree is [[DotProduct.cosine]]:
  * `DotProduct(a, b) / (‖a‖ · ‖b‖)` with `‖v‖ = sqrt(DotProduct(v, v))`
  * ([[DotProduct.norm]]), so a norm can be computed ONCE PER VECTOR and
  * carried beside it instead of being re-accumulated for every pair —
  * in a cell-scoped pair join (Σ|cell|² pairs) the pair loop then does
  * one accumulation instead of three.
  *
  * Accumulation is in double, element order is index order — matching
  * the DuckDB oracle formulation `list_sum(list_transform(range(...),
  * i -> a[i]::DOUBLE * b[i]::DOUBLE))` so results compare bit-for-bit.
  * Null input, a length mismatch, or a null element yield null.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "dot_product"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0d
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    dot
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0d;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $dot += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $dot; }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** Column-API entry point: `DotProduct(col("a"), col("b"))`. */
  def apply(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))

  /** Euclidean norm `sqrt(DotProduct(v, v))`: null where `v` is null or
    * holds a null element.
    */
  def norm(v: Column): Column = sqrt(DotProduct(v, v))

  /** Cosine similarity of `a` and `b` over their norms `na` and `nb`
    * (each [[norm]] of its vector, computed wherever it is cheapest):
    * `DotProduct(a, b) / (na * nb)`, null when `na * nb` is zero (no ANSI
    * `DIVIDE_BY_ZERO`), when the lengths differ or when an element is
    * null (the dot is null).
    */
  def cosine(a: Column, na: Column, b: Column, nb: Column): Column = {
    val denom = na * nb
    when(denom === 0d, lit(null).cast("double")).otherwise(DotProduct(a, b) / denom)
  }

  /** [[cosine]] with both norms computed inline, for one-shot scores. */
  def cosine(a: Column, b: Column): Column = cosine(a, norm(a), b, norm(b))
}
