package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Expression ↔ Column conversion for custom Catalyst expressions.
  *
  * Spark 4's Column API is connect-agnostic, so the classic conversion
  * lives behind `private[sql]` (`org.apache.spark.sql.classic
  * .ExpressionUtils`). This bridge re-exports the conversions from a
  * `sql` subpackage — the standard pattern for libraries that ship
  * native expressions without a session extension — plus live-session
  * function registration (`sessionState` is likewise `private[sql]`)
  * and a listener-bus drain (the bus is `private[spark]`).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A column composed of built-in functions as a plain Catalyst tree, for
    * a SQL function builder: [[expression]] leaves such a column as a
    * placeholder that only a DataFrame's own conversion expands, and a
    * builder's result never passes through one.
    */
  def sqlExpression(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)

  /** Register a function builder into an already-running classic
    * session's registry (the `spark.sql.extensions` config is consulted
    * only at session construction).
    */
  def registerFunction(spark: SparkSession, id: FunctionIdentifier,
      info: ExpressionInfo, builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(id, info, builder)

  /** Block until the listener bus has delivered every event posted so
    * far, or `timeoutMs` passes (then a `TimeoutException`).
    */
  def drainListenerBus(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
