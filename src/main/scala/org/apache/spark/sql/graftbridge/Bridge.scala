package org.apache.spark.sql.graftbridge

import org.apache.spark.{SparkContext, SparkEnv}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Bridge into the `private[sql]` Column↔Expression converters — the
  * supported way for a library to wrap custom Catalyst Expressions as
  * user-facing Columns in Spark 4 (the classic Column ctor went private
  * with the sql-api split). */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  /** Lazy wrapper (converted when the Column enters a Dataset plan). */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  /** Eager conversion to a real Catalyst expression tree — required when
    * the expression is consumed outside Dataset plan construction (e.g.
    * FunctionRegistry builders, where the analyzer won't descend into a
    * lazy ColumnNodeExpression wrapper). */
  def resolvedExpression(c: Column): Expression =
    ColumnNodeToExpressionConverter(c.node)

  /** The driver's per-context scratch dir (`private[spark]`), which
    * `SparkEnv.stop` deletes recursively. */
  def driverTmpDir: String = SparkEnv.get.driverTmpDir.getOrElse(
    throw new IllegalStateException("no driver temp dir: not on the driver"))

  /** Block until every posted listener event was delivered (the listener
    * bus is `private[spark]`): counts a listener took are complete after. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
