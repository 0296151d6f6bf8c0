package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge to the `private[sql]` Column↔Expression converters —
  * Spark 4 moved Column onto ColumnNode, so attaching a custom Catalyst
  * expression to a Column requires this in-namespace shim (same approach
  * as every third-party Spark extension library). */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Spark's own `private[sql]` error builders, for custom expressions that
  * keep a built-in's error contract. */
object SqlErrors {
  def elementAtIndex(index: Int, numElements: Int): Throwable =
    org.apache.spark.sql.errors.QueryExecutionErrors
      .invalidElementAtIndexError(index, numElements, null)
}
