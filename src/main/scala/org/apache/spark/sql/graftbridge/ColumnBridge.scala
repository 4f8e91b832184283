package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 made `Column` wrap a `ColumnNode` rather than a Catalyst
  * `Expression`; the converters live in `private[sql]` ExpressionUtils.
  * This tiny bridge (placed under the org.apache.spark.sql package so the
  * access qualifier admits it) is the only place we touch non-public API.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
