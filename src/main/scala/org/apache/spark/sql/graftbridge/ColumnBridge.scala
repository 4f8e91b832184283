package org.apache.spark.sql.graftbridge

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, NamedLambdaVariable}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.types.StructType

/** Spark 4 made `Column` wrap a `ColumnNode` rather than a Catalyst
  * `Expression`; the converters live in `private[sql]` ExpressionUtils.
  * This tiny bridge (placed under the org.apache.spark.sql package so the
  * access qualifier admits it) is the only place we touch non-public API:
  * those converters, and the already-analyzed local frames the serving
  * path returns.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `c` as a Catalyst tree converted now, with no deferred column nodes
    * left in it ([[expression]] defers converting them to analysis). */
  def converted(spark: SparkSession, c: Column): Expression =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].expression(c)

  /** `rows` (Catalyst values, in `schema`'s order) as a DataFrame over a
    * local relation that is already marked analyzed: what
    * `createDataFrame(rows, schema)` gives, with no encoder pass and no
    * Analyzer run. */
  def localFrame(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame = {
    val plan = LocalRelation(DataTypeUtils.toAttributes(schema), rows)
    plan.setAnalyzed()
    Dataset.ofRows(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
  }

  /** A deep copy of `e`: every node new and each lambda variable with its
    * own value cell, so evaluating it shares no state with `e` or another
    * copy (some expressions keep per-instance buffers). */
  def ownCopy(e: Expression): Expression = {
    val cells = new java.util.IdentityHashMap[AtomicReference[Any], AtomicReference[Any]]()
    e.clone().transform { case v: NamedLambdaVariable =>
      v.copy(value = cells.computeIfAbsent(v.value, _ => new AtomicReference[Any]()))
    }
  }
}
