package org.apache.spark.sql.graftbridge

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.Analyzer
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, NamedLambdaVariable}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.execution.{LocalTableScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.types.{DataType, StructType}

/** Spark 4 made `Column` wrap a `ColumnNode` rather than a Catalyst
  * `Expression`; the converters live in `private[sql]` ExpressionUtils.
  * This tiny bridge (placed under the org.apache.spark.sql package so the
  * access qualifier admits it) is the only place we touch non-public API:
  * those converters, and the result frames the serving path returns.
  *
  * A result frame ([[resultFrame]]) is a `classic.Dataset[Row]` over a
  * `QueryExecution` subclass whose optimized and physical plans are fixed
  * when the frame is built: the analyzed `LocalRelation` itself, and the
  * `LocalTableScanExec` Spark's planner makes of it. Its encoder is an
  * `ExpressionEncoder` subclass whose `resolveAndBind` returns one copy
  * bound per [[ResultShape]]. Binding the Row deserializer is by ordinal
  * (`BoundReference`s, no attribute ids), so a copy bound for one frame
  * reads any input whose columns have the shape's types and nullability —
  * which the frame's own output always has. A plan derived from the frame
  * whose output differs (a `union` that widens a type or a nullability)
  * is bound the usual way.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `c` as a Catalyst tree converted now, with no deferred column nodes
    * left in it ([[expression]] defers converting them to analysis). */
  def converted(spark: SparkSession, c: Column): Expression =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].expression(c)

  /** The schema of one kind of result frame and its Row encoder, which
    * resolves and binds the deserializer on the first collect and hands
    * that copy to every later frame of the shape. A kind of call with a
    * fixed schema holds one as a constant: the binding it keeps is the
    * Analyzer run it saves. A shape made per call binds on its frame's
    * first collect, as any DataFrame does. */
  final class ResultShape(val schema: StructType) {
    private val attributes = DataTypeUtils.toAttributes(schema)
    private[graftbridge] val encoder: ExpressionEncoder[Row] =
      new ShapeEncoder(ExpressionEncoder(schema), attributes.map(a => (a.dataType, a.nullable)))
    /** Attributes of the shape with new expression ids: two frames of one
      * shape must not share ids, or a join of them reads as a self-join. */
    private[graftbridge] def output: Seq[Attribute] = attributes.map(_.newInstance())
  }

  /** `rows` (Catalyst values, in the shape's column order) as a DataFrame
    * equal to `createDataFrame(rows, shape.schema)`, with no encoder pass
    * or Analyzer run when it is built and no optimizer, planner or
    * Analyzer run when it is collected. A frame derived from it (`where`,
    * `join`, `count`, `.rdd`) builds and plans its own query as usual. */
  def resultFrame(spark: SparkSession, shape: ResultShape, rows: Seq[InternalRow]): DataFrame = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val relation = LocalRelation(shape.output, rows)
    relation.setAnalyzed()
    // a SparkPlan takes the active session when it is constructed
    session.withActive(new Dataset[Row](new FixedPlans(session, relation), shape.encoder))
  }

  /** `base` (a Row encoder, unresolved) binding once for input columns of
    * the given types and nullabilities, and the usual way for others. */
  private final class ShapeEncoder(base: ExpressionEncoder[Row], columns: Seq[(DataType, Boolean)])
      extends ExpressionEncoder[Row](base.encoder, base.objSerializer, base.objDeserializer) {
    @volatile private var bound: ExpressionEncoder[Row] = _
    override def resolveAndBind(attrs: Seq[Attribute], analyzer: Analyzer): ExpressionEncoder[Row] =
      if (attrs.map(a => (a.dataType, a.nullable)) != columns) super.resolveAndBind(attrs, analyzer)
      else {
        // two threads binding at once both bind; either copy serves
        if (bound == null) bound = super.resolveAndBind(attrs, analyzer)
        bound
      }
  }

  /** The plans Spark would make of an analyzed `LocalRelation`, made once
    * here rather than by the optimizer and planner on each action. */
  private final class FixedPlans(session: org.apache.spark.sql.classic.SparkSession,
      relation: LocalRelation) extends QueryExecution(session, relation) {
    private val scan = LocalTableScanExec(relation.output, relation.data, None)
    // what Spark's executedPlan marks once it has planned
    tracker.setReadyForExecution()
    override def optimizedPlan: LogicalPlan = relation
    override def sparkPlan: SparkPlan = scan
    override def executedPlan: SparkPlan = scan
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
