package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** The scoring step of a linear model over hashed bag-of-features (DSIR's
  * log-ratio table, the quality classifier, the langid classes): fold a
  * bucket array against one dense weight row.
  *
  *  - plain mode sums `w(b)` over the buckets; tf mode sums `w(b) / n`,
  *    with `n` the array size — the tf dot product taken per occurrence,
  *    so no per-document vector is built;
  *  - the sum is left-associative in array order and seeded 0.0, so the
  *    result is run-stable and the SQL oracles replay it IEEE-identically;
  *    an empty array folds to 0.0 (tf mode never divides by 0).
  *
  * The rows ship to each executor once, as one broadcast per model (a
  * multiclass model's rows share it): `rows × dim × 8 B`. `dim` is an int
  * power of two, so a row stays within 8 GB, the ceiling Spark puts on a
  * broadcast join's build side. */
object WeightFold {

  def fold(w: Array[Double], bks: ArrayData, tf: Boolean): Double = {
    val n = bks.numElements()
    var s = 0.0
    var i = 0
    if (tf) {
      val d = n.toDouble
      while (i < n) { s = s + w(bks.getInt(i)) / d; i += 1 }
    } else
      while (i < n) { s = s + w(bks.getInt(i)); i += 1 }
    s
  }

  /** [[fold]] of an array<int> bucket column against row `row` of the
    * broadcast weights; null buckets give null. */
  def apply(
      buckets: Column, rows: Broadcast[Array[Array[Double]]], row: Int, tf: Boolean): Column =
    ColumnBridge.column(WeightFoldScore(ColumnBridge.expression(buckets), rows, row, tf))

  /** Fit-time counterpart of tf mode: the bucket array as a sparse tf
    * vector (bucket count / array size, buckets ascending), whose dot
    * product with a weight row is what tf mode folds. */
  def tfVectors(buckets: Column, dim: Int): Column = udf { bks: scala.collection.Seq[Int] =>
    if (bks == null || bks.isEmpty)
      Vectors.sparse(dim, Array.empty[Int], Array.empty[Double])
    else {
      val counts = scala.collection.mutable.TreeMap.empty[Int, Int]
      bks.foreach(b => counts.update(b, counts.getOrElse(b, 0) + 1))
      val n = bks.length.toDouble
      val idx = new Array[Int](counts.size); val v = new Array[Double](counts.size)
      var i = 0
      counts.foreach { case (b, c) => idx(i) = b; v(i) = c / n; i += 1 }
      Vectors.sparse(dim, idx, v)
    }
  }.apply(buckets)
}

/** [[WeightFold.fold]] as an expression; the row is read out of the
  * broadcast once per generated class or expression instance. */
case class WeightFoldScore(
    child: Expression, rows: Broadcast[Array[Array[Double]]], row: Int, tf: Boolean)
    extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "weight_fold"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<int> input")
  }
  @transient private lazy val w = rows.value(row)
  override def nullSafeEval(v: Any): Any = WeightFold.fold(w, v.asInstanceOf[ArrayData], tf)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bc = ctx.addReferenceObj("weightsBroadcast", rows)
    val w = ctx.addMutableState("double[]", "weights",
      v => s"$v = ((double[][]) $bc.value())[$row];")
    defineCodeGen(ctx, ev, a => s"graft.functions.WeightFold.fold($w, $a, $tf)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
