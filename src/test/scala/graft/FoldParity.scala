package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Literal, UnsafeArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import org.scalatest.Assertions._

/** Inputs the hashed linear scorers' parity cases share: the weight-fold
  * kernel against the plan it replaced, the weights as one array literal
  * and `aggregate(buckets, 0.0, (acc, b) -> acc + w[b] …)`. */
object FoldParity {

  val dims: Seq[Int] = Seq(1024, 4096, 1 << 20)

  private val vocab = Seq("the", "cat", "sat", "on", "mat", "İstanbul", "STRASSE",
    "straße", "👍", "naïve", "日本語", "oov1", "x9z!", "q")

  private def longText(n: Int, seed: Long): String = {
    val r = new java.util.SplittableRandom(seed)
    Seq.fill(n)(vocab(r.nextInt(vocab.size))).mkString(" ")
  }

  val rows: Seq[(Long, String)] = Seq(
    1L -> null, 2L -> "", 3L -> "   ", 4L -> " \t\n ", 5L -> "solo", 6L -> "x",
    7L -> "İstanbul STRASSE straße 👍 the cat",
    8L -> "日本語のテキストと naïve Ünïcödé",
    9L -> "  the\tcat\nsat on\r\nthe  mat  ",
    10L -> longText(2500, 1L), 11L -> longText(2048, 2L))

  /** An RDD-backed frame keeps the kernel in a generated Project; a local
    * Seq frame is scored through the interpreted path by the optimizer's
    * constant folding. */
  def frames(spark: SparkSession): Seq[(String, DataFrame)] = {
    import spark.implicits._
    Seq("codegen" -> spark.sparkContext.parallelize(rows, 3).toDF("id", "text"),
      "interpreted" -> rows.toDF("id", "text"))
  }

  /** Seeded weights spread over seven decades, so any reassociation or
    * reordering of a long fold changes its bits. */
  def weights(dim: Int, seed: Long): Array[Double] = {
    val r = new java.util.SplittableRandom(seed)
    Array.fill(dim)(r.nextGaussian() * math.pow(10, r.nextInt(7) - 3))
  }

  /** The literal fold: Σ w[b] (or w[b] / size) left to right, seeded 0.0.
    * The literal is `typedLit(w)`'s array literal built over a primitive
    * array, so a 2^20 row ships to tasks as 8 MB, not a million boxed
    * doubles. */
  def literalFold(buckets: Column, w: Array[Double], tf: Boolean): Column = {
    val wLit = ColumnBridge.column(Literal(UnsafeArrayData.fromPrimitiveArray(w),
      ArrayType(DoubleType, containsNull = false)))
    aggregate(buckets, lit(0.0), (acc, b) =>
      acc + (if (tf) element_at(wLit, b + 1) / size(buckets) else element_at(wLit, b + 1)))
  }

  /** Raw bits of a double column, null as None. */
  def bits(df: DataFrame, col: String): Map[Long, Option[Long]] =
    df.select(df.columns.head, col).collect().map { r =>
      r.getLong(0) -> (if (r.isNullAt(1)) None
        else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(1))))
    }.toMap

  /** The plan runs the kernel on the path the frame names, with no
    * exchange and no join. */
  def assertKernelPlan(df: DataFrame, path: String): Unit = {
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Join"), s"$path plan: $p")
    if (path == "codegen") assert(p.contains("weight_fold"), s"no kernel in $p")
    else assert(p.contains("LocalTableScan"), s"not constant-folded: $p")
  }
}
