package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** Gram fingerprint → count table of one LM order: open addressing with
  * linear probing over two primitive arrays (KenLM's probing-table shape).
  * Counts are ≥ 1, so a zero count marks an empty slot and [[apply]]
  * returns 0 for an absent key. Load factor ≤ 2/3. */
final class GramCounts private (keys: Array[Long], counts: Array[Long])
    extends Serializable {
  private val mask = keys.length - 1

  def apply(key: Long): Long = {
    var i = slot(key)
    while (counts(i) != 0L && keys(i) != key) i = (i + 1) & mask
    counts(i)
  }

  private def slot(key: Long): Int = (key ^ (key >>> 32)).toInt & mask

  private def put(key: Long, count: Long): Unit = {
    var i = slot(key)
    while (counts(i) != 0L && keys(i) != key) i = (i + 1) & mask
    keys(i) = key
    counts(i) = count
  }
}

object GramCounts {
  /** Table over (distinct key, count ≥ 1) pairs. */
  def build(keys: Array[Long], counts: Array[Long]): GramCounts = {
    val n = keys.length
    val cap = Integer.highestOneBit(math.max(2, n + n / 2) * 2 - 1)
    val t = new GramCounts(new Array[Long](cap), new Array[Long](cap))
    var i = 0
    while (i < n) { t.put(keys(i), counts(i)); i += 1 }
    t
  }
}

/** A fitted Stupid-Backoff n-gram LM in scoring form: one [[GramCounts]]
  * per order (`tables(k - 1)` holds the k-grams) plus the add-α unigram
  * denominator `t + α·v` and `ln λ`, both computed on the driver. */
final class NgramLm(
    val tables: Array[GramCounts], val lnLambda: Double,
    val alpha: Double, val unigramDenom: Double) extends Serializable {
  def order: Int = tables.length
}

/** Per-document scoring of a tokenized document under an [[NgramLm]] —
  * the kernel behind `Corpus.ngramLmStats`. It reproduces the join plan's
  * doubles bit for bit:
  *
  *  - a k-gram key is XXH64 (seed 42, Spark's `xxhash64`) over the UTF-8
  *    bytes of its tokens joined by " " — a contiguous range of one
  *    per-document buffer, so no gram string is built; a gram's history
  *    is the (k−1)-gram ending one position earlier, whose key the
  *    previous position already hashed;
  *  - the longest order with a count wins; order 1 is the add-α unigram
  *    ln((c + α) / (t + α·v)), order k ≥ 2 is ln(c_k / c_history) plus
  *    (min(pos, order) − k)·ln λ; a gram hit whose history misses (only
  *    possible through a 64-bit key collision) nulls the document's ppl;
  *  - `StrictMath.log`/`exp` (Spark's `log`/`exp`) in the plan's
  *    operation order, and the per-document sum is the blocked fold:
  *    positions add left to right inside 1024-position blocks, block sums
  *    add in block order, every fold seeded 0.0.
  *
  * Output: struct(n_tokens, ppl); null or empty token arrays give
  * (0, null). */
object NgramLmKernel {

  final val Seed = 42L
  final val FoldBlockSize = 1024

  val resultType: StructType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("ppl", DoubleType, nullable = true)))

  def score(lm: NgramLm, toks: ArrayData): InternalRow = {
    val n = if (toks == null) 0 else toks.numElements()
    if (n == 0) return new GenericInternalRow(Array[Any](0L, null))
    val start = new Array[Int](n + 1)
    var i = 0
    while (i < n) { start(i + 1) = start(i) + toks.getUTF8String(i).numBytes + 1; i += 1 }
    val buf = new Array[Byte](start(n))
    i = 0
    while (i < n) {
      toks.getUTF8String(i).writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + start(i))
      buf(start(i + 1) - 1) = ' '
      i += 1
    }
    val order = lm.order
    // key(k) = fingerprint of the k-gram ending at the current position;
    // hist(k) = the same at the previous position
    var key = new Array[Long](order + 1)
    var hist = new Array[Long](order + 1)
    var docSum = 0.0
    var blockSum = 0.0
    var valid = true
    var p = 0
    while (p < n) {
      val kMax = math.min(p + 1, order)
      val end = start(p + 1) - 1
      var k = 1
      while (k <= kMax) {
        val from = start(p - k + 1)
        key(k) = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET + from, end - from, Seed)
        k += 1
      }
      k = kMax
      var c = 0L
      while (k >= 2 && { c = lm.tables(k - 1)(key(k)); c == 0L }) k -= 1
      val lnp =
        if (k == 1) StrictMath.log((lm.tables(0)(key(1)).toDouble + lm.alpha) / lm.unigramDenom)
        else {
          val h = lm.tables(k - 2)(hist(k - 1))
          if (h == 0L) { valid = false; 0.0 }
          else StrictMath.log(c.toDouble / h.toDouble)
        }
      blockSum = blockSum + ((kMax - k).toDouble * lm.lnLambda + lnp)
      p += 1
      if (p % FoldBlockSize == 0 || p == n) { docSum = docSum + blockSum; blockSum = 0.0 }
      val t = hist; hist = key; key = t
    }
    new GenericInternalRow(Array[Any](n.toLong,
      if (valid) StrictMath.exp(-docSum / n.toDouble) else null))
  }
}

/** [[NgramLmKernel.score]] over an array<string> token column, the LM
  * shipped once per executor as a broadcast variable. */
case class NgramLmScore(child: Expression, lm: Broadcast[NgramLm])
    extends UnaryExpression {
  override def dataType: DataType = NgramLmKernel.resultType
  override def nullable: Boolean = false
  override def prettyName: String = "ngram_lm_score"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<string> input")
  }
  @transient private lazy val model = lm.value
  override def eval(input: InternalRow): Any =
    NgramLmKernel.score(model, child.eval(input).asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bc = ctx.addReferenceObj("lmBroadcast", lm)
    val m = ctx.addMutableState(classOf[NgramLm].getName, "lm",
      v => s"$v = (${classOf[NgramLm].getName}) $bc.value();")
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      InternalRow ${ev.value} = graft.functions.NgramLmKernel.score(
        $m, ${c.isNull} ? null : ${c.value});""", isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object NgramLm {
  /** struct(n_tokens, ppl) of the token column under the broadcast LM. */
  def score(tokens: Column, lm: Broadcast[NgramLm]): Column =
    ColumnBridge.column(NgramLmScore(ColumnBridge.expression(tokens), lm))
}
