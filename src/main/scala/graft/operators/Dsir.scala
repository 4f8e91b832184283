package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{TextFunctions, TextKernels, WeightFold}

/** DSIR — Data Selection via Importance Resampling (Xie et al., NeurIPS
  * 2023): pick raw-corpus documents whose hashed-n-gram distribution looks
  * like a target (quality/domain) corpus. The standard pretraining-scale
  * data-selection mechanism between raw crawl and tokenization — the
  * reference's curation surface stops at heuristic gates
  * (pgml-style quality filters; see [[Corpus.curate]]), DSIR is the
  * distribution-matching stage production pipelines run on top.
  *
  * Mechanism (the paper's, exactly): features are hashed word unigrams +
  * bigrams ([[graft.functions.TextKernels.wordNgramFnvBuckets]], FNV-1a-64
  * masked to a power-of-two table); fit bag-of-grams models with add-α
  * smoothing on the target and raw corpora; a document's importance
  * log-weight is Σ over its gram OCCURRENCES of
  * `ln p_target(bucket) − ln p_raw(bucket)`; select the top-k
  * deterministically, or Gumbel-top-k for the paper's importance
  * resampling without replacement.
  *
  * Scale shape (the 100 TB contract): fitting is two `treeAggregate`
  * passes that fold each partition's gram arrays into a primitive
  * long[dim] histogram — only dim-sized histograms ever move, zero
  * per-gram rows reach an exchange or the driver at any corpus size
  * (measured: the exploded-rows hash-agg alternative GC-thrashed an
  * 8 GB heap at 5M docs; the histogram fold is flat there).
  * Scoring is a pure map: the codegen gram kernel and one in-order fold
  * of the bucket array against the ratio table
  * ([[graft.functions.WeightFold]], plain mode), shipped once per executor
  * as a broadcast of `dim × 8 B` — at no width does the table enter the
  * plan or a join. Selection is a TakeOrdered over (key desc, id asc) — no
  * corpus-sized shuffle anywhere.
  *
  * Float contract: the per-document fold is left-associative in gram
  * order (all unigrams in position order, then all bigrams), identical in
  * the distributed path, [[Model.scoreOne]], and the c10 DuckDB oracle
  * replay — so the paths agree bitwise and the oracle agrees behind a
  * fixed rounding (ln is the only transcendental; its ulp spread is
  * absorbed by round(4), the c9 convention).
  */
object Dsir {

  /** A fitted selector: smoothed log-probability ratios per bucket.
    * `logRatios(b) = ln((ct_b+α)/(T+α·dim)) − ln((cr_b+α)/(R+α·dim))`. */
  final case class Model(
      dim: Int, ngrams: Int, alpha: Double, logRatios: Array[Double]) {
    require(logRatios.length == dim,
      s"logRatios length ${logRatios.length} != dim $dim")

    /** Driver/executor-local single-text log-weight — the same math as
      * the distributed [[Dsir.logWeights]] in the same gram order, so the
      * two paths agree bitwise. */
    def scoreOne(text: String): Double = {
      val t = UTF8String.fromString(text)
      val bks = (1 to ngrams).flatMap(n => TextKernels.wordNgramFnvBuckets(t, n, dim).toIntArray())
      WeightFold.fold(logRatios, ArrayData.toArrayData(bks.toArray), tf = false)
    }
  }

  /** Per-document bucket sequence: unigram buckets then bigram buckets
    * (each in position order) — THE fold order of every scoring path. */
  private def gramBuckets(text: Column, dim: Int, ngrams: Int): Column = {
    val parts = (1 to ngrams).map(n =>
      TextFunctions.wordNgramFnvBuckets(text, n, dim))
    if (parts.length == 1) parts.head else concat(parts: _*)
  }

  /** Dense bucket-occurrence counts over a corpus as one `treeAggregate`:
    * each partition folds its gram arrays into a primitive dim-sized
    * histogram and only the histograms move — zero per-gram rows ever
    * reach an exchange or the driver. (The first cut exploded the grams
    * through a hash aggregate; at 5M docs that streams ~1B
    * occurrence rows through the agg operator and GC-thrashes an 8 GB
    * heap for work a long[dim] accumulator does in place.) */
  private def bucketCounts(
      docs: DataFrame, textCol: String, dim: Int, ngrams: Int): Array[Long] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(gramBuckets(coalesce(col(textCol), lit("")), dim, ngrams).as("b"))
      .as[Array[Int]].rdd
      .treeAggregate(new Array[Long](dim))(
        seqOp = { (acc, bks) =>
          var i = 0
          while (i < bks.length) { acc(bks(i)) += 1; i += 1 }
          acc
        },
        combOp = { (a, b) =>
          var i = 0
          while (i < dim) { a(i) += b(i); i += 1 }
          a
        })
  }

  /** Fit the importance model: hashed-gram counts on both corpora, add-α
    * smoothing, per-bucket log ratio. `dim` must be a power of two (the
    * FNV mask contract shared with the quality classifier's featurizer). */
  def fit(
      target: DataFrame, targetTextCol: String,
      raw: DataFrame, rawTextCol: String,
      dim: Int = 8192, ngrams: Int = 2, alpha: Double = 1.0): Model = {
    require(dim > 0 && (dim & (dim - 1)) == 0, s"dim must be a power of two, got $dim")
    require(ngrams >= 1, s"ngrams must be >= 1, got $ngrams")
    require(alpha > 0, s"alpha must be > 0 (unsmoothed ratios are unbounded), got $alpha")
    val ct = bucketCounts(target, targetTextCol, dim, ngrams)
    val cr = bucketCounts(raw, rawTextCol, dim, ngrams)
    val tTot = ct.sum.toDouble
    val rTot = cr.sum.toDouble
    val lr = Array.tabulate(dim) { b =>
      math.log((ct(b) + alpha) / (tTot + alpha * dim)) -
        math.log((cr(b) + alpha) / (rTot + alpha * dim))
    }
    Model(dim, ngrams, alpha, lr)
  }

  /** Per-document importance log-weights: `(idCol, n_grams, log_weight)`,
    * one row per input document (a gramless or null-text document scores
    * 0.0). */
  def logWeights(
      docs: DataFrame, idCol: String, textCol: String, m: Model): DataFrame = {
    val ratios = docs.sparkSession.sparkContext.broadcast(Array(m.logRatios))
    docs.select(col(idCol),
        gramBuckets(coalesce(col(textCol), lit("")), m.dim, m.ngrams).as("__bks"))
      .select(col(idCol),
        size(col("__bks")).cast("long").as("n_grams"),
        WeightFold(col("__bks"), ratios, 0, tf = false).as("log_weight"))
  }

  /** Deterministic selection: the `n` documents most target-like,
    * (log_weight desc, id asc) — a TakeOrdered, no full sort. */
  def select(
      docs: DataFrame, idCol: String, textCol: String, m: Model,
      n: Int): DataFrame =
    logWeights(docs, idCol, textCol, m)
      .orderBy(col("log_weight").desc, col(idCol).asc)
      .limit(n)

  /** Per-document Gumbel keys for [[resample]]: `(idCol, n_grams,
    * log_weight, gumbel_key)` with key_i = log_weight_i + G_i,
    * G_i = −ln(−ln U_i), and U_i the 53-bit-mantissa uniform in (0, 1]
    * built from splitmix64(seed, id) — u's construction is all exact
    * IEEE ops (shift, ·2⁻⁵³, +2⁻⁵⁴), so u is bit-identical across
    * engines and the c15 oracle replays the whole key behind the c9
    * round(4) transcendental convention. Exposed so the correctness
    * query can rank by the ROUNDED key (rounding-stable rank, the c11
    * convention) while [[resample]] keeps the paper's exact-key order. */
  def gumbelKeys(
      docs: DataFrame, idCol: String, textCol: String, m: Model,
      seed: Long): DataFrame = {
    val z = TextFunctions.mix64(col(idCol).cast("long"), seed)
    // 53-bit mantissa uniform in (0, 1]: u = (z >>> 11) · 2⁻⁵³ + 2⁻⁵⁴
    val u = shiftrightunsigned(z, 11).cast("double") *
      lit(1.0 / 9007199254740992.0) + lit(Math.pow(2, -54))
    logWeights(docs, idCol, textCol, m)
      .withColumn("gumbel_key", col("log_weight") - log(-log(u)))
  }

  /** Gumbel-top-k importance RESAMPLING (the paper's selection: sampling
    * without replacement ∝ exp(log_weight)): the `n` best Gumbel keys
    * ([[gumbelKeys]]) — a TakeOrdered, no full sort. Deterministic and
    * partition-layout-independent (the m20 splits lesson); different
    * seeds give independent draws. `idCol` must be castable to bigint. */
  def resample(
      docs: DataFrame, idCol: String, textCol: String, m: Model,
      n: Int, seed: Long): DataFrame =
    gumbelKeys(docs, idCol, textCol, m, seed)
      .orderBy(col("gumbel_key").desc, col(idCol).asc)
      .limit(n)
}
