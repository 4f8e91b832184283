package graft.operators

import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{TextFunctions, TextKernels, WeightFold}

/** Trained model-based quality filtering — the classifier stage of a
  * pretraining curation pipeline (GPT-3 / The Pile train a logistic
  * classifier over hashed features against a trusted corpus; DCLM and
  * fastText's supervised mode are the same shape: a LINEAR model over
  * hashed bag-of-words, chosen precisely because it scores at corpus
  * scale for ~zero cost per document). Unlike the heuristic gates
  * ([[graft.functions.TextFunctions.qualityScore]]) this model is FIT to
  * data — a real MLlib `LogisticRegression` trained in-pipeline, its
  * coefficients then served as one broadcast weight row.
  *
  * Spark-first scale shape, mirroring the CCNet perplexity gate
  * ([[Corpus.perplexityStats]]):
  *
  *  - featurization is a codegen kernel (`token_fnv_buckets`: per-token
  *    FNV-1a-64 folded to a power-of-two `dim`) running inside the scan;
  *  - the weights ship to each executor once, as a broadcast of
  *    `dim × 8 B`, and the per-document dot product is one fold of the
  *    bucket array against them ([[graft.functions.WeightFold]], tf mode)
  *    inside the scan — scoring a 100 TB corpus shuffles nothing, joins
  *    nothing and puts no weights in the plan, at any `dim`;
  *  - the fold is LEFT-ASSOCIATIVE in token order, so score values are
  *    run-stable and replay IEEE-identically in SQL — the c7 oracle gates
  *    the probabilities themselves, not just counts.
  *
  * Features are term frequencies (bucket count / doc token count), so a
  * document's score is length-invariant; the per-occurrence contribution
  * `w[bucket]/N` summed over occurrences equals the tf dot product
  * exactly, which is what lets the fold run at occurrence granularity
  * without materializing per-doc vectors.
  */
object QualityClassifier {

  /** Clamp for the one-class MLE's infinite-intercept limit:
    * sigmoid(±10) ≈ 1∓4.54e-5, decisive at any rounded precision the
    * oracles use while staying an exact short decimal literal.
    */
  val OneClassIntercept = 10.0

  /** A fitted classifier: `score(doc) = sigmoid(intercept + tf · weights)`.
    * `weights` is dense over the `dim` hash buckets.
    */
  final case class Model(dim: Int, intercept: Double, weights: Array[Double]) {
    require(weights.length == dim, s"weights length ${weights.length} != dim $dim")

    /** Driver/executor-local single-text score — the same math as the
      * distributed [[QualityClassifier.scores]] in the same order (token
      * -order left-associative sum) and with Spark's `exp`
      * (`StrictMath.exp`; HotSpot's `Math.exp` intrinsic differs in the last
      * bit on some inputs), so the two paths agree bitwise. */
    def scoreOne(text: String): Double = {
      val s = WeightFold.fold(weights,
        TextKernels.tokenFnvBuckets(UTF8String.fromString(text), dim), tf = true)
      1.0 / (1.0 + StrictMath.exp(-(intercept + s)))
    }

    /** Persist as a JSON sidecar (exact `Double.toString` round-trip). */
    def save(spark: SparkSession, path: String): Unit = {
      val fs = IndexStore.fsFor(spark, path)
      val json =
        s"""{"dim":$dim,"intercept":$intercept,""" +
          s""""weights":[${weights.mkString(",")}]}"""
      IndexStore.writeString(fs, new org.apache.hadoop.fs.Path(path, "quality_classifier.json"), json)
    }
  }

  def load(spark: SparkSession, path: String): Model = {
    val fs = IndexStore.fsFor(spark, path)
    val json = IndexStore.readString(
      fs, new org.apache.hadoop.fs.Path(path, "quality_classifier.json"))
    def scalarField(name: String): String = {
      val key = "\"" + name + "\":"
      val i = json.indexOf(key)
      require(i >= 0, s"quality_classifier.json missing field $name")
      val from = i + key.length
      val until = json.indexWhere(ch => ch == ',' || ch == '}', from)
      json.substring(from, until)
    }
    val dim = scalarField("dim").toInt
    val intercept = scalarField("intercept").toDouble
    val ws = json.substring(json.indexOf('[') + 1, json.lastIndexOf(']'))
      .split(',').map(_.toDouble)
    Model(dim, intercept, ws)
  }

  /** Fit a logistic quality classifier: `pos` = trusted/kept documents,
    * `neg` = rejected/untrusted documents. Featurization at fit time goes
    * through the SAME `token_fnv_buckets` kernel serving uses; the
    * per-document tf vector assembly is fit-time only (the serving path
    * never builds vectors — it folds occurrences).
    */
  def fit(
      pos: DataFrame,
      neg: DataFrame,
      textCol: String,
      dim: Int = 1024,
      maxIter: Int = 100,
      regParam: Double = 1e-4): Model = {
    require(dim > 0 && (dim & (dim - 1)) == 0, s"dim must be a power of two, got $dim")
    // One-class training data makes LogisticRegression return an infinite
    // intercept — invalid JSON and an unparseable literal in generated
    // oracles. The true one-class MLE is the intercept limit ±∞ with zero
    // weights; return that limit clamped to a finite canonical value so a
    // distillation labeling that happens to be unanimous on some corpus
    // (every document passes curate, every document reads positive) still
    // yields a deterministic, servable, replayable model. Only a fully
    // empty corpus fails loudly.
    val posEmpty = pos.isEmpty
    val negEmpty = neg.isEmpty
    require(!(posEmpty && negEmpty), "quality classifier fit: both classes are empty")
    if (posEmpty || negEmpty) {
      val intercept = if (negEmpty) OneClassIntercept else -OneClassIntercept
      return Model(dim, intercept, new Array[Double](dim))
    }
    val labeled = pos.select(col(textCol).as("__text"), lit(1.0).as("label"))
      .unionByName(neg.select(col(textCol).as("__text"), lit(0.0).as("label")))
    val feats = labeled.select(col("label"),
      WeightFold.tfVectors(TextFunctions.tokenFnvBuckets(col("__text"), dim), dim)
        .as("features"))
    val m = new LogisticRegression()
      .setMaxIter(maxIter).setRegParam(regParam).setFamily("binomial")
      .fit(feats)
    require(java.lang.Double.isFinite(m.intercept),
      s"quality classifier fit diverged: intercept ${m.intercept}")
    Model(dim, m.intercept, m.coefficients.toArray)
  }

  /** Score every document: (idCol, n_toks, score) with
    * score = sigmoid(intercept + Σ_occurrences w[bucket]/n_toks), the fold
    * running left-associatively in TOKEN ORDER. A document with no tokens
    * scores sigmoid(intercept) — the model's prior, exactly what an
    * all-zero tf vector predicts; a null text scores null.
    *
    * Fully map-side at any `dim`: one scan, zero shuffle, constant memory
    * per row regardless of document length, and one `dim × 8 B` weight
    * broadcast per call.
    */
  def scores(docs: DataFrame, idCol: String, textCol: String, model: Model): DataFrame = {
    val w = docs.sparkSession.sparkContext.broadcast(Array(model.weights))
    docs.select(col(idCol),
        TextFunctions.tokenFnvBuckets(col(textCol), model.dim).as("__bks"))
      .select(col(idCol),
        size(col("__bks")).cast("long").as("n_toks"),
        sigmoid(lit(model.intercept) + WeightFold(col("__bks"), w, 0, tf = true))
          .as("score"))
  }

  private def sigmoid(z: Column): Column = lit(1.0) / (lit(1.0) + exp(-z))

  /** [[scores]] as a gate: keep documents scoring at or above `minScore`. */
  def filterByScore(
      docs: DataFrame, idCol: String, textCol: String,
      model: Model, minScore: Double): DataFrame =
    docs.join(
      scores(docs, idCol, textCol, model)
        .where(col("score") >= minScore).select(col(idCol)),
      Seq(idCol), "left_semi")
}
