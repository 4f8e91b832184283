package graft.operators

import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{TextFunctions, TextKernels, WeightFold}

/** Trained language identification — the fastText shape (a linear model
  * over hashed character-n-gram bag-of-features; Joulin et al. 2016
  * "Bag of Tricks for Efficient Text Classification", which IS what
  * fastText's lid.176 langid model is) fit with a real MLlib multinomial
  * `LogisticRegression`, replacing the stopword-hit-ratio heuristic
  * ([[graft.functions.TextKernels.langId]]) as the curation family's
  * language gate. The heuristic remains as the zero-setup fallback (t5);
  * this model is the trained component (t12).
  *
  * Scale shape, same recipe as the trained quality classifier
  * ([[QualityClassifier]]):
  *
  *  - featurization is a codegen kernel (`char_ngram_fnv_buckets`: each
  *    length-n character window FNV-1a-64-hashed to a power-of-two `dim`)
  *    running inside the scan — char n-grams capture orthography without
  *    a tokenizer, so one kernel covers space-delimited and unsegmented
  *    (CJK) scripts alike;
  *  - the fitted per-class weight rows ship to each executor once, as one
  *    broadcast of `classes × dim × 8 B` per model, and each class logit
  *    is one fold of the shared bucket array against its row
  *    ([[graft.functions.WeightFold]], tf mode): scoring a 100 TB corpus
  *    is one map-side pass, zero shuffle, constant memory per row;
  *  - per-class logits fold LEFT-ASSOCIATIVELY in window order and the
  *    softmax folds in label order, so scores replay IEEE-identically in
  *    SQL — the t12 oracle gates predicted label AND confidence.
  */
object LangIdClassifier {

  /** Default char-n-gram order: bigrams — the smallest order that
    * separates European orthographies, and dense enough that short
    * documents still produce many features. */
  val DefaultN = 2
  val DefaultDim = 1024

  /** A fitted multiclass model. `labels` is sorted ascending; row `c` of
    * `weights` (dense over the `dim` buckets) and `intercepts(c)` belong
    * to `labels(c)`. */
  final case class Model(
      n: Int, dim: Int, labels: Array[String],
      intercepts: Array[Double], weights: Array[Array[Double]]) {
    require(labels.length == intercepts.length &&
      labels.length == weights.length, "labels/intercepts/weights length mismatch")
    require(weights.forall(_.length == dim), "weight row length != dim")

    /** Driver/executor-local single-text prediction — the same math as
      * the distributed [[predictions]] in the same fold order, so the two
      * paths agree bitwise: (label, confidence). */
    def predictOne(text: String): (String, Double) = {
      val bks = TextKernels.charNgramFnvBuckets(UTF8String.fromString(text), n, dim)
      val logits = Array.tabulate(labels.length)(c =>
        intercepts(c) + WeightFold.fold(weights(c), bks, tf = true))
      // argmax with ties to the lexicographically-smallest label — the
      // (−logit, label) struct-min the distributed path computes
      var best = 0
      var c = 1
      while (c < labels.length) {
        if (logits(c) > logits(best) ||
          (logits(c) == logits(best) && labels(c) < labels(best))) best = c
        c += 1
      }
      // stable softmax, denominator folded in label order, with Spark's
      // `exp` (StrictMath.exp, not HotSpot's Math.exp intrinsic)
      var denom = 0.0
      c = 0
      while (c < labels.length) { denom += StrictMath.exp(logits(c) - logits(best)); c += 1 }
      (labels(best), 1.0 / denom)
    }
  }

  /** Fit a multinomial logistic langid model over labeled text. Labels
    * are indexed in sorted order (run-stable; no StringIndexer frequency
    * dependence); featurization at fit time goes through the SAME
    * `char_ngram_fnv_buckets` kernel serving uses. */
  def fit(
      labeled: DataFrame, textCol: String, labelCol: String,
      n: Int = DefaultN, dim: Int = DefaultDim,
      maxIter: Int = 100, regParam: Double = 1e-4): Model = {
    require(dim > 0 && (dim & (dim - 1)) == 0, s"dim must be a power of two, got $dim")
    val labels = labeled.select(labelCol).distinct()
      .collect().map(_.getString(0)).sorted
    require(labels.length >= 2, s"langid fit needs >=2 classes, got ${labels.mkString(",")}")
    val labelIdx = labels.zipWithIndex.toMap
    val toIdx = udf((l: String) => labelIdx(l).toDouble)
    val feats = labeled.select(
      toIdx(col(labelCol)).as("label"),
      WeightFold.tfVectors(TextFunctions.charNgramFnvBuckets(col(textCol), n, dim), dim)
        .as("features"))
    val m = new LogisticRegression()
      .setMaxIter(maxIter).setRegParam(regParam).setFamily("multinomial")
      .fit(feats)
    val cm = m.coefficientMatrix
    val ws = Array.tabulate(labels.length, dim)((c, j) => cm(c, j))
    require(m.interceptVector.toArray.forall(java.lang.Double.isFinite),
      s"langid fit diverged: intercepts ${m.interceptVector}")
    Model(n, dim, labels, m.interceptVector.toArray, ws)
  }

  /** Predict every document's language: (idCol, lang, confidence) with
    * confidence = softmax probability of the winning class, ties on the
    * argmax resolved to the lexicographically-smallest label. Class `c`'s
    * logit is intercept_c + Σ_windows w_c[bucket]/n_windows, folded
    * left-associatively in window order; a text shorter than `n` scores
    * the intercepts alone (the model prior), a null text has null
    * logits. Fully map-side: one scan, zero shuffle. */
  def predictions(
      docs: DataFrame, idCol: String, textCol: String, model: Model): DataFrame = {
    val rows = docs.sparkSession.sparkContext.broadcast(model.weights)
    val toked = docs.select(col(idCol),
      TextFunctions.charNgramFnvBuckets(col(textCol), model.n, model.dim).as("__bks"))
    val ls = model.labels.indices.map(c =>
      lit(model.intercepts(c)) + WeightFold(col("__bks"), rows, c, tf = true))
    // struct-min over (−logit, label): the same deterministic argmax the
    // SemDeDup assignment and the SQL replay's struct sort compute
    val pick = array_min(array(model.labels.indices.map { c =>
      struct((-ls(c)).as("nl"), lit(model.labels(c)).as("lang"))
    }: _*))
    // stable softmax of the winner: 1 / Σ_c exp(logit_c − logit_max),
    // denominator folded in label order (pick.nl = −logit_max)
    val denom = model.labels.indices
      .map(c => exp(ls(c) + pick.getField("nl")))
      .reduceLeft(_ + _)
    toked.select(col(idCol),
      pick.getField("lang").as("lang"),
      (lit(1.0) / denom).as("confidence"))
  }

  /** [[predictions]] as a gate: keep documents whose predicted language is
    * in `keep` at or above `minConfidence` — the language filter stage of
    * a curation pipeline (CCNet/C4 both gate on langid score). */
  def filterByLang(
      docs: DataFrame, idCol: String, textCol: String, model: Model,
      keep: Set[String], minConfidence: Double = 0.5): DataFrame = {
    val preds = predictions(docs, idCol, textCol, model)
      .where(col("lang").isin(keep.toSeq.sorted: _*) &&
        col("confidence") >= minConfidence)
      .select(col(idCol))
    docs.join(preds, Seq(idCol), "left_semi")
  }
}

/** Deterministic multi-language training fixtures for the trained langid
  * model: sentences drawn word-by-word from per-language common-word
  * vocabularies (public frequency-list heads) via the splitmix64 mix —
  * rerun-stable across JVMs, so the fitted model (and therefore the t12
  * generated oracle) is reproducible. Chinese sentences concatenate
  * WITHOUT spaces — the unsegmented-script case the char-n-gram
  * featurizer exists to handle. */
object LangIdFixtures {

  val vocab: Map[String, IndexedSeq[String]] = Map(
    "en" -> ("the and of to in is it that for on with as was at by from have " +
      "not this but are or an be they which you all we more can said there " +
      "use each how their if will up other about out many then them these so " +
      "some would make like him into time has look two way could people my " +
      "than first water been called who now find long down day did get come").split(' ').toIndexedSeq,
    "de" -> ("der die das und ist nicht ein eine zu mit auf für von den im " +
      "sich des dem sie er es auch als an nach wie bei aus um noch werden " +
      "wurde sind einem einen einer über zum zur durch gegen kann mehr schon " +
      "wenn nur hat haben dass man sein ihre aber doch wird sehr hier unter " +
      "jahr zwei diese ihrer alle wieder zeit gegen ihm keine").split(' ').toIndexedSeq,
    "es" -> ("el la de y que en un una es no con por para los las se del al " +
      "lo como más pero sus le ya o fue este ha sí porque esta son entre " +
      "cuando muy sin sobre también me hasta donde quien desde nos durante " +
      "todos uno les ni contra otros fueron ese eso había ante ellos").split(' ').toIndexedSeq,
    "fr" -> ("le la de et est un une que pour dans sur avec ne se pas ce il " +
      "qui au du par plus ou mais nous comme ses sont aux cette ces leur " +
      "bien être fait tout même encore aussi deux peut dont elle où sans " +
      "très après entre ainsi leurs avant autres depuis alors").split(' ').toIndexedSeq,
    "zh" -> ("的 是 了 在 和 有 我 不 这 他 们 中 大 来 上 国 个 到 说 时 要 就 " +
      "出 会 可 也 你 对 生 能 而 子 那 得 于 着 下 自 之 年 过 发 后 作 里 用 " +
      "道 行 所 然 家 种 事 成 方 多 经 么 去 法").split(' ').toIndexedSeq)

  /** `count` sentences of 8–14 words for `lang`, seeded by (lang, seedBase,
    * sentence index) — disjoint seedBases give disjoint (train/held-out)
    * corpora. */
  def sentences(lang: String, count: Int, seedBase: Long): IndexedSeq[String] = {
    val words = vocab(lang)
    val langSeed = graft.functions.TextKernels.fnv1a64(lang) ^ seedBase
    val sep = if (lang == "zh") "" else " "
    IndexedSeq.tabulate(count) { s =>
      val len = 8 + (math.floorMod(graft.functions.TextKernels.mix(s.toLong, langSeed), 7L)).toInt
      (0 until len).map { i =>
        val h = graft.functions.TextKernels.mix(s.toLong * 1000L + i, langSeed)
        words(math.floorMod(h, words.length.toLong).toInt)
      }.mkString(sep)
    }
  }

  /** A labeled (text, lang) frame across all fixture languages. */
  def corpus(spark: org.apache.spark.sql.SparkSession,
      perLang: Int, seedBase: Long): DataFrame = {
    import spark.implicits._
    vocab.keys.toSeq.sorted
      .flatMap(l => sentences(l, perLang, seedBase).map(t => (t, l)))
      .toDF("text", "lang")
  }
}
