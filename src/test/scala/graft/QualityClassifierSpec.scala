package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.QualityClassifier

/** Trained quality classifier (operators/QualityClassifier.scala): the
  * fitted logistic model separates reference-like prose from garble, the
  * serving path's occurrence-fold score equals the model's own tf dot
  * product and, bit for bit, the literal fold it replaced; the gate keeps
  * what it should, fits are run-deterministic, and the model round-trips
  * through its JSON sidecar.
  */
class QualityClassifierSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  // deterministic corpus: "good" docs are stopword-rich English-ish prose,
  // "bad" docs are digit/punctuation garble — disjoint token distributions
  // a linear model over hashed bag-of-words separates cleanly
  private val goodWords =
    Array("the", "quick", "brown", "fox", "jumps", "over", "a", "lazy",
      "dog", "and", "runs", "to", "market", "for", "fresh", "bread")
  private val badWords =
    Array("x9z!", "0101", "$$$", "#ref", "qwrtp", "zzz4", "@@@@", "7f7f",
      "----", "null0", "0xdead", "%%%", "!!!!", "][][", "~~~", "&&&&")

  private def doc(words: Array[String], seed: Long, n: Int): String = {
    val r = new java.util.SplittableRandom(seed)
    (0 until n).map(_ => words(r.nextInt(words.length))).mkString(" ")
  }

  private lazy val pos =
    (1 to 80).map(i => (i, doc(goodWords, i * 31L, 20 + i % 10))).toDF("id", "text")
  private lazy val neg =
    (1 to 80).map(i => (i + 1000, doc(badWords, i * 37L, 20 + i % 10))).toDF("id", "text")
  private lazy val model =
    QualityClassifier.fit(pos.limit(60), neg.limit(60), "text", dim = 256)

  test("classifier separates held-out prose from garble") {
    val held = pos.orderBy(desc("id")).limit(20).withColumn("label", lit(1.0))
      .unionByName(neg.orderBy(desc("id")).limit(20).withColumn("label", lit(0.0)))
    val scored = QualityClassifier.scores(held, "id", "text", model)
      .join(held.select("id", "label"), "id")
      .select(col("label"), col("score")).collect()
    val posScores = scored.filter(_.getDouble(0) == 1.0).map(_.getDouble(1))
    val negScores = scored.filter(_.getDouble(0) == 0.0).map(_.getDouble(1))
    assert(posScores.min > negScores.max,
      s"held-out separation failed: min pos ${posScores.min} <= max neg ${negScores.max}")
    assert(posScores.min > 0.5 && negScores.max < 0.5)
  }

  test("serving fold equals the model's own tf dot product") {
    val text = doc(goodWords, 99L, 25)
    val served = QualityClassifier.scores(
        Seq((1, text)).toDF("id", "text"), "id", "text", model)
      .select("score").head().getDouble(0)
    // reference: build the tf vector by hand with the same kernel
    val toks = graft.functions.TextKernels.tokens(text)
    val z = model.intercept + toks.map(t =>
      model.weights((graft.functions.TextKernels.fnv1a64(t) & (model.dim - 1)).toInt)
        / toks.length.toDouble).sum
    val expected = 1.0 / (1.0 + StrictMath.exp(-z))
    assert(java.lang.Double.doubleToRawLongBits(served) ==
      java.lang.Double.doubleToRawLongBits(expected))
  }

  test("scoreOne equals the distributed score bit for bit where Math.exp would not") {
    // logits whose sigmoid differs in its bits between HotSpot's Math.exp
    // intrinsic and StrictMath.exp (Spark's `exp`), one per hash bucket: a
    // one-token text folds to intercept 0 + its bucket's weight
    val r = new java.util.SplittableRandom(7L)
    def sig(e: Double => Double, z: Double) = 1.0 / (1.0 + e(-z))
    val zs = Iterator.continually(r.nextDouble() * 16 - 8)
      .filter(z => sig(math.exp, z) != sig(StrictMath.exp, z)).take(64).toArray
    val m = QualityClassifier.Model(64, 0.0, zs)
    val texts = (0 until 200).map(i => s"t$i")
    val dist = QualityClassifier.scores(texts.zipWithIndex.map(_.swap).toDF("id", "text"),
      "id", "text", m).orderBy("id").select("score").as[Double].collect()
    val bits = java.lang.Double.doubleToRawLongBits _
    texts.indices.foreach(i => assert(bits(m.scoreOne(texts(i))) == bits(dist(i)), texts(i)))
    assert(texts.indices.exists(i => bits(sig(math.exp, m.weights(
      (graft.functions.TextKernels.fnv1a64(texts(i)) & 63).toInt))) != bits(dist(i))),
      "no text's logit separates the two exps")
  }

  test("empty document scores the model prior sigmoid(intercept)") {
    val served = QualityClassifier.scores(
        Seq((1, "")).toDF("id", "text"), "id", "text", model)
      .collect().head
    assert(served.getLong(1) == 0L)
    val prior = 1.0 / (1.0 + math.exp(-model.intercept))
    assert(math.abs(served.getDouble(2) - prior) < 1e-15)
  }

  test("filterByScore keeps prose, drops garble") {
    val mixed = pos.limit(10).unionByName(neg.limit(10))
    val kept = QualityClassifier.filterByScore(mixed, "id", "text", model, 0.5)
    assert(kept.count() == 10)
    assert(kept.where(col("id") > 1000).count() == 0)
  }

  test("one-class fit returns the clamped MLE limit, not a crash") {
    // a unanimous distillation labeling (every doc kept / every doc
    // positive) must still yield a finite, servable model — the seed-sweep
    // harness hit exactly this on a 500-doc regenerated corpus
    val allPos = QualityClassifier.fit(pos.limit(20), neg.limit(0), "text", dim = 256)
    assert(allPos.intercept == QualityClassifier.OneClassIntercept)
    assert(allPos.weights.forall(_ == 0.0))
    val allNeg = QualityClassifier.fit(pos.limit(0), neg.limit(20), "text", dim = 256)
    assert(allNeg.intercept == -QualityClassifier.OneClassIntercept)
    // scores are decisively one-sided on both
    val s = QualityClassifier.scores(pos.limit(5), "id", "text", allPos)
      .collect().map(_.getDouble(2))
    assert(s.forall(_ > 0.999))
    intercept[IllegalArgumentException] {
      QualityClassifier.fit(pos.limit(0), neg.limit(0), "text", dim = 256)
    }
  }

  test("fit is deterministic across runs") {
    val m2 = QualityClassifier.fit(pos.limit(60), neg.limit(60), "text", dim = 256)
    assert(m2.intercept == model.intercept)
    assert(m2.weights.sameElements(model.weights))
  }

  test("model round-trips through the JSON sidecar") {
    val dir = java.nio.file.Files.createTempDirectory("graft_qc_").toString
    model.save(spark, dir)
    val loaded = QualityClassifier.load(spark, dir)
    assert(loaded.dim == model.dim)
    assert(loaded.intercept == model.intercept)
    assert(loaded.weights.sameElements(model.weights))
  }

  test("broadcast weight fold equals the literal fold bitwise on both paths") {
    // the literal fold in token order is the reference: null, empty,
    // whitespace-only, 1-token, non-ASCII and 2,000+-token texts at every
    // width (2^20 is past the old literal ceiling)
    for (dim <- FoldParity.dims; (path, df) <- FoldParity.frames(spark)) {
      val m = QualityClassifier.Model(dim, -0.37, FoldParity.weights(dim, dim + 29L))
      val got = QualityClassifier.scores(df, "id", "text", m)
      FoldParity.assertKernelPlan(got, path)
      val want = df.select(col("id"),
          graft.functions.TextFunctions.tokenFnvBuckets(col("text"), dim).as("b"))
        .select(col("id"), size(col("b")).cast("long").as("n_toks"),
          (lit(1.0) / (lit(1.0) + exp(-(lit(m.intercept) +
            FoldParity.literalFold(col("b"), m.weights, tf = true))))).as("score"))
      val gotBits = FoldParity.bits(got, "score")
      assert(gotBits == FoldParity.bits(want, "score"), s"dim $dim, $path")
      assert(gotBits(1L).isEmpty && gotBits.values.count(_.isDefined) == 10)
      assert(got.select("id", "n_toks").collect().toSet ==
        want.select("id", "n_toks").collect().toSet, s"dim $dim, $path")
    }
  }

  test("a fully empty corpus is refused") {
    val e = intercept[IllegalArgumentException] {
      QualityClassifier.fit(pos.limit(0), neg.limit(0), "text", dim = 64)
    }
    assert(e.getMessage.contains("both classes are empty"))
  }

  test("non-power-of-two dim is refused") {
    intercept[IllegalArgumentException] {
      QualityClassifier.fit(pos, neg, "text", dim = 1000)
    }
  }
}
