package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{LangIdClassifier, LangIdFixtures}

class LangIdSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.session

  // fit once for the suite — the same memoized model the t12 query serves
  private lazy val model = graft.queries.T12OracleSql.fitted(spark)

  test("trained langid separates held-out sentences of all five languages") {
    // held-out = a DISJOINT seed base: same generator, sentences the fit
    // never saw
    val held = LangIdFixtures.corpus(spark, 50, seedBase = 0x1ee7L)
    val heldIdx = held.withColumn("id", monotonically_increasing_id())
      .withColumnRenamed("lang", "true_lang")
    val p2 = LangIdClassifier.predictions(heldIdx, "id", "text", model)
      .join(heldIdx.select("id", "true_lang"), "id")
    assert(p2.count() == 250L)
    val accuracy = p2.where(col("lang") === col("true_lang")).count().toDouble / 250.0
    assert(accuracy >= 0.98, s"held-out accuracy $accuracy < 0.98")
  }

  test("trained langid classifies vocab the stopword heuristic has never seen") {
    // sentences built ONLY from words absent from every stopword table —
    // the heuristic returns 'und' (no hits), the trained model still reads
    // the orthography from char bigrams
    val texts = Seq(
      "zwischen verschiedenen möglichkeiten wählen bedeutet verantwortung übernehmen", // de
      "aprovechar oportunidades requiere preparación constante durante años", // es
      "plusieurs possibilités différentes demandent beaucoup réflexion") // fr
    val expected = Seq("de", "es", "fr")
    texts.zip(expected).foreach { case (t, want) =>
      val (got, conf) = model.predictOne(t)
      assert(got == want, s"'$t' predicted $got (conf $conf), want $want")
      val heuristic = graft.functions.TextKernels.langId(
        org.apache.spark.unsafe.types.UTF8String.fromString(t)).toString
      assert(heuristic == "und",
        s"expected the stopword heuristic to fail on '$t', got $heuristic")
    }
  }

  test("driver-local predictOne agrees bitwise with the distributed path") {
    import spark.implicits._
    val held = LangIdFixtures.vocab.keys.toSeq.sorted.flatMap(l =>
      LangIdFixtures.sentences(l, 5, 0xabcL))
    val df = held.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val dist = LangIdClassifier.predictions(df, "id", "text", model)
      .orderBy("id").collect()
    held.zipWithIndex.foreach { case (t, i) =>
      val (lang, conf) = model.predictOne(t)
      assert(dist(i).getString(1) == lang, s"row $i lang mismatch")
      assert(java.lang.Double.doubleToRawLongBits(dist(i).getDouble(2)) ==
        java.lang.Double.doubleToRawLongBits(conf),
        s"row $i confidence ${dist(i).getDouble(2)} != $conf (not bitwise)")
    }
  }

  test("predictOne's confidence equals the distributed one bit for bit where Math.exp would not") {
    import spark.implicits._
    // logit gaps d whose confidence 1/(1 + exp(-d)) differs in its bits
    // between HotSpot's Math.exp intrinsic and StrictMath.exp (Spark's
    // `exp`): class "bb" weighs each bucket -d, so a two-character text
    // (one window) has logits (0, -d) and "aa" wins
    val r = new java.util.SplittableRandom(11L)
    def conf(e: Double => Double, d: Double) = 1.0 / (e(0.0) + e(-d))
    val ds = Iterator.continually(r.nextDouble() * 8)
      .filter(d => conf(math.exp, d) != conf(StrictMath.exp, d)).take(64).toArray
    val m = LangIdClassifier.Model(2, 64, Array("aa", "bb"), Array(0.0, 0.0),
      Array(new Array[Double](64), ds.map(-_)))
    val texts = for (a <- 'a' to 'z'; b <- '0' to '9') yield s"$a$b"
    val dist = LangIdClassifier.predictions(
        texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text"),
        "id", "text", m).orderBy("id").collect()
    val bits = java.lang.Double.doubleToRawLongBits _
    texts.indices.foreach { i =>
      val (lang, c) = m.predictOne(texts(i))
      assert(lang == "aa" && dist(i).getString(1) == lang, texts(i))
      assert(bits(c) == bits(dist(i).getDouble(2)), texts(i))
    }
    assert(texts.indices.exists(i => bits(conf(math.exp, ds(
      (graft.functions.TextKernels.fnv1a64(texts(i)) & 63).toInt))) != bits(dist(i).getDouble(2))),
      "no text's logits separate the two exps")
  }

  test("predictions equal the literal-fold plan bit for bit on both evaluation paths") {
    // the plan the broadcast fold replaced, one weight literal per class,
    // is the reference: null, empty, whitespace-only, 1-char, non-ASCII
    // and 2,000+-token texts at every width (2^20 included)
    for (dim <- FoldParity.dims; (path, df) <- FoldParity.frames(spark)) {
      // weights under 1 keep the logits close, so the confidences carry
      // the folds' low bits instead of saturating at 1.0
      val labels = Array("aa", "bb", "cc")
      val m = LangIdClassifier.Model(2, dim, labels, Array(0.002, -0.001, 0.0),
        labels.indices.map(c => FoldParity.weights(dim, dim * 7L + c).map(_ / 1000)).toArray)
      val got = LangIdClassifier.predictions(df, "id", "text", m)
      FoldParity.assertKernelPlan(got, path)
      val toked = df.select(col("id"),
        graft.functions.TextFunctions.charNgramFnvBuckets(col("text"), 2, dim).as("b"))
      val ls = labels.indices.map(c =>
        lit(m.intercepts(c)) + FoldParity.literalFold(col("b"), m.weights(c), tf = true))
      val pick = array_min(array(labels.indices.map(c =>
        struct((-ls(c)).as("nl"), lit(labels(c)).as("lang"))): _*))
      val want = toked.select(col("id"), pick.getField("lang").as("lang"),
        (lit(1.0) / labels.indices.map(c => exp(ls(c) + pick.getField("nl")))
          .reduceLeft(_ + _)).as("confidence"))
      assert(FoldParity.bits(got, "confidence") == FoldParity.bits(want, "confidence"),
        s"dim $dim, $path")
      assert(got.select("id", "lang").collect().toSet ==
        want.select("id", "lang").collect().toSet, s"dim $dim, $path")
      assert(got.select("lang").distinct().count() > 1, "one class won every row")
      // and each class row's fold on its own, as the logits carry it
      val rows = spark.sparkContext.broadcast(m.weights)
      labels.indices.foreach { c =>
        val logit = toked.select(col("id"), (lit(m.intercepts(c)) +
          graft.functions.WeightFold(col("b"), rows, c, tf = true)).as("l"))
        assert(FoldParity.bits(logit, "l") == FoldParity.bits(toked.select(col("id"),
          ls(c).as("l")), "l"), s"class $c logits, dim $dim, $path")
      }
    }
  }

  test("empty and shorter-than-n text predicts the model prior, confidence in (0,1]") {
    val (lang, conf) = model.predictOne("")
    val (lang1, conf1) = model.predictOne("a")
    assert(model.labels.contains(lang) && model.labels.contains(lang1))
    assert(conf > 0.0 && conf <= 1.0 && conf1 > 0.0 && conf1 <= 1.0)
  }

  test("filterByLang keeps only confidently-identified target languages") {
    import spark.implicits._
    val mixed = (LangIdFixtures.sentences("en", 20, 0xfeedL) ++
      LangIdFixtures.sentences("zh", 20, 0xfeedL))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val kept = LangIdClassifier.filterByLang(
      mixed, "id", "text", model, keep = Set("en"), minConfidence = 0.6)
    val keptIds = kept.select("id").as[Long].collect().toSet
    assert(keptIds.nonEmpty && keptIds.forall(_ < 20L),
      s"zh rows leaked through the en gate: ${keptIds.filter(_ >= 20L)}")
    assert(keptIds.size >= 18, s"only ${keptIds.size}/20 en rows kept")
  }
}
