package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.Dsir

/** DSIR importance resampling: distribution-shift sanity on real docs,
  * bitwise equality of the broadcast weight fold with the literal fold it
  * replaced and with the driver-local scorer, deterministic seeded
  * resampling, and gram-count edges. */
class DsirSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  private lazy val docs = Tables.load(spark, TestSpark.sf0001, "documents")

  private lazy val model = Dsir.fit(
    docs.where(col("lang") === "en"), "text", docs, "text",
    dim = 4096, ngrams = 2, alpha = 1.0)

  test("target-slice documents score higher than off-target documents") {
    val lw = Dsir.logWeights(docs, "doc_id", "text", model)
      .join(docs.select("doc_id", "lang"), "doc_id")
      .groupBy("lang").agg(avg("log_weight").as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // the model was fit with target = the English slice: English docs must
    // score above every other language's mean (distribution shift caught)
    for ((lang, m) <- lw if lang != "en")
      assert(lw("en") > m, s"en mean ${lw("en")} not above $lang mean $m")
  }

  test("literal and broadcast scoring paths are bitwise identical") {
    // the literal fold over the same gram sequence is the reference; the
    // broadcast kernel must give the same bits on both evaluation paths,
    // at every table width, planning no exchange and no join (2^20 is
    // past the old literal ceiling, where the join arm took over)
    for (dim <- FoldParity.dims; (path, df) <- FoldParity.frames(spark)) {
      val m = Dsir.Model(dim, 2, 1.0, FoldParity.weights(dim, dim + 17L))
      val got = Dsir.logWeights(df, "id", "text", m)
      FoldParity.assertKernelPlan(got, path)
      val grams = concat(Seq(1, 2).map(n => graft.functions.TextFunctions
        .wordNgramFnvBuckets(coalesce(col("text"), lit("")), n, dim)): _*)
      val want = df.select(col("id"), grams.as("b"))
        .select(col("id"), size(col("b")).cast("long").as("n_grams"),
          FoldParity.literalFold(col("b"), m.logRatios, tf = false).as("log_weight"))
      val gotBits = FoldParity.bits(got, "log_weight")
      assert(gotBits == FoldParity.bits(want, "log_weight"), s"dim $dim, $path")
      assert(got.select("id", "n_grams").collect().toSet ==
        want.select("id", "n_grams").collect().toSet, s"dim $dim, $path")
      FoldParity.rows.collect { case (id, t) if t != null =>
        assert(Some(java.lang.Double.doubleToRawLongBits(m.scoreOne(t))) == gotBits(id),
          s"scoreOne of doc $id, dim $dim")
      }
    }
  }

  test("driver-local scoreOne is bitwise identical to the distributed fold") {
    val sample = docs.limit(10).select($"doc_id", $"text")
      .as[(Long, String)].collect()
    val dist = Dsir.logWeights(docs, "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    sample.foreach { case (id, text) =>
      assert(model.scoreOne(text) == dist(id), s"doc $id diverged")
    }
  }

  test("gram counting: n tokens give n unigrams + (n-1) bigrams; gramless/null text scores 0 on both paths") {
    val tiny = Seq((1L, "alpha beta gamma"), (2L, "solo"), (3L, " \t "),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Double)] =
      Dsir.logWeights(df, "doc_id", "text", model)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val rows = run(tiny)
    assert(rows(1L)._1 == 5, s"3 tokens should give 5 grams, got ${rows(1L)._1}")
    assert(rows(2L)._1 == 1)
    assert(rows(3L) == ((0L, 0.0)), s"gramless doc: ${rows(3L)}")
    assert(rows(4L) == ((0L, 0.0)), s"null-text doc: ${rows(4L)}")
    // the local frame above is scored interpreted; the generated code must
    // agree on the null/gramless rows too
    assert(run(spark.createDataFrame(spark.sparkContext.parallelize(
      tiny.collect().toSeq, 2), tiny.schema)) == rows)
  }

  test("select returns the deterministic top-n; resample is seed-deterministic and seed-sensitive") {
    val top = Dsir.select(docs, "doc_id", "text", model, 20)
      .select("doc_id", "log_weight").as[(Long, Double)].collect()
    assert(top.length == 20)
    assert(top.sortBy { case (id, w) => (-w, id) }.toSeq == top.toSeq,
      "select not ordered (log_weight desc, id asc)")
    val a1 = Dsir.resample(docs, "doc_id", "text", model, 20, seed = 7L)
      .select("doc_id").as[Long].collect().toSeq
    val a2 = Dsir.resample(docs, "doc_id", "text", model, 20, seed = 7L)
      .select("doc_id").as[Long].collect().toSeq
    val b = Dsir.resample(docs, "doc_id", "text", model, 20, seed = 8L)
      .select("doc_id").as[Long].collect().toSeq
    assert(a1 == a2, "same seed must reproduce the same resample")
    assert(a1 != b, "different seeds drew identical Gumbel top-k (vanishingly unlikely)")
    // resampling still tilts toward the target: resampled docs' mean raw
    // weight beats the corpus mean (the importance part of the mechanism)
    val lw = Dsir.logWeights(docs, "doc_id", "text", model)
      .select("doc_id", "log_weight").as[(Long, Double)].collect().toMap
    val corpusMean = lw.values.sum / lw.size
    val resMean = a1.map(lw).sum / a1.size
    assert(resMean > corpusMean,
      s"resampled mean $resMean not above corpus mean $corpusMean")
  }
}
