package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{GramCounts, NgramLm, NgramLmKernel}
import graft.operators.Corpus

/** The c9 LM's per-document kernel against its join plan (the reference
  * it is specified against), forced through the broadcast-ceiling seam:
  * same n_tokens and the same ppl bits on every document. */
class NgramLmSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.session
  import spark.implicits._

  private val reference = Seq(
    "the cat sat on the mat and the dog ran in the park",
    "a bird flew over the house and the cat sat on the wall",
    "İstanbul STRASSE straße 👍 the cat 👍 sat",
    "the dog ran to the park and a bird sat on the mat",
    "the cat sat on the mat")

  private def longDoc(n: Int, seed: Int): String = {
    val vocab = reference.flatMap(_.toLowerCase.split(" ")) ++ Seq("oov1", "oov2")
    val rnd = new scala.util.Random(seed)
    // runs copied from the reference keep high orders hitting; the random
    // tokens in between force backoff
    Iterator.continually(
      if (rnd.nextBoolean()) reference(rnd.nextInt(reference.size)).split(" ").toSeq
      else Seq(vocab(rnd.nextInt(vocab.size))))
      .flatten.take(n).mkString(" ")
  }

  private val docRows = Seq[(Long, String)](
    (1L, "The CAT sat on the MAT"),
    (2L, "İSTANBUL straße 👍 the cat"),
    (3L, "Straße STRASSE İstanbul 👍👍"),
    (4L, "  the\tcat\nsat on\r\nthe  mat  "),
    (5L, "\tthe dog ran\n"),
    (6L, null),
    (7L, ""),
    (8L, "   "),
    (9L, " \t\n "),
    (10L, "the"),
    (11L, "zebra"),
    (12L, longDoc(2500, 1)),
    (13L, longDoc(2500, 2)),
    (14L, "qqq www eee rrr"),
    (15L, "the cat qqq sat on www the mat"),
    (16L, "a bird sat on the mat and the cat flew over the park"))

  // an RDD-backed frame keeps the kernel in a generated Project; a local
  // Seq frame is scored by the optimizer's constant folding through the
  // interpreted path instead
  private def docs: DataFrame = spark.sparkContext.parallelize(docRows, 3).toDF("doc_id", "text")
  private def localDocs: DataFrame = docRows.toDF("doc_id", "text")

  private def statsOf(df: DataFrame): Map[Long, (Long, Option[Long])] =
    df.collect().map { r =>
      r.getLong(0) -> (r.getLong(1),
        if (r.isNullAt(2)) None else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(2))))
    }.toMap

  test("kernel equals the join arm bit for bit (case, non-ASCII, whitespace, empty, long, OOV; orders 2 and 5)") {
    val lm = reference.zipWithIndex.map { case (t, i) => (100L + i, t) }.toDF("doc_id", "text")
    for ((order, lambda, alpha) <- Seq((2, 0.4, 0.1), (5, 0.4, 0.1), (5, 0.25, 0.5))) {
      def run(ceiling: Long) = Corpus.ngramLmStats(docs, "doc_id", "text", lm, "text",
        order, lambda, alpha, ceiling)
      val kernelDf = run(Corpus.LmBroadcastMaxRows)
      val joinDf = run(0L)
      assert(kernelDf.queryExecution.executedPlan.toString.contains("ngram_lm_score"))
      assert(joinDf.queryExecution.executedPlan.toString.contains("Join"))
      val kernel = statsOf(kernelDf)
      val join = statsOf(joinDf)
      assert(kernel.keySet == docs.select("doc_id").as[Long].collect().toSet)
      assert(kernel == join, s"order $order: kernel $kernel\njoin $join")
      val interpreted = Corpus.ngramLmStats(localDocs, "doc_id", "text", lm, "text",
        order, lambda, alpha, Corpus.LmBroadcastMaxRows)
      assert(interpreted.queryExecution.executedPlan.toString.contains("LocalTableScan"))
      assert(statsOf(interpreted) == kernel)
      // the cases the spec is for actually occur
      assert(kernel(6L) == ((0L, None)) && kernel(7L) == ((0L, None)) &&
        kernel(8L) == ((0L, None)) && kernel(9L) == ((0L, None)))
      assert(kernel(4L)._1 == 6L && kernel(10L)._1 == 1L && kernel(12L)._1 == 2500L)
      assert(kernel.values.forall(v => v._1 == 0L || v._2.isDefined))
    }
  }

  test("ngramLmFilter keeps the same rows under the kernel and the join arm") {
    val lm = reference.zipWithIndex.map { case (t, i) => (100L + i, t) }.toDF("doc_id", "text")
    val ppl = statsOf(Corpus.ngramLmStats(docs, "doc_id", "text", lm, "text"))
      .values.flatMap(_._2).map(java.lang.Double.longBitsToDouble)
    val maxPpl = ppl.toSeq.sorted.apply(ppl.size / 2)
    def kept(ceiling: Long) = Corpus.ngramLmFilter(docs, "doc_id", "text", lm, "text",
        maxPpl, 5, 0.4, 0.1, ceiling)
      .select("doc_id").as[Long].collect().toSet
    val viaKernel = kept(Corpus.LmBroadcastMaxRows)
    assert(viaKernel == kept(0L))
    // unscored (empty) documents pass; the threshold splits the rest
    assert(Set(6L, 7L, 8L, 9L).subsetOf(viaKernel))
    assert(viaKernel.size > 4 && viaKernel.size < 16)
  }

  test("a gram hit whose history misses yields a null ppl") {
    // only a 64-bit key collision can produce this: the bigram "a b" is
    // counted while the unigram "a" is not
    def key(s: String) = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      s.getBytes("UTF-8"), org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
      s.getBytes("UTF-8").length, NgramLmKernel.Seed)
    val lm = new NgramLm(Array(
      GramCounts.build(Array(key("b")), Array(3L)),
      GramCounts.build(Array(key("a b")), Array(2L))), math.log(0.4), 0.1, 10.0)
    def score(toks: String*) = NgramLmKernel.score(lm,
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        toks.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray))
    val hit = score("a", "b")
    assert(hit.getLong(0) == 2L && hit.isNullAt(1))
    val miss = score("b", "a")
    assert(miss.getLong(0) == 2L && !miss.isNullAt(1))
  }

  test("ngramLmFilter job budget: one call runs at most 6 Spark jobs") {
    val corpus = Tables.load(spark, TestSpark.sf0001, "documents")
    val lm = corpus.where(col("doc_id") % 5 === 0).select("text")
    def run(): Unit = {
      Corpus.ngramLmFilter(corpus, "doc_id", "text", lm, "text", maxPpl = 1000.0).count()
      ()
    }
    run()
    val n = TestSpark.jobsOf(spark)(run())
    assert(n <= 6, s"ngramLmFilter(...).count() ran $n Spark jobs (budget 6)")
  }
}
