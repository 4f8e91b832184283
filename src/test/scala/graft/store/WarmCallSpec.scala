package graft.store

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.HashEmbedder
import graft.functions.VecFunctions.{cosineSimilarity, floatVec}
import graft.ml.Trainer
import graft.operators.IndexStore

/** A warm serving call does only the work its own inputs need: no
  * Analyzer or optimizer rule runs and no closure is cleaned inside
  * `vectorSearch` (plain and filtered), hybrid `search` (plain and
  * filtered), `hnswSearch` or `predictRow`, and the caller's `collect()`
  * of the frame a call returns plans nothing. The bindings behind that — a prepared
  * read's Columns analyzed once per shape — give what a fresh analysis
  * gives for any literals, die with their read's plan, and share no state
  * between concurrent calls. */
class WarmCallSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  private val pipeline = Pipeline("p", Seq(PipelineField("text",
    splitter = Some((60, 10)), semanticSearch = Some(HashEmbedder(32)),
    fullTextSearch = true, hnswIndex = Some((8, 32)))))
  private val words = Array("spark", "data", "engine", "query", "vector", "table",
    "join", "batch", "stream", "index", "graph", "model")
  private val langs = Array("en", "de", "fr")

  private def doc(i: Int): String = {
    val r = new java.util.SplittableRandom(i)
    val text = Seq.fill(8 + i % 15)(words(r.nextInt(words.length))).mkString(" ")
    s"""{"id": $i, "text": "$text", "lang": "${langs(i % 3)}", "kind": ${i % 4}}"""
  }

  private lazy val wh = Files.createTempDirectory("graft_warm_").toString
  private lazy val coll: Collection = {
    val c = new Collection(spark, "warm", wh)
    c.upsertDocuments((0 until 40).map(doc).toDF("document"))
    c.syncPipeline(pipeline)
    c.awaitMaintenance()
    c
  }
  private lazy val registry = {
    val t = new Trainer(spark, s"$wh/registry")
    t.train("warm", "regression", (0 until 40).map(i => (i % 7 * 1.0, i % 5 * 1.0, i * 2.0))
      .toDF("tc", "uniq", "y"), Some("y"), "linear", testSize = 0.0)
    t.registry
  }

  private def lang(l: String) = s"""{"lang": {"$$eq": "$l"}}"""
  private def vectorSearch(q: String, filter: Option[String] = None): Seq[Row] =
    coll.vectorSearch(pipeline, Seq(VectorSearchField("text", q)), limit = 5,
      filterJson = filter).collect().toSeq
  private def hybrid(q: String, filter: Option[String] = None): Seq[Row] =
    coll.search(pipeline, semantic = Seq(VectorSearchField("text", q)),
      fullText = Seq(FullTextField("text", q)), limit = 5, filterJson = filter).collect().toSeq
  private def predictRow(tc: Double): Double =
    registry.predictRow("warm", Map("tc" -> tc, "uniq" -> 2.0))

  /** Each call kind that returns a frame, with the literals of call `i`:
    * every call of a kind has one shape (two query terms, one filter
    * value), other values. */
  private val frameKinds: Seq[(String, Int => DataFrame)] = Seq(
    "vectorSearch" -> (i => coll.vectorSearch(pipeline,
      Seq(VectorSearchField("text", s"${words(i)} ${words(i + 1)}")), limit = 5)),
    "filtered vectorSearch" -> (i => coll.vectorSearch(pipeline,
      Seq(VectorSearchField("text", s"${words(i)} graph")), limit = 5,
      filterJson = Some(lang(langs(i % 3))))),
    "hybrid search" -> (i => coll.search(pipeline,
      semantic = Seq(VectorSearchField("text", s"${words(i)} ${words(i + 2)}")),
      fullText = Seq(FullTextField("text", s"${words(i)} ${words(i + 2)}")), limit = 5)),
    "filtered hybrid search" -> (i => coll.search(pipeline,
      semantic = Seq(VectorSearchField("text", s"${words(i)} model")),
      fullText = Seq(FullTextField("text", s"${words(i)} model")), limit = 5,
      filterJson = Some(lang(langs(i % 3))))),
    "hnswSearch" -> (i => coll.hnswSearch(pipeline, "text",
      HashEmbedder(32).embedOne(s"${words(i)} ${words(i + 3)}"), 5)))
  private val kinds: Seq[(String, Int => Any)] =
    frameKinds :+ ("predictRow" -> ((i: Int) => predictRow(i.toDouble)))

  test("a warm serve call runs no analyzer or optimizer rule and cleans no closure") {
    kinds.foreach { case (_, call) => call(0); call(1) }
    coll.awaitMaintenance()
    // (kind, rule runs, closure cleans); rule runs are counted
    // process-wide: the least of three calls discounts rules another
    // suite's background work ran meanwhile
    val counts = kinds.map { case (what, call) =>
      (what, (2 to 4).map(i => TestSpark.ruleRunsOf(call(i))).min,
        TestSpark.closureCleansOf(call(5)))
    }
    assert(counts.forall(_._2 == 0), s"Catalyst rules ran: $counts")
    assert(counts.forall(_._3 == 0), s"closures were cleaned: $counts")
  }

  test("the caller's collect of a warm call's frame runs no planning and cleans no closure") {
    frameKinds.foreach { case (_, call) => call(0).collect(); call(1).collect() }
    coll.awaitMaintenance()
    // (kind, rule runs, closure cleans) of collect() alone, the frame built
    // before; rule runs are the least of three, as above
    val counts = frameKinds.map { case (what, call) =>
      (what, (2 to 4).map { i => val frame = call(i); TestSpark.ruleRunsOf(frame.collect()) }.min,
        { val frame = call(5); TestSpark.closureCleansOf(frame.collect()) })
    }
    // optimizing and planning the frame's relation and resolving its row
    // deserializer ran ~390 rules per collect; what is left is Spark's code
    // generator canonicalizing the scan's unsafe projection (one run per
    // column) and the deserializer's safe projection (one run)
    assert(counts.forall(_._2 <= 39), s"collect planned: $counts")
    assert(counts.forall(_._3 == 0), s"collect cleaned closures: $counts")
  }

  test("a same-shape filter bind gives a fresh analysis's verdict for other values") {
    val c = new Collection(spark, "verdicts", Files.createTempDirectory("graft_memo_").toString)
    c.upsertDocuments((0 until 30).map { i =>
      val extra = if (i % 3 == 0) "" else s""", "score": ${i * 1.5}, "tag": "t${i % 4}""""
      val nested = if (i % 5 == 0) s""", "meta": {"n": $i}""" else ""
      s"""{"id": $i, "kind": ${i % 2}, "big": ${9007199254740993L + i}$extra$nested}"""
    }.toDF("document"))
    val ids = c.documents.select("source_uuid").as[String].collect().toSeq
    val read = c.docPayloads
    val rows = read.lookup(Seq("source_uuid"), ids.map(Seq(_)))
    def cond(f: String) =
      FilterCompiler.compile(f, FilterCompiler.jsonStringResolver(col("document")))
    // ResidentIndexSpec's filters, then each with other values of one shape
    Seq(
      """{"kind": 1}""" -> """{"kind": 0}""",
      """{"kind": {"$ne": 1}}""" -> """{"kind": {"$ne": 0}}""",
      """{"score": {"$gt": 10}}""" -> """{"score": {"$gt": 30}}""",
      """{"score": {"$lte": 7.5}}""" -> """{"score": {"$lte": 19.5}}""",
      """{"tag": {"$in": ["t1", "t3"]}}""" -> """{"tag": {"$in": ["t0", "t2"]}}""",
      """{"tag": {"$nin": ["t1"]}}""" -> """{"tag": {"$nin": ["t2"]}}""",
      """{"kind": {"$in": [1, 2.5]}}""" -> """{"kind": {"$in": [0, 3.5]}}""",
      """{"big": {"$eq": 9007199254740995}}""" -> """{"big": {"$eq": 9007199254741001}}""",
      """{"meta": {"n": {"$gte": 10}}}""" -> """{"meta": {"n": {"$gte": 20}}}""",
      """{"$or": [{"kind": 0}, {"score": {"$lt": 5}}]}""" ->
        """{"$or": [{"kind": 1}, {"score": {"$lt": 9}}]}""",
      """{"$not": {"tag": "t2"}}""" -> """{"$not": {"tag": "t0"}}""",
      """{"$and": [{"kind": 1}, {"tag": {"$ne": "t3"}}]}""" ->
        """{"$and": [{"kind": 0}, {"tag": {"$ne": "t2"}}]}""",
      """{"tag": {"$in": []}}""" -> """{"tag": {"$in": []}}""",
      """{"missing": {"$ne": 3}}""" -> """{"missing": {"$ne": 4}}""").foreach { case (f, g) =>
      read.predicate(spark, cond(f))
      var pass: org.apache.spark.sql.catalyst.InternalRow => Boolean = null
      val rules = TestSpark.ruleRunsOf { pass = read.predicate(spark, cond(g)) }
      assert(rules == 0, s"filter $g re-analyzed after $f")
      val want = c.documents.where(cond(g)).select("source_uuid").as[String].collect().toSet
      assert(rows.filter(pass).map(SnapshotRead.string(_, 0)).toSet == want, s"filter $g")
    }
  }

  test("same-shape value binds give a fresh analysis's bits for other vectors and terms") {
    val arms = Seq[(String, String => org.apache.spark.sql.Column)](
      "embeddings" -> (q => cosineSimilarity(col("embedding"),
        floatVec(HashEmbedder(32).embedOne(q).toIndexedSeq)) * 0.75),
      "tsvectors" -> (q => TsRank.rank(col("terms"), q) * 1.5))
    val keys = coll.chunks(pipeline, "text").select("document_id", "chunk_index")
      .as[(String, Int)].collect().toSeq.map { case (d, i) => Seq(d, i) }
    arms.foreach { case (table, score) =>
      def read = if (table == "embeddings") coll.chunkVectors(pipeline, "text")
        else coll.chunkTerms(pipeline, "text")
      val rows = read.lookup(Seq("document_id", "chunk_index"), keys)
      Seq("vector graph", "join index", "stream stream model").foreach { q =>
        read.value(spark, score("spark data"))
        var memo: org.apache.spark.sql.catalyst.expressions.Expression = null
        val rules = TestSpark.ruleRunsOf { memo = read.value(spark, score(q)) }
        assert(rules == 0, s"$table $q re-analyzed")
        // a fresh analysis: the home's plans dropped, so its memo with them
        IndexStore.invalidate(s"$wh/warm/p/text_$table")
        val fresh = read.value(spark, score(q))
        val bits = (e: org.apache.spark.sql.catalyst.expressions.Expression) =>
          rows.map(r => java.lang.Double.doubleToRawLongBits(e.eval(r).asInstanceOf[Double]))
            .toSeq
        assert(bits(memo) == bits(fresh), s"$table $q")
      }
    }
  }

  test("a listing change drops the memo together with its plan") {
    val c = new Collection(spark, "listing", Files.createTempDirectory("graft_memo_").toString)
    c.upsertDocuments((0 until 6).map(doc).toDF("document"))
    val filter = FilterCompiler.compile(lang("en"), FilterCompiler.jsonStringResolver(col("document")))
    val before = c.docPayloads
    before.predicate(spark, filter)
    assert(TestSpark.ruleRunsOf(c.docPayloads.predicate(spark, filter)) == 0)
    c.upsertDocuments(Seq(doc(6)).toDF("document"))
    val after = c.docPayloads
    assert(after.plan ne before.plan, "the listing change kept the plan")
    assert(TestSpark.ruleRunsOf(after.predicate(spark, filter)) > 0,
      "the new plan's first bind found a memo")
    assert(TestSpark.ruleRunsOf(after.predicate(spark, filter)) == 0)
  }

  test("concurrent search, filtered vectorSearch and predictRow give the sequential results") {
    val calls: IndexedSeq[() => Any] = (0 until 9).map { i =>
      val q = s"${words(i)} ${words(i + 3)}"
      i % 3 match {
        case 0 => () => hybrid(q, if (i % 2 == 0) Some(lang(langs(i % 3))) else None)
        case 1 => () => vectorSearch(q, Some(lang(langs(i % 3))))
        case _ => () => predictRow(i * 1.5)
      }
    }
    val want = calls.map(_())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val runs = (0 until 2).map { t =>
        pool.submit(new java.util.concurrent.Callable[Seq[Boolean]] {
          def call(): Seq[Boolean] = (0 until 4).flatMap { _ =>
            calls.indices.map(j => (j + t * 4) % calls.size).map(j => calls(j)() == want(j))
          }
        })
      }
      runs.foreach(r => assert(r.get().forall(identity), "a concurrent call diverged"))
    } finally pool.shutdown()
  }
}
