package graft.store

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.HashEmbedder

/** The frame a serve call returns, whose plans are fixed when the call
  * builds it and whose row deserializer is bound once per kind of call,
  * behaves as `spark.createDataFrame(rows, schema)` of its rows does:
  * schema, every collecting action, frames composed on it, its RDD and a
  * parquet round trip, the SQL-execution events of its actions, and
  * concurrent collects. */
class ResultFrameSpec extends AnyFunSuite {

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
    s"""{"id": $i, "text": "$text", "lang": "${langs(i % 3)}"}"""
  }

  private lazy val coll: Collection = {
    val c = new Collection(spark, "frames", Files.createTempDirectory("graft_frames_").toString)
    c.upsertDocuments((0 until 40).map(doc).toDF("document"))
    c.syncPipeline(pipeline)
    c.awaitMaintenance()
    c
  }

  private val chunks = StructType(Seq("document_id", "document", "chunk")
    .map(StructField(_, StringType)) :+ StructField("score", DoubleType))
  private val documents = StructType(Seq(StructField("document_id", StringType),
    StructField("document", StringType), StructField("score", DoubleType, nullable = false)))
  private val hits = StructType(Seq(StructField("document_id", StringType),
    StructField("chunk_index", IntegerType, nullable = false),
    StructField("score", DoubleType, nullable = false)))

  private def q(i: Int) = s"${words(i % words.length)} ${words((i + 3) % words.length)}"
  private def lang(i: Int) = Some(s"""{"lang": {"$$eq": "${langs(i % 3)}"}}""")

  /** (kind, the schema its frames have, its call with the literals of
    * call `i`); the rerank schema's last column is the scorer's type. */
  private val kinds: Seq[(String, Option[StructType], Int => DataFrame)] = Seq(
    ("vectorSearch", Some(chunks), i =>
      coll.vectorSearch(pipeline, Seq(VectorSearchField("text", q(i))), limit = 6)),
    ("filtered vectorSearch", Some(chunks), i =>
      coll.vectorSearch(pipeline, Seq(VectorSearchField("text", q(i))), limit = 6,
        filterJson = lang(i))),
    ("reranked vectorSearch", None, i =>
      coll.vectorSearch(pipeline, Seq(VectorSearchField("text", q(i))), limit = 6,
        rerank = Some(8))),
    ("hybrid search", Some(documents), i =>
      coll.search(pipeline, semantic = Seq(VectorSearchField("text", q(i))),
        fullText = Seq(FullTextField("text", q(i))), limit = 6)),
    ("filtered hybrid search", Some(documents), i =>
      coll.search(pipeline, semantic = Seq(VectorSearchField("text", q(i))),
        fullText = Seq(FullTextField("text", q(i))), limit = 6, filterJson = lang(i))),
    ("hnswSearch", Some(hits), i =>
      coll.hnswSearch(pipeline, "text", HashEmbedder(32).embedOne(q(i)), 6)))

  private def sorted(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted

  test("each serve kind's frame equals createDataFrame of its rows") {
    kinds.foreach { case (kind, schema, call) =>
      val (frame, other) = (call(1), call(2))
      val want = schema.getOrElse(chunks.add(frame.schema("rerank_score")))
      // the rows through the frame's RDD: a query planned the usual way
      val rows = frame.rdd.collect().toSeq
      assert(rows.size >= 3, s"$kind: too few rows to compare")
      val ref = spark.createDataFrame(rows.asJava, want)
      val refOther = spark.createDataFrame(other.rdd.collect().toSeq.asJava, want)
      assert(frame.schema == want && ref.schema == want, s"$kind schema ${frame.schema}")
      assert(frame.collect().toSeq == rows, s"$kind collect")
      assert(frame.collectAsList().asScala == ref.collectAsList().asScala, s"$kind collectAsList")
      assert(frame.take(3).toSeq == ref.take(3).toSeq, s"$kind take")
      assert(frame.toLocalIterator().asScala.toSeq == ref.toLocalIterator().asScala.toSeq,
        s"$kind toLocalIterator")
      assert(frame.count() == ref.count(), s"$kind count")
      assert(frame.rdd.count() == rows.size.toLong, s"$kind rdd count")

      // composed frames plan as before; `isNotNull` narrows the filter's
      // output nullability, so its deserializer is bound anew
      val cut = rows(rows.size / 2).getDouble(rows.head.fieldIndex("score"))
      def where(df: DataFrame) = df.where(col("score") >= cut && col("document_id").isNotNull)
      assert(where(frame).collect().toSeq == where(ref).collect().toSeq, s"$kind where")
      // two frames of one shape join as two frames, not as a self-join
      def join(a: DataFrame, b: DataFrame) =
        a.join(b, a("document_id") === b("document_id")).select(a("document_id"), b("score"))
      assert(sorted(join(frame, other).collect().toSeq) ==
        sorted(join(ref, refOther).collect().toSeq), s"$kind join")
      assert(frame.union(other).collect().toSeq == ref.union(refOther).collect().toSeq,
        s"$kind union")

      val dir = Files.createTempDirectory("graft_frames_parquet_").toString
      frame.write.parquet(s"$dir/frame")
      ref.write.parquet(s"$dir/ref")
      val (back, refBack) = (spark.read.parquet(s"$dir/frame"), spark.read.parquet(s"$dir/ref"))
      assert(back.schema == refBack.schema, s"$kind parquet schema")
      assert(sorted(back.collect().toSeq) == sorted(rows), s"$kind parquet rows")

      // one SQL execution, reported to QueryExecutionListeners, per collect
      // (the listener sees the session: background merges finish first)
      coll.awaitMaintenance()
      assert(TestSpark.actionsOf(spark) { frame.collect(); frame.collect() } ==
        Seq("collect", "collect"), s"$kind listener")
    }
  }

  test("frames of one shape collected on two threads give the sequential results") {
    // a new shape, so the two threads also race to its first binding
    val shape = new ColumnBridge.ResultShape(chunks)
    def fresh(i: Int) = ColumnBridge.resultFrame(spark, shape, (0 until 5 + i).map(j =>
      InternalRow(UTF8String.fromString(s"d$i-$j"), if (j % 3 == 0) null
        else UTF8String.fromString(s"doc $j"), UTF8String.fromString(q(j)),
        if (j % 4 == 1) null else j * 0.25)))
    val freshWant = (0 until 4).map(i => spark.createDataFrame(
      fresh(i).rdd.collect().toSeq.asJava, chunks).collect().toSeq)
    val serve = kinds.map { case (_, _, call) => (0 until 4).map(call) }
    val serveWant = serve.map(_.map(_.collect().toSeq))
    val frames = (0 until 4).map(fresh) +: serve
    val want = freshWant +: serveWant
    val start = new java.util.concurrent.CyclicBarrier(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val runs = (0 until 2).map { t =>
        pool.submit(new java.util.concurrent.Callable[Seq[String]] {
          def call(): Seq[String] = {
            start.await()
            (0 until 10).flatMap { round =>
              frames.indices.flatMap { k =>
                frames(k).indices.map(i => (i + t + round) % frames(k).size).collect {
                  case i if frames(k)(i).collect().toSeq != want(k)(i) => s"kind $k frame $i"
                }
              }
            }
          }
        })
      }
      runs.foreach(r => assert(r.get().isEmpty, s"a concurrent collect diverged: ${r.get()}"))
    } finally pool.shutdown()
  }
}
