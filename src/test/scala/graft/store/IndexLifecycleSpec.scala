package graft.store

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}
import graft.functions.HashEmbedder
import graft.operators.{AnnServing, HnswIndex, IndexStore, LocalResidency, Pq, Quantized}

/** One invalidation call drops the served state of every index family:
  * the prepared probe RDDs and cached frames leave Spark's storage, the
  * driver-local tiers leave [[LocalResidency]], the home's deserialized
  * HNSW graphs leave the executor graph cache, and the next serve builds
  * it all again with identical results. */
class IndexLifecycleSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def graphsUnder(dir: String): Int =
    HnswIndex.graphCache.keys.count(k => IndexStore.isUnder(k._1, dir))

  private def scores(df: DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  /** Assert `serve` left state behind, `invalidate` dropped all of it, and
    * a second serve answers as the first did. */
  private def assertReleased(serve: () => Seq[Any], graphHome: String)(
      invalidate: => Unit): Unit = {
    LocalResidency.evictAll()
    val before = persisted
    val first = serve()
    assert((persisted -- before).nonEmpty, "nothing was persisted to release")
    assert(graphsUnder(graphHome) > 0, "no HNSW graph was deserialized")
    invalidate
    assert((persisted -- before).isEmpty,
      s"RDDs left persisted: ${(persisted -- before).map(spark.sparkContext.getPersistentRDDs)}")
    assert(LocalResidency.usedBytes == 0L, s"tiers left resident: ${LocalResidency.resident}")
    assert(graphsUnder(graphHome) == 0, "HNSW graphs left in the graph cache")
    assert(serve() == first, "the rebuilt state answered differently")
  }

  test("one invalidateSource call releases all five ANN families and the source's read") {
    val src = Files.createTempDirectory("graft_lifecycle_").toString + "/emb"
    Tables.load(spark, TestSpark.sf0001, "embeddings").select("vec_id", "embedding")
      .write.parquet(src)
    def emb = spark.read.parquet(src)
    val q = emb.where($"vec_id" === 3).select("embedding").as[Array[Float]].head()
    val p = AnnServing.LocalParams(nlist = 16, pqNlist = 8, kCent = 16, rerank = 100)
    def serve(): Seq[Any] =
      AnnServing.Families.map(f =>
        AnnServing.localProber(spark, f, src, emb, "vec_id", "embedding", p)(q, 10)) ++
      AnnServing.DistributedFamilies.map(f =>
        AnnServing.distributedProber(spark, f, src, emb, "vec_id", "embedding", p)(q, 10)) ++
      Seq(scores(Pq.knnIndexed(spark, src, emb, "vec_id", "embedding", q, 10, kCent = 16)),
        scores(Quantized.binaryKnnIndexed(spark, src, emb, "vec_id", "embedding", q, 10)),
        SnapshotRead(src, Seq("vec_id"))(emb).lookup(Seq("vec_id"), Seq(Seq(3L)))
          .map(_.getLong(0)).toSeq)
    assertReleased(() => serve(), HnswIndex.indexPathFor(spark, src)) {
      IndexStore.invalidateSource(src)
    }
    IndexStore.invalidateSource(src)
  }

  test("one invalidateUnder call releases a Collection's index handle and reads") {
    val wh = Files.createTempDirectory("graft_lifecycle_c_").toString
    val pipeline = Pipeline("p", Seq(PipelineField("body",
      splitter = Some((100000, 0)), semanticSearch = Some(HashEmbedder(32)),
      hnswIndex = Some((8, 32)))))
    val c = new Collection(spark, "lc", wh)
    c.upsertDocuments((0 until 30).map(i =>
      s"""{"id": $i, "body": "doc $i ${"idea " * (i % 5 + 1)}", "kind": ${i % 2}}""")
      .toDF("document"))
    c.syncPipeline(pipeline)
    def serve(): Seq[Seq[Row]] = Seq(None, Some("""{"kind": {"$eq": 1}}""")).map(f =>
      c.vectorSearch(pipeline, Seq(VectorSearchField("body", "doc 3 idea")), limit = 5,
        filterJson = f).collect().toSeq)
    assertReleased(() => serve(), s"$wh/lc") {
      IndexStore.invalidateUnder(s"$wh/lc")
    }
    IndexStore.invalidateUnder(s"$wh/lc")
  }
}
