package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AnnServing, HnswIndex, IvfIndex, IvfPq}

/** The unified driver-local serving entry: all three families through
  * AnnServing.localProber, each bit-identical to its family's distributed
  * path (the facade adds dispatch only, never arithmetic). */
class AnnServingSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  private lazy val emb = Tables.load(spark, TestSpark.sf0001, "embeddings")
  private lazy val src = s"${TestSpark.sf0001}/embeddings.parquet"
  private def queryVec(id: Long): Array[Float] =
    emb.where($"vec_id" === id).select("embedding").as[Array[Float]].head()

  test("serveLocal(hnsw|ivf|ivfpq) equals each family's distributed search") {
    val queries = Seq(3L, 9L, 21L).map(queryVec)
    val p = AnnServing.LocalParams(nlist = 16, pqNlist = 8, kCent = 16, rerank = 100)

    for (q <- queries) {
      val hnswDist = HnswIndex
        .serveOrBuild(spark, src, emb, "embedding", "vec_id")
        .search(q, 10, ef = 0, idName = "vec_id")
        .as[(Long, Double)].collect().toSeq
      assert(AnnServing.localProber(spark, "hnsw", src, emb, "vec_id", "embedding", p)(
        q, 10) == hnswDist, "hnsw facade diverged")

      val ivfDist = IvfIndex.serveOrBuild(spark, src, emb, "embedding", nlist = 16)
        .search(q, 10, p.nprobe, Seq("vec_id"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(AnnServing.localProber(spark, "ivf", src, emb, "vec_id", "embedding", p)(
        q, 10) == ivfDist, "ivf facade diverged")

      val pqDist = IvfPq.knnIndexed(spark, src, emb, "vec_id", "embedding", q, 10,
          nprobe = p.nprobe, rerank = p.rerank, nlist = p.pqNlist, m = p.m,
          kCent = p.kCent)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(AnnServing.localProber(spark, "ivfpq", src, emb, "vec_id", "embedding", p)(
        q, 10) == pqDist, "ivfpq facade diverged")
    }
  }

  test("localProber (resolve-once handle) equals per-call serveLocal for all families") {
    val queries = Seq(3L, 9L, 21L).map(queryVec)
    val p = AnnServing.LocalParams(nlist = 16, pqNlist = 8, kCent = 16, rerank = 100)
    for (fam <- AnnServing.Families) {
      val probe = AnnServing.localProber(spark, fam, src, emb, "vec_id", "embedding", p)
      for (q <- queries)
        assert(probe(q, 10) ==
          AnnServing.localProber(spark, fam, src, emb, "vec_id", "embedding", p)(q, 10),
          s"$fam prober diverged from per-call serveLocal")
    }
  }

  test("distributedProber (prepared tier) equals serveLocal for hnsw/ivf; ivfpq refuses") {
    val queries = Seq(3L, 9L, 21L).map(queryVec)
    val p = AnnServing.LocalParams(nlist = 16)
    for (fam <- AnnServing.DistributedFamilies) {
      val probe = AnnServing.distributedProber(spark, fam, src, emb, "vec_id", "embedding", p)
      for (q <- queries)
        assert(probe(q, 10) ==
          AnnServing.localProber(spark, fam, src, emb, "vec_id", "embedding", p)(q, 10),
          s"$fam distributed prober diverged from the local tier")
    }
    val err = intercept[IllegalArgumentException] {
      AnnServing.distributedProber(spark, "ivfpq", src, emb, "vec_id", "embedding", p)
    }
    assert(err.getMessage.contains("hnsw/ivf"))
  }

  test("unknown family refuses loudly") {
    val err = intercept[IllegalArgumentException] {
      AnnServing.localProber(spark, "flat", src, emb, "vec_id", "embedding")(
        queryVec(3), 10)
    }
    assert(err.getMessage.contains("hnsw/ivf/ivfpq"))
    val err2 = intercept[IllegalArgumentException] {
      AnnServing.localProber(spark, "flat", src, emb, "vec_id", "embedding")
    }
    assert(err2.getMessage.contains("hnsw/ivf/ivfpq"))
  }
}
