package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VecFunctions._
import graft.operators.{IndexStore, IvfIndex, IvfPq, VectorSearch}

/** IVF-PQ composite index: recall against exact search, degeneration to
  * flat PQ at full probe width, partition-pruned probe plan, persisted
  * home round-trip, and metric-mismatch refusal. */
class IvfPqSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  private lazy val emb = Tables.load(spark, TestSpark.sf0001, "embeddings")
  private lazy val src = s"${TestSpark.sf0001}/embeddings.parquet"
  private def queryVec(id: Long): Array[Float] =
    emb.where($"vec_id" === id).select("embedding").as[Array[Float]].head()

  test("reranked IVF-PQ hits gated recall vs exact; full probe + wide rerank is exact") {
    val q = queryVec(3)
    val exact = VectorSearch.topK(emb, "embedding", q, 10, Seq("vec_id"))
      .select("vec_id").as[Long].collect().toSet
    val got = IvfPq.knnIndexed(spark, src, emb, "vec_id", "embedding", q, 10,
        nprobe = 4, rerank = 200, nlist = 8, m = 8, kCent = 16)
      .select("vec_id").as[Long].collect().toSet
    assert(got.intersect(exact).size >= 8, s"recall too low: ${got.intersect(exact).size}/10")
    // probing EVERY cluster with a corpus-wide rerank = exact by construction
    val full = IvfPq.knnIndexed(spark, src, emb, "vec_id", "embedding", q, 10,
        nprobe = 8, rerank = 100000, nlist = 8, m = 8, kCent = 16)
      .select("vec_id").as[Long].collect().toSeq
    val exactSeq = VectorSearch.topK(emb, "embedding", q, 10, Seq("vec_id"))
      .select("vec_id").as[Long].collect().toSeq
    assert(full == exactSeq)
  }

  test("probe scan prunes cluster partitions and merges via TakeOrdered") {
    val q = queryVec(5)
    // the candidate stage carries the probe plan (knnIndexed's fetch is
    // eager, so its returned frame only shows the re-rank)
    val plan = IvfPq.adcShortlist(spark, src, emb, "vec_id", "embedding", q, 50,
        nprobe = 2, nlist = 8, m = 8, kCent = 16)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cluster_id".r.findFirstIn(plan).isDefined,
      "probe does not prune cluster_id partitions")
    assert(plan.contains("TakeOrderedAndProject"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("persisted home round-trips: a fresh load serves identical results") {
    val q = queryVec(11)
    val first = IvfPq.knnIndexed(spark, src, emb, "vec_id", "embedding", q, 10,
        nprobe = 4, rerank = 100, nlist = 8, m = 8, kCent = 16)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // drop the session cache; the home reloads from disk
    IndexStore.invalidate(IvfPq.indexPathFor(spark, src, 8, 8, 16))
    val second = IvfPq.knnIndexed(spark, src, emb, "vec_id", "embedding", q, 10,
        nprobe = 4, rerank = 100, nlist = 8, m = 8, kCent = 16)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(first == second)
  }

  test("by_residual: distinct home, gated recall, exact at full probe + corpus rerank") {
    val q = queryVec(9)
    val exact = VectorSearch.topK(emb, "embedding", q, 10, Seq("vec_id"))
      .select("vec_id").as[Long].collect().toSet
    // residual serving with a modest re-rank hits gated recall (random
    // unit-norm vectors are the hard near-uniform regime)
    val residTop = IvfPq.knnIndexed(spark, src, emb, "vec_id", "embedding", q, 10,
        nprobe = 8, rerank = 100, nlist = 8, m = 8, kCent = 16, byResidual = true)
      .select("vec_id").as[Long].collect().toSet
    assert(residTop.intersect(exact).size >= 8,
      s"residual recall too low: ${residTop.intersect(exact).size}/10")
    // reranked serving is exact-grade like the raw path
    val got = IvfPq.knnIndexed(spark, src, emb, "vec_id", "embedding", q, 10,
        nprobe = 8, rerank = 100000, nlist = 8, m = 8, kCent = 16, byResidual = true)
      .select("vec_id").as[Long].collect().toSeq
    val exactSeq = VectorSearch.topK(emb, "embedding", q, 10, Seq("vec_id"))
      .select("vec_id").as[Long].collect().toSeq
    assert(got == exactSeq)
    // the residual home is keyed apart from the raw home
    assert(IvfPq.indexPathFor(spark, src, 8, 8, 16, byResidual = true) !=
      IvfPq.indexPathFor(spark, src, 8, 8, 16))
  }

  test("mismatched-metric serve is refused, not silently served") {
    val q = queryVec(2)
    IvfPq.knnIndexed(spark, src, emb, "vec_id", "embedding", q, 5,
      nlist = 8, m = 8, kCent = 16) // builds the cosine home
    // different metric → a different home key, so keys never collide…
    val cosHome = IvfPq.indexPathFor(spark, src, 8, 8, 16)
    val l2Home = IvfPq.indexPathFor(spark, src, 8, 8, 16, metric = IvfIndex.MetricL2)
    assert(l2Home != cosHome)
    // …but a DOCTORED home (cosine files copied under the l2 key — a bad
    // restore / manual copy) must REFUSE to serve, never silently rank
    // with the wrong metric. Copy the built home and probe it as l2.
    val conf = spark.sessionState.newHadoopConf()
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(conf)
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new org.apache.hadoop.fs.Path(cosHome),
      fs, new org.apache.hadoop.fs.Path(l2Home), false, conf)
    IndexStore.invalidate(l2Home)
    val e = intercept[IllegalArgumentException] {
      IvfPq.knnIndexed(spark, src, emb, "vec_id", "embedding", q, 5,
        nlist = 8, m = 8, kCent = 16, metric = IvfIndex.MetricL2)
    }
    assert(e.getMessage.contains("refusing to serve 'l2'"), e.getMessage)
    fs.delete(new org.apache.hadoop.fs.Path(l2Home), true)
    // an unknown metric is rejected before anything is built or keyed
    intercept[IllegalArgumentException] {
      IvfPq.knnIndexed(spark, src, emb, "vec_id", "embedding", q, 5,
        nlist = 8, m = 8, kCent = 16, metric = "L2")
    }
  }

  test("by_residual under l2: per-cluster LUT serving is exact at full probe + rerank") {
    // de-normalize so l2 and cosine orderings genuinely differ
    val scaled = emb.select($"vec_id",
      transform($"embedding", x => (x * (($"vec_id" % 7 + 1)).cast("float")).cast("float"))
        .as("embedding"))
    val wh = java.nio.file.Files.createTempDirectory("graft_ivfpq_l2_").toString
    scaled.write.parquet(s"$wh/scaled")
    val sdf = spark.read.parquet(s"$wh/scaled")
    val q = sdf.where($"vec_id" === 4).select("embedding").as[Array[Float]].head()
    val got = IvfPq.knnIndexed(spark, s"$wh/scaled", sdf, "vec_id", "embedding", q, 10,
        nprobe = 8, rerank = 100000, nlist = 8, m = 8, kCent = 16,
        metric = IvfIndex.MetricL2, byResidual = true)
      .select("vec_id").as[Long].collect().toSeq
    val exact = sdf.select($"vec_id",
        (-vecDistanceL2($"embedding", floatVec(q.toIndexedSeq))).as("score"))
      .orderBy($"score".desc, $"vec_id").limit(10)
      .select("vec_id").as[Long].collect().toSeq
    assert(got == exact, s"l2 residual serving diverged: $got vs $exact")
  }

  test("searchLocal: the driver-local tier serves results identical to knnIndexed") {
    // raw codes, residual codes, and residual-l2 — every serving branch
    // of the local tier must match the distributed path row-for-row
    // (same probe ranking, ADC arithmetic, dedup/max rule, tie order)
    for (q <- Seq(queryVec(3), queryVec(9), queryVec(21)); resid <- Seq(false, true)) {
      val dist = IvfPq.knnIndexed(spark, src, emb, "vec_id", "embedding", q, 10,
          nprobe = 4, rerank = 100, nlist = 8, m = 8, kCent = 16, byResidual = resid)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val local = IvfPq.searchLocal(spark, src, emb, "vec_id", "embedding", q, 10,
        nprobe = 4, rerank = 100, nlist = 8, m = 8, kCent = 16, byResidual = resid)
      assert(local == dist, s"local tier diverged (byResidual=$resid)")
    }
    // residual-l2: per-cluster LUT branch over un-normalized vectors
    val scaled = emb.select($"vec_id",
      transform($"embedding", x => (x * (($"vec_id" % 7 + 1)).cast("float")).cast("float"))
        .as("embedding"))
    val wh = java.nio.file.Files.createTempDirectory("graft_ivfpq_loc_").toString
    scaled.write.parquet(s"$wh/scaled")
    val sdf = spark.read.parquet(s"$wh/scaled")
    val q = sdf.where($"vec_id" === 4).select("embedding").as[Array[Float]].head()
    val dist = IvfPq.knnIndexed(spark, s"$wh/scaled", sdf, "vec_id", "embedding", q, 10,
        nprobe = 4, rerank = 100, nlist = 8, m = 8, kCent = 16,
        metric = IvfIndex.MetricL2, byResidual = true)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val local = IvfPq.searchLocal(spark, s"$wh/scaled", sdf, "vec_id", "embedding", q, 10,
      nprobe = 4, rerank = 100, nlist = 8, m = 8, kCent = 16,
      metric = IvfIndex.MetricL2, byResidual = true)
    assert(local == dist, "local tier diverged under residual l2")
  }

  test("searchLocal after its df grew the source serves the grown source's home") {
    // the df thunk appends a part on its first evaluation, inside the
    // first call's build: that call's home was resolved on the old
    // listing, and the next call must serve the grown source's home with
    // its own codes, never the first home's
    val wh = java.nio.file.Files.createTempDirectory("graft_ivfpq_grow_").toString
    val path = s"$wh/emb"
    val rows = emb.select("vec_id", "embedding")
    rows.where($"vec_id" % 2 === 0).write.parquet(path)
    var appended = false
    def grown = {
      val d = spark.read.parquet(path)
      if (!appended) {
        appended = true
        rows.where($"vec_id" % 2 === 1).write.mode("append").parquet(path)
        new java.io.File(path).setLastModified(System.currentTimeMillis() + 5000)
      }
      d
    }
    val q = queryVec(7)
    IvfPq.searchLocal(spark, path, grown, "vec_id", "embedding", q, 10,
      nprobe = 2, rerank = 100, nlist = 8, m = 8, kCent = 16)
    assert(appended)
    val local = IvfPq.searchLocal(spark, path, grown, "vec_id", "embedding", q, 10,
      nprobe = 2, rerank = 100, nlist = 8, m = 8, kCent = 16)
    val dist = IvfPq.knnIndexed(spark, path, grown, "vec_id", "embedding", q, 10,
        nprobe = 2, rerank = 100, nlist = 8, m = 8, kCent = 16)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(dist.head._1 == 7L, s"the grown source's own vector is not its top hit: $dist")
    assert(local == dist, "the local tier served another home's codes")
  }
}
