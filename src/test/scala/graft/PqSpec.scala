package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VecFunctions._
import graft.operators.{IndexStore, Pq}

/** Product quantization: deterministic codebooks, ADC-math identity
  * against driver-side reconstruction, recall gates vs exact search, and
  * the persisted-codes twin. */
class PqSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  private lazy val emb = Tables.load(spark, TestSpark.sf0001, "embeddings")

  test("fit is deterministic; codes are in range and rebuild-stable") {
    val a = Pq.fit(emb, "vec_id", "embedding", m = 8, k = 32, iters = 5)
    val b = Pq.fit(emb, "vec_id", "embedding", m = 8, k = 32, iters = 5)
    assert(a.codebook.toSeq == b.codebook.toSeq)
    assert(a.m == 8 && a.subDim == 8)

    val codes = Pq.encodeFrame(emb.limit(100), "embedding", a)
      .select($"pq").as[Array[Byte]].collect()
    codes.foreach { c =>
      assert(c.length == 8)
      c.foreach(byte => assert((byte & 0xFF) < a.k))
    }
    val codes2 = Pq.encodeFrame(emb.limit(100), "embedding", a)
      .select($"pq").as[Array[Byte]].collect()
    assert(codes.map(_.toSeq).toSeq == codes2.map(_.toSeq).toSeq)
  }

  test("ADC score identity: qscore equals dot(query, reconstructed vector)") {
    val model = Pq.fit(emb, "vec_id", "embedding", m = 8, k = 32, iters = 5)
    val q = emb.where($"vec_id" === 3).select("embedding").as[Array[Float]].head()
    val lut = model.lut(q)
    val rows = Pq.encodeFrame(emb.limit(50), "embedding", model)
      .select($"vec_id", $"pq").as[(Long, Array[Byte])].collect()
    val scored = Pq.knn(emb.limit(50), "vec_id", "embedding", q, 50, model)
      .select($"vec_id", $"qscore").as[(Long, Double)].collect().toMap
    rows.foreach { case (id, codes) =>
      // reconstruct: per group, the chosen centroid; ADC must equal the
      // exact dot with that reconstruction (same summation order as lut)
      var want = 0.0
      for (g <- 0 until model.m) want += lut(g * model.k + (codes(g) & 0xFF))
      assert(math.abs(scored(id) - want) < 1e-12, s"id $id")
    }
  }

  test("PQ recall gates: raw ADC ranking and exact-reranked shortlist") {
    val model = Pq.fit(emb, "vec_id", "embedding")
    val q = emb.where($"vec_id" === 7).select("embedding").as[Array[Float]].head()
    val exactIp = emb
      .select($"vec_id", vecDot($"embedding", floatVec(q.toIndexedSeq)).as("ip"))
      .orderBy($"ip".desc, $"vec_id").limit(10)
      .select("vec_id").as[Long].collect().toSet
    val adc = Pq.knn(emb, "vec_id", "embedding", q, 10, model)
      .select("vec_id").as[Long].collect().toSet
    val rawRecall = adc.intersect(exactIp).size / 10.0
    assert(rawRecall >= 0.5, f"raw ADC recall@10 $rawRecall%.2f below gate")

    val exactCos = emb
      .select($"vec_id", cosineSimilarity($"embedding", floatVec(q.toIndexedSeq)).as("c"))
      .orderBy($"c".desc, $"vec_id").limit(10)
      .select("vec_id").as[Long].collect().toSet
    val reranked = Pq.knn(emb, "vec_id", "embedding", q, 10, model, rerank = 100)
      .select("vec_id").as[Long].collect().toSet
    val rerankRecall = reranked.intersect(exactCos).size / 10.0
    assert(rerankRecall >= 0.8, f"reranked recall@10 $rerankRecall%.2f below gate")
    assert(rerankRecall >= rawRecall - 0.2, "rerank should not lose recall")
  }

  test("knnIndexed serves from the persisted home and equals the direct reranked path") {
    val src = s"${TestSpark.sf0001}/embeddings.parquet"
    val q = emb.where($"vec_id" === 7).select("embedding").as[Array[Float]].head()
    val direct = {
      val model = Pq.fit(emb, "vec_id", "embedding")
      Pq.knn(emb, "vec_id", "embedding", q, 10, model, rerank = 100)
        .select($"vec_id", round($"score", 9).as("s")).as[(Long, Double)].collect().toSeq
    }
    val indexed = Pq.knnIndexed(spark, src, emb, "vec_id", "embedding", q, 10, rerank = 100)
    val got = indexed.select($"vec_id", round($"score", 9).as("s"))
      .as[(Long, Double)].collect().toSeq
    assert(got == direct)
    // the re-rank fetch pushes the id shortlist into the parquet scan
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("In(vec_id"), s"expected pushed In(vec_id…), plan:\n$plan")
    // persisted home exists; second call serves from the session cache
    val home = Pq.indexPathFor(spark, src)
    assert(new java.io.File(s"$home/data").exists())
    IndexStore.invalidate(home)
  }

  test("persisted-codes twin scores identically to encode-on-the-fly") {
    val model = Pq.fit(emb, "vec_id", "embedding", m = 8, k = 64, iters = 5)
    val q = emb.where($"vec_id" === 11).select("embedding").as[Array[Float]].head()
    val direct = Pq.knn(emb, "vec_id", "embedding", q, 10, model)
      .select($"vec_id", round($"qscore", 9).as("s")).as[(Long, Double)].collect().toSeq
    val enc = Pq.encodeFrame(emb, "embedding", model)
    val twin = Pq.knnEncoded(enc, "vec_id", "pq", q, 10, model)
      .select($"vec_id", round($"qscore", 9).as("s")).as[(Long, Double)].collect().toSeq
    assert(twin == direct)
  }

  // ---- metric-parameterized LUTs ----

  private lazy val scaled = emb.select($"vec_id",
    vecMulScalar($"embedding", ($"vec_id" % 7 + 1).cast("float")).as("embedding"))

  test("l2 LUT sums to the negated squared distance to the reconstructed vector") {
    val model = Pq.fit(scaled, "vec_id", "embedding", m = 8, k = 16, iters = 5)
    val q = emb.where($"vec_id" === 7).select("embedding").as[Array[Float]].head()
      .map(_ * 1f)
    val lut = model.lutFor(q, graft.operators.HnswIndex.MetricL2)
    val rows = Pq.encodeFrame(scaled.limit(40), "embedding", model)
      .select($"vec_id", $"pq").as[(Long, Array[Byte])].collect()
    rows.foreach { case (id, codes) =>
      val adc = codes.indices.map(g => lut(g * model.k + (codes(g) & 0xFF))).sum
      // reconstruct and measure directly
      val want = -codes.indices.map { g =>
        val off = (g * model.k + (codes(g) & 0xFF)) * model.subDim
        (0 until model.subDim).map { j =>
          val d = q(g * model.subDim + j).toDouble - model.codebook(off + j)
          d * d
        }.sum
      }.sum
      assert(math.abs(adc - want) < 1e-9, s"id $id")
    }
  }

  test("knn metric=l2 with full-width re-rank equals exact L2 top-k; mixed metrics differ") {
    val model = Pq.fit(scaled, "vec_id", "embedding", m = 8, k = 16, iters = 5)
    val q = scaled.where($"vec_id" === 7).select("embedding").as[Array[Float]].head()
    val n = scaled.count().toInt
    val got = Pq.knn(scaled, "vec_id", "embedding", q, 10, model, rerank = n,
        metric = graft.operators.HnswIndex.MetricL2)
      .select($"vec_id").as[Long].collect().toSeq
    val want = scaled
      .select($"vec_id", vecDistanceL2($"embedding", floatVec(q.toIndexedSeq)).as("d"))
      .orderBy($"d".asc, $"vec_id".asc).limit(10)
      .select($"vec_id").as[Long].collect().toSeq
    assert(got == want)
    // on de-normalized vectors the ip ordering is genuinely different
    val ip = Pq.knn(scaled, "vec_id", "embedding", q, 10, model, rerank = n,
        metric = graft.operators.HnswIndex.MetricIp)
      .select($"vec_id").as[Long].collect().toSeq
    assert(ip != got)
  }
}
