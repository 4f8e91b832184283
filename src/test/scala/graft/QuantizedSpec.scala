package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VecFunctions._
import graft.operators.{Quantized, VectorSearch}

/** Quantized vector search: binary sign-bit signatures + Hamming prefilter
  * and SQ8 ADC scoring (operators/Quantized.scala). Kernel bit-math is
  * pinned against naive Scala references; end-to-end results are pinned
  * against exact brute-force KNN.
  */
class QuantizedSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  private lazy val emb = Tables.load(spark, TestSpark.sf0001, "embeddings")

  private def naivePack(v: Array[Float]): Array[Long] = {
    val words = new Array[Long]((v.length + 63) / 64)
    for (i <- v.indices if v(i) > 0f) words(i / 64) |= 1L << (i % 64)
    words
  }

  test("sign-pack expression matches naive packing across dims 1/63/64/65/130") {
    val rnd = new scala.util.Random(7)
    for (dim <- Seq(1, 63, 64, 65, 130)) {
      val vecs = (0 until 20).map { i =>
        // mix negatives, exact zeros, positives
        (i.toLong, Array.tabulate(dim)(d =>
          if ((i + d) % 7 == 0) 0f else rnd.nextFloat() - 0.5f))
      }
      val got = vecs.toDF("id", "v")
        .select($"id", vecSignPack($"v").as("sig"))
        .orderBy("id").as[(Long, Array[Long])].collect()
      vecs.zip(got).foreach { case ((_, v), (_, sig)) =>
        assert(sig.toSeq == naivePack(v).toSeq, s"dim $dim")
      }
    }
  }

  test("packQuery agrees with the column expression; hamming counts sign mismatches") {
    val rnd = new scala.util.Random(11)
    val a = Array.fill(130)(rnd.nextFloat() - 0.5f)
    val b = Array.fill(130)(rnd.nextFloat() - 0.5f)
    assert(Quantized.packQuery(a).toSeq ==
      Seq((1L, a)).toDF("id", "v").select(vecSignPack($"v"))
        .as[Array[Long]].head().toSeq)
    val expected = a.indices.count(i => (a(i) > 0f) != (b(i) > 0f))
    val got = Seq((Quantized.packQuery(a), Quantized.packQuery(b)))
      .toDF("sa", "sb").select(vecHamming($"sa", $"sb")).as[Int].head()
    assert(got == expected)
  }

  test("SQL surface: vec_sign_pack / vec_hamming / sq8 functions registered") {
    VecFunctions_registerAll()
    val r = spark.sql(
      """SELECT vec_hamming(vec_sign_pack(array(CAST(1.0 AS FLOAT), CAST(-1.0 AS FLOAT))),
        |                   vec_sign_pack(array(CAST(-1.0 AS FLOAT), CAST(-1.0 AS FLOAT)))) AS h
        |""".stripMargin).as[Int].head()
    assert(r == 1)
    // sq8: code 255 for max, 0 for min; ADC = base + w·code
    val s = spark.sql(
      """SELECT sq8_adc_dot(
        |  sq8_encode(array(CAST(1.0 AS FLOAT)), array(0.0D), array(1.0D/255)),
        |  array(2.0D/255), 3.0D) AS v""".stripMargin)
      .as[Double].head()
    assert(math.abs(s - (3.0 + 255 * (2.0 / 255))) < 1e-12)
    // pq: a 1-subspace/2-centroid codebook — the vector snaps to centroid 1
    // (value 1.0), whose LUT entry is 7.0
    val p = spark.sql(
      """SELECT pq_adc_dot(
        |  pq_encode(array(CAST(0.9 AS FLOAT)),
        |            array(CAST(0.0 AS FLOAT), CAST(1.0 AS FLOAT)), 1, 2),
        |  array(5.0D, 7.0D)) AS v""".stripMargin)
      .as[Double].head()
    assert(p == 7.0)
  }

  test("fetchShortlist regimes agree: In-pushdown vs broadcast join") {
    val q = emb.where($"vec_id" === 5).select("embedding").as[Array[Float]].head()
    val src = s"${TestSpark.sf0001}/embeddings.parquet"
    def run(pushMax: Int) = Quantized.binaryKnnIndexed(
        spark, src, emb, "vec_id", "embedding", q, 10, rerank = 100,
        inPushdownMax = pushMax)
    val viaIn = run(pushMax = 8192)
    val viaBc = run(pushMax = 0) // forces the broadcast regime
    assert(viaIn.queryExecution.executedPlan.toString.contains("In(vec_id"))
    assert(viaBc.queryExecution.executedPlan.toString.toLowerCase.contains("broadcast"))
    assert(viaIn.as[(Long, Double)].collect().toSeq ==
      viaBc.as[(Long, Double)].collect().toSeq)
  }
  private def VecFunctions_registerAll(): Unit =
    graft.functions.VecFunctions.registerAll(spark)

  test("sq8: reconstruction error bounded by scale/2, degenerate dims code 0, clamp holds") {
    val model = Quantized.sq8Fit(emb, "embedding")
    assert(model.dim == 64)
    val codes = Quantized.sq8EncodeFrame(emb.limit(50), "embedding", model)
      .select($"embedding", $"sq8").as[(Array[Float], Array[Byte])].collect()
    codes.foreach { case (v, c) =>
      assert(c.length == 64)
      v.indices.foreach { d =>
        val code = c(d) & 0xFF
        val deq = model.mins(d) + code * model.scales(d)
        if (model.scales(d) == 0.0) assert(code == 0)
        else assert(math.abs(deq - v(d)) <= model.scales(d) / 2 + 1e-12,
          s"dim $d: v=${v(d)} deq=$deq scale=${model.scales(d)}")
      }
    }
    // clamp: a vector outside the fitted range still codes within [0,255]
    val wild = Seq((1L, Array.fill(64)(1e9f)), (2L, Array.fill(64)(-1e9f)))
      .toDF("id", "v")
    val wc = Quantized.sq8EncodeFrame(wild, "v", model, "c")
      .select($"c").as[Array[Byte]].collect()
    assert(wc(0).forall(b => (b & 0xFF) == 255))
    assert(wc(1).forall(b => (b & 0xFF) == 0))
  }

  test("binaryKnn with rerank = N reproduces exact KNN; shortlist rerank hits high recall") {
    val q = emb.where($"vec_id" === 7).select("embedding").as[Array[Float]].head()
    val n = emb.count().toInt
    val exact = VectorSearch.topK(emb, "embedding", q, 10, Seq("vec_id"))
      .select($"vec_id", round($"score", 9).as("score"))
      .as[(Long, Double)].collect().toSeq
    val full = Quantized.binaryKnn(emb, "vec_id", "embedding", q, 10, rerank = n)
      .select($"vec_id", round($"score", 9).as("score"))
      .as[(Long, Double)].collect().toSeq
    assert(full == exact)

    // Hamming is a proxy: a 100-candidate shortlist must recover most of
    // the true top-10 (random uniform vectors are the worst case; real
    // embeddings correlate sign patterns far more strongly)
    val short = Quantized.binaryKnn(emb, "vec_id", "embedding", q, 10, rerank = 100)
      .select("vec_id").as[Long].collect().toSet
    val recall = short.intersect(exact.map(_._1).toSet).size / 10.0
    assert(recall >= 0.5, f"binary shortlist recall@10 $recall%.2f below gate")
  }

  test("binaryKnnIndexed equals one-pass binaryKnn; candidate fetch pushes id filter to parquet") {
    val q = emb.where($"vec_id" === 21).select("embedding").as[Array[Float]].head()
    val src = s"${TestSpark.sf0001}/embeddings.parquet"
    val onePass = Quantized.binaryKnn(emb, "vec_id", "embedding", q, 10, rerank = 80)
      .select($"vec_id", round($"score", 9).as("score")).as[(Long, Double)].collect().toSeq
    val indexed = Quantized.binaryKnnIndexed(
      spark, src, emb, "vec_id", "embedding", q, 10, rerank = 80)
    val got = indexed.select($"vec_id", round($"score", 9).as("score"))
      .as[(Long, Double)].collect().toSeq
    assert(got == onePass)

    // the re-rank scan must carry the In(vec_id, …) filter into the
    // parquet source (row-group pruning on id stats at scale)
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(vec_id"),
      s"expected pushed In(vec_id…) filter, plan:\n$plan")

    // the persisted home exists and serves from the session cache
    val home = Quantized.indexPathFor(spark, src)
    assert(new java.io.File(s"$home/data").exists())
    Quantized.invalidate(home)
  }

  test("Collection sync builds the per-field signature table; binarySearch matches brute force") {
    import org.apache.spark.sql.functions.{col, get_json_object, struct, to_json}
    val wh = java.nio.file.Files.createTempDirectory("graft_bin_coll_").toString
    val c = new graft.store.Collection(spark, "binc", wh)
    val docs = Tables.load(spark, TestSpark.sf0001, "documents").limit(200)
      .select(to_json(struct(col("doc_id").as("id"), col("text"))).as("document"))
    c.upsertDocuments(docs)
    val p = graft.store.Pipeline("p", Seq(graft.store.PipelineField(
      "text", splitter = Some((100000, 0)), binaryIndex = true)))
    c.syncPipeline(p)

    val qv = graft.functions.HashEmbedder(64).embedOne("spark query table join")
    // rerank = corpus size → exact, comparable to brute force
    val n = c.embeddings(p, "text").count().toInt
    val viaBin = c.binarySearch(p, "text", qv, 5, rerank = n)
      .select("document_id").as[String].collect().toSeq
    val exact = VectorSearch.topK(c.embeddings(p, "text"), "embedding", qv, 5,
        Seq("document_id", "chunk_index"))
      .select("document_id").as[String].collect().toSeq
    assert(viaBin == exact)

    // a field without binaryIndex refuses instead of scanning unindexed
    val bare = graft.store.Pipeline("q", Seq(graft.store.PipelineField("text")))
    intercept[IllegalArgumentException] { c.binarySearch(bare, "text", qv, 5) }

    // delete cascades to the signature table: the deleted doc can never
    // surface as a candidate again
    val victim = c.binarySearch(p, "text", qv, 1, rerank = n)
      .select("document_id").as[String].head()
    val victimId = c.documents
      .where(col("source_uuid") === victim)
      .select(get_json_object(col("document"), "$.id")).as[String].head()
    c.deleteDocuments(s"""{"id": {"$$eq": $victimId}}""")
    val after = c.binarySearch(p, "text", qv, 5, rerank = n)
      .select("document_id").as[String].collect().toSeq
    val exactAfter = VectorSearch.topK(c.embeddings(p, "text"), "embedding", qv, 5,
        Seq("document_id", "chunk_index"))
      .select("document_id").as[String].collect().toSeq
    assert(!after.contains(victim))
    assert(after == exactAfter)
  }

  test("vectorSearch uses configured per-field indexes; full-width results equal the exact scan") {
    import org.apache.spark.sql.functions.{col, struct, to_json}
    val wh = java.nio.file.Files.createTempDirectory("graft_vsidx_").toString
    val c = new graft.store.Collection(spark, "vsidx", wh)
    val docs = Tables.load(spark, TestSpark.sf0001, "documents").limit(200)
      .select(to_json(struct(col("doc_id").as("id"), col("text"))).as("document"))
    c.upsertDocuments(docs)
    def field(bin: Boolean, hnsw: Option[(Int, Int)], width: Int) =
      graft.store.PipelineField("text", splitter = Some((100000, 0)),
        binaryIndex = bin, hnswIndex = hnsw, annEf = width, annRerank = width)
    val q = Seq(graft.store.VectorSearchField("text", "spark query table join"))

    val exactP = graft.store.Pipeline("exact", Seq(field(bin = false, None, 0)))
    c.syncPipeline(exactP)
    val exact = c.vectorSearch(exactP, q, limit = 5)
      .select("document_id").as[String].collect().toSeq

    val n = c.embeddings(exactP, "text").count().toInt
    val binP = graft.store.Pipeline("viabin", Seq(field(bin = true, None, n)))
    c.syncPipeline(binP)
    val viaBin = c.vectorSearch(binP, q, limit = 5)
      .select("document_id").as[String].collect().toSeq
    assert(viaBin == exact)

    val hnswP = graft.store.Pipeline("viahnsw", Seq(field(bin = false, Some((8, 32)), n)))
    c.syncPipeline(hnswP)
    val viaHnsw = c.vectorSearch(hnswP, q, limit = 5)
      .select("document_id").as[String].collect().toSeq
    assert(viaHnsw == exact)

    // IVF-only field: served through the ivfflat home (nlist = 2 → the
    // default ⌈√nlist⌉ probe sweeps every cluster, so results are exact);
    // a plan the call executed must show the cluster-pruned scan, proving
    // the index path actually served the query (the returned frame is a
    // materialized local relation, so the scan lives in the call's own
    // queries, which a listener sees)
    val ivfP = graft.store.Pipeline("viaivf", Seq(graft.store.PipelineField(
      "text", splitter = Some((100000, 0)), vectorIndex = Some(2))))
    c.syncPipeline(ivfP)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val planListener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = {
        plans.add(qe.executedPlan.toString); ()
      }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(planListener)
    val viaIvfDf =
      try {
        val df = c.vectorSearch(ivfP, q, limit = 5)
        // listener delivery is asynchronous
        val deadline = System.currentTimeMillis() + 10000
        while (!plans.toArray.exists(_.toString.contains("cluster_id")) &&
            System.currentTimeMillis() < deadline) Thread.sleep(50)
        df
      } finally spark.listenerManager.unregister(planListener)
    assert(plans.toArray.exists(_.toString.contains("cluster_id")))
    val viaIvf = viaIvfDf.select("document_id").as[String].collect().toSeq
    assert(viaIvf == exact)

    // a metadata filter is served THROUGH the index (over-fetch →
    // post-filter → refill); at full width results equal the exact path
    val filtered = c.vectorSearch(binP, q, limit = 5,
      filterJson = Some("""{"id": {"$gte": 0}}"""))
      .select("document_id").as[String].collect().toSeq
    assert(filtered == exact)

    // a SELECTIVE filter: top-k of the filtered set, not filtered top-k —
    // survivors must refill until k even though the unfiltered top-5 is
    // mostly outside the predicate
    val exactSel = c.vectorSearch(exactP, q, limit = 5,
      filterJson = Some("""{"id": {"$gte": 100}}"""))
      .select("document_id").as[String].collect().toSeq
    for (idxP <- Seq(binP, hnswP, ivfP)) {
      val viaIdx = c.vectorSearch(idxP, q, limit = 5,
        filterJson = Some("""{"id": {"$gte": 100}}"""))
        .select("document_id").as[String].collect().toSeq
      assert(viaIdx == exactSel, s"filtered ANN diverged for ${idxP.name}")
    }

    // zero/negative boost wants the other end of the ranking — the index
    // fast path must stand down (per-field top-k by unboosted score would
    // return exactly the wrong rows)
    val negQ = Seq(graft.store.VectorSearchField("text", "spark query table join",
      boost = -1.0))
    val negExact = c.vectorSearch(exactP, negQ, limit = 5)
      .select("document_id").as[String].collect().toSeq
    val negViaIdx = c.vectorSearch(binP, negQ, limit = 5)
      .select("document_id").as[String].collect().toSeq
    assert(negViaIdx == negExact)

    // refill cost shape: per round ONE shortlist collect and ONE
    // key-filtered documents collect (filter verdict and payload at once),
    // never a checkpoint or a count; the call then adds ONE chunk-text
    // collect. Spark JOBS per action vary with AQE stage splits, so the
    // census counts query-execution completions — exactly one per action.
    // The result is materialized during the call (a local relation), so a
    // census around the bare call measures the whole serving cost.
    c.vectorSearch(binP, q, limit = 5,
      filterJson = Some("""{"id": {"$gte": 0}}""")) // warm plans + caches
    val actions = new java.util.concurrent.atomic.AtomicInteger
    val census = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = {
        actions.incrementAndGet(); ()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(census)
    val rounds1 = try {
      c.vectorSearch(binP, q, limit = 5,
        filterJson = Some("""{"id": {"$gte": 0}}""")) // all-pass: 1 round
      // the listener bus is async — wait for the count to go stable
      var last = -1; var stable = 0
      val deadline = System.currentTimeMillis() + 8000
      while (stable < 4 && System.currentTimeMillis() < deadline) {
        Thread.sleep(120)
        val now = actions.get()
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
      actions.get()
    } finally spark.listenerManager.unregister(census)
    assert(rounds1 <= 3, s"single-round filtered search ran $rounds1 actions — " +
      "expected the shortlist, documents and chunk-text collects")
  }

  test("sq8Knn: ADC top-k recalls most of the exact inner-product top-k; encoded twin agrees") {
    val q = emb.where($"vec_id" === 9).select("embedding").as[Array[Float]].head()
    val model = Quantized.sq8Fit(emb, "embedding")
    val exactIp = emb
      .select($"vec_id", vecDot($"embedding", floatVec(q.toIndexedSeq)).as("ip"))
      .orderBy($"ip".desc, $"vec_id").limit(10)
      .select("vec_id").as[Long].collect().toSet
    val adc = Quantized.sq8Knn(emb, "vec_id", "embedding", q, 10, model)
    val adcIds = adc.select("vec_id").as[Long].collect().toSet
    val recall = adcIds.intersect(exactIp).size / 10.0
    assert(recall >= 0.8, f"sq8 recall@10 $recall%.2f below gate (8-bit codes)")

    // serving from pre-encoded codes is bit-identical to encode-on-the-fly
    val enc = Quantized.sq8EncodeFrame(emb, "embedding", model)
    val twin = Quantized.sq8KnnEncoded(enc, "vec_id", "sq8", q, 10, model)
      .select($"vec_id", round($"qscore", 9).as("s")).as[(Long, Double)].collect().toSeq
    val direct = adc.select($"vec_id", round($"qscore", 9).as("s"))
      .as[(Long, Double)].collect().toSeq
    assert(twin == direct)
  }

  // ---- metric-parameterized serving (pgvector's three ops classes) ----

  private lazy val scaled = emb.select($"vec_id",
    vecMulScalar($"embedding", ($"vec_id" % 7 + 1).cast("float")).as("embedding"))

  private def scaledQ(id: Long): Array[Float] = {
    val raw = emb.where($"vec_id" === id).select("embedding").as[Array[Float]].head()
    raw.map(_ * (id % 7 + 1).toFloat)
  }

  test("sq8 l2 score equals negated squared distance to the reconstructed vector") {
    val model = Quantized.sq8Fit(scaled, "embedding")
    val q = scaledQ(9)
    val got = scaled.limit(50)
      .select($"vec_id",
        Quantized.sq8ScoreCol(
          sq8Encode($"embedding", typedLit(model.mins), typedLit(model.scales)),
          q, model, graft.operators.HnswIndex.MetricL2).as("s"),
        $"embedding")
      .as[(Long, Double, Array[Float])].collect()
    val codes = Quantized.sq8EncodeFrame(scaled.limit(50), "embedding", model)
      .select($"vec_id", $"sq8").as[(Long, Array[Byte])].collect().toMap
    got.foreach { case (id, s, _) =>
      val c = codes(id)
      val want = -c.indices.map { i =>
        val vhat = model.mins(i) + model.scales(i) * (c(i) & 0xFF)
        val d = q(i).toDouble - vhat
        d * d
      }.sum
      assert(math.abs(s - want) < 1e-9, s"id $id: $s vs $want")
    }
  }

  test("sq8 cosine score equals cosine of query and reconstructed vector") {
    val model = Quantized.sq8Fit(scaled, "embedding")
    val q = scaledQ(4)
    val qn = math.sqrt(q.map(x => x.toDouble * x).sum)
    val got = scaled.limit(50)
      .select($"vec_id",
        Quantized.sq8ScoreCol(
          sq8Encode($"embedding", typedLit(model.mins), typedLit(model.scales)),
          q, model, graft.operators.HnswIndex.MetricCosine).as("s"))
      .as[(Long, Double)].collect()
    val codes = Quantized.sq8EncodeFrame(scaled.limit(50), "embedding", model)
      .select($"vec_id", $"sq8").as[(Long, Array[Byte])].collect().toMap
    got.foreach { case (id, s) =>
      val c = codes(id)
      val vhat = c.indices.map(i => model.mins(i) + model.scales(i) * (c(i) & 0xFF))
      val dot = vhat.indices.map(i => q(i).toDouble * vhat(i)).sum
      val vn = math.sqrt(vhat.map(x => x * x).sum)
      val want = if (vn > 0 && qn > 0) dot / (qn * vn) else 0.0
      assert(math.abs(s - want) < 1e-9, s"id $id: $s vs $want")
    }
  }

  test("binary knn metric=l2 with full-width re-rank equals exact L2 top-k") {
    val q = scaledQ(7)
    val n = scaled.count().toInt
    val got = Quantized.binaryKnn(scaled, "vec_id", "embedding", q, 10,
        rerank = n, metric = graft.operators.HnswIndex.MetricL2)
      .select($"vec_id").as[Long].collect().toSeq
    val want = scaled
      .select($"vec_id", vecDistanceL2($"embedding", floatVec(q.toIndexedSeq)).as("d"))
      .orderBy($"d".asc, $"vec_id".asc).limit(10)
      .select($"vec_id").as[Long].collect().toSeq
    assert(got == want)
  }

  test("sq8_adc_poly registered on the SQL surface") {
    graft.functions.VecFunctions.registerAll(spark)
    // codes [2]: base 1 + (w1 + w2*2)*2 = 1 + (3 + 0.5*2)*2 = 9
    val v = spark.sql(
      """SELECT sq8_adc_poly(sq8_encode(array(CAST(2.0 AS FLOAT)),
        |  array(0.0D), array(1.0D)),
        |  array(3.0D, 0.5D), 1.0D) AS v""".stripMargin).as[Double].head()
    assert(math.abs(v - 9.0) < 1e-12)
  }
}
