package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{HnswGraphBuilder, HnswIndex, IndexStore, VectorSearch}

/** HNSW forest: kernel-level exactness on tiny graphs, recall gate vs
  * brute force on real embeddings, persisted save→load identity, and the
  * serve-time caching contract. */
class HnswSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  private lazy val emb = Tables.load(spark, TestSpark.sf0001, "embeddings")

  private def exactIds(q: Array[Float], k: Int = 10): Seq[Long] =
    VectorSearch.topK(emb, "embedding", q, k, Seq("vec_id"))
      .select("vec_id").as[Long].collect().toSeq

  test("graph kernel: ef >= n degenerates to exact KNN on one partition") {
    // at ef >= n the layer-0 sweep visits every reachable node; with a
    // connected graph (m >= 2 over 64 points) that's the whole partition,
    // so results must equal brute force exactly
    val rnd = new scala.util.Random(7)
    val pts = (0 until 64).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val b = new HnswGraphBuilder(m = 4, efConstruction = 16, seed = 1L)
    pts.foreach { case (id, v) => b.add(id, v) }
    val g = b.freeze()
    assert(g.size == 64)
    val q = Array.fill(8)(rnd.nextGaussian().toFloat)
    val got = g.search(q, 5, ef = 64).map(_._1).toSeq
    val want = pts.map { case (id, v) =>
      val dot = v.zip(q).map { case (a, bb) => a.toDouble * bb }.sum
      val nv = math.sqrt(v.map(x => x.toDouble * x).sum)
      val nq = math.sqrt(q.map(x => x.toDouble * x).sum)
      (id, dot / (nv * nq))
    }.sortBy { case (id, s) => (-s, id) }.take(5).map(_._1)
    assert(got == want)
  }

  test("metric l2/ip: full-sweep graph search equals exact KNN on un-normalized points") {
    // points deliberately NOT normalized (norms spread 1..~8) so the three
    // metric orderings genuinely differ — pgvector's vector_l2_ops /
    // vector_ip_ops regime (reference pipeline.rs:526-543)
    val rnd = new scala.util.Random(11)
    val pts = (0 until 96).map { i =>
      val scale = 1.0f + (i % 8)
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat * scale))
    }
    val q = Array.fill(8)(rnd.nextGaussian().toFloat * 3f)

    def exactL2 = pts.map { case (id, v) =>
      (id, math.sqrt(v.zip(q).map { case (a, b) => (a.toDouble - b) * (a.toDouble - b) }.sum))
    }.sortBy { case (id, d) => (d, id) }.take(5).map(_._1)
    def exactIp = pts.map { case (id, v) =>
      (id, v.zip(q).map { case (a, b) => a.toDouble * b }.sum)
    }.sortBy { case (id, s) => (-s, id) }.take(5).map(_._1)

    val bl2 = new HnswGraphBuilder(m = 4, efConstruction = 16, seed = 1L, metric = "l2")
    pts.foreach { case (id, v) => bl2.add(id, v) }
    assert(bl2.freeze().search(q, 5, ef = 96).map(_._1).toSeq == exactL2)

    val bip = new HnswGraphBuilder(m = 4, efConstruction = 16, seed = 1L, metric = "ip")
    pts.foreach { case (id, v) => bip.add(id, v) }
    assert(bip.freeze().search(q, 5, ef = 96).map(_._1).toSeq == exactIp)

    // the cosine ordering differs from both on this data — the metrics are
    // not secretly aliases of one another
    val bcos = new HnswGraphBuilder(m = 4, efConstruction = 16, seed = 1L)
    pts.foreach { case (id, v) => bcos.add(id, v) }
    val cosIds = bcos.freeze().search(q, 5, ef = 96).map(_._1).toSeq
    assert(cosIds != exactL2 || cosIds != exactIp)
  }

  test("mismatched-metric loadOrBuild is refused, not silently rebuilt or served") {
    val dir = java.nio.file.Files.createTempDirectory("graft_hnsw_metric_").toString
    val home = s"$dir/forest"
    HnswIndex.loadOrBuild(spark, home, emb.limit(200), "embedding", "vec_id",
      m = 8, efConstruction = 32, metric = "cosine").graphs.unpersist()
    val ex = intercept[IllegalArgumentException] {
      HnswIndex.loadOrBuild(spark, home, emb.limit(200), "embedding", "vec_id",
        m = 8, efConstruction = 32, metric = "l2")
    }
    assert(ex.getMessage.contains("metric"))
    intercept[IllegalArgumentException] {
      HnswIndex.loadOrBuild(spark, home, emb.limit(200), "embedding", "vec_id",
        m = 8, efConstruction = 32, metric = "chebyshev")
    }
    IndexStore.invalidate(home)
  }

  test("forest recall gate vs exact brute force on real embeddings") {
    val idx = HnswIndex.build(spark, emb, "embedding", "vec_id",
      m = 16, efConstruction = 64, numPartitions = 4)
    val queries = emb.where($"vec_id" % 50 === 7)
      .select("embedding").as[Array[Float]].collect().take(20)
    val recalls = queries.map { qv =>
      val approx = idx.search(qv, 10, ef = 64, idName = "vec_id")
        .select("vec_id").as[Long].collect().toSet
      approx.intersect(exactIds(qv).toSet).size / 10.0
    }
    val mean = recalls.sum / recalls.length
    // uniform random vectors are ANN's worst case (no cluster structure);
    // the gate floors the measured number with margin. ≥0.95 at serving
    // ef is also the per-query bound the v9 CORRECTNESS row enforces.
    assert(mean >= 0.95, f"mean recall@10 $mean%.3f below gate")
    assert(recalls.min >= 0.7, f"min recall@10 ${recalls.min}%.2f below gate")
    idx.graphs.unpersist()
  }

  test("batch search equals per-query search at the same ef; full sweep equals exact") {
    val idx = HnswIndex.build(spark, emb, "embedding", "vec_id",
      m = 16, efConstruction = 64, numPartitions = 4)
    val queries = emb.where($"vec_id" < 5)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().toSeq.sortBy(_._1)

    // pruned: the batch path must return exactly what Q single searches do
    val batch = idx.searchBatch(queries, 10, ef = 64, idName = "vec_id")
      .select($"query_id", $"vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    queries.foreach { case (qid, qv) =>
      val single = idx.search(qv, 10, ef = 64, idName = "vec_id")
        .select("vec_id").as[Long].collect().toSeq
      assert(batch(qid) == single, s"query $qid: batch != single")
    }

    // full sweep: rn-ordered batch rows equal exact brute-force ranking
    val n = emb.count().toInt
    val full = idx.searchBatch(queries, 10, ef = n, idName = "vec_id")
      .select($"query_id", $"vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    queries.foreach { case (qid, qv) =>
      assert(full(qid) == exactIds(qv), s"query $qid: full sweep != exact")
    }
    idx.graphs.unpersist()
  }

  test("driver-local serving equals the distributed search, with zero jobs after warm-up") {
    val idx = HnswIndex.build(spark, emb, "embedding", "vec_id",
      m = 16, efConstruction = 64, numPartitions = 4)
    val queries = emb.where($"vec_id" < 5)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect().toSeq
    // warm the local tier (one collect of the cached blobs)
    idx.searchLocal(queries.head._2, 1)
    val jobs = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      queries.foreach { case (_, qv) =>
        val local = idx.searchLocal(qv, 10, ef = 64)
        val dist = idx.search(qv, 10, ef = 64, idName = "vec_id")
          .as[(Long, Double)].collect().toSeq
        assert(local == dist)
      }
      Thread.sleep(300)
      // every job observed came from the DISTRIBUTED comparator, exactly
      // one per .collect(); the local tier scheduled nothing
      assert(jobs.get() == queries.size,
        s"expected ${queries.size} comparator jobs, saw ${jobs.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)
    idx.graphs.unpersist()
  }

  test("parallel forest probe is bit-identical to the sequential walk") {
    val idx = HnswIndex.build(spark, emb, "embedding", "vec_id",
      m = 16, efConstruction = 64, numPartitions = 4)
    val queries = emb.where($"vec_id" < 8)
      .select($"embedding").as[Array[Float]].collect().toSeq
    val prev = HnswIndex.localParallelism
    try {
      for (q <- queries) {
        HnswIndex.localParallelism = 1
        val seqHits = idx.searchLocal(q, 10, ef = 64)
        HnswIndex.localParallelism = 8
        assert(idx.searchLocal(q, 10, ef = 64) == seqHits,
          "parallel probe diverged from sequential")
      }
    } finally HnswIndex.localParallelism = prev
    idx.graphs.unpersist()
  }

  test("prepared serveDistributed: bit-identical to search on a tie-planted forest, one job per probe, released with the instance") {
    // plant bitwise-duplicate vectors under fresh ids so the top-k frontier
    // carries score ties that only the (score desc, id asc) total order
    // resolves — a merge-order divergence between the prepared path and
    // TakeOrderedAndProject fails here, not in production
    val base = emb.limit(120)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect().toSeq
    val planted = base ++ base.take(10).map { case (id, v) => (id + 100000L, v) }
    val idx = HnswIndex.build(spark, planted.toDF("id", "vec"), "vec", "id",
      m = 8, efConstruction = 32, numPartitions = 4)
    val queries = base.take(8).map(_._2)
    idx.serveDistributed(queries.head, 10, ef = 64) // warm: builds the probe RDD
    val jobs = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      queries.foreach { qv =>
        val prep = idx.serveDistributed(qv, 10, ef = 64).toSeq
        val dist = idx.search(qv, 10, ef = 64, idName = "id")
          .as[(Long, Double)].collect().toSeq
        assert(prep == dist)
      }
      Thread.sleep(300)
      // one job per prepared probe + one per distributed comparator collect
      assert(jobs.get() == 2L * queries.size,
        s"expected ${2 * queries.size} jobs, saw ${jobs.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)
    // the prepared BATCH path answers every query identically to the
    // plan-based searchBatch (same per-graph search, same merge order),
    // ties included
    val qBatch = base.take(6).map { case (id, v) => (id, v) }
    val prepBatch = idx.serveBatchDistributed(qBatch, 10, ef = 64)
    val planBatch = idx.searchBatch(qBatch, 10, ef = 64, idName = "id")
      .select($"query_id", $"id", $"score").as[(Long, Long, Double)]
      .collect().groupBy(_._1)
    qBatch.foreach { case (qid, _) =>
      val a = prepBatch(qid)
      val b = planBatch(qid).map { case (_, id, s) => (id, s) }.toSeq
      assert(a == b, s"batch query $qid: prepared != plan-based")
    }
    // the prepared RDD is persisted while served, dropped on release
    val before = spark.sparkContext.getPersistentRDDs.size
    idx.prepared.release()
    assert(spark.sparkContext.getPersistentRDDs.size == before - 1,
      "releaseProbe did not unpersist the prepared probe RDD")
    idx.graphs.unpersist()
  }

  test("persisted forest: save→load identical results; loadOrBuild loads, param change rebuilds") {
    val q = emb.where($"vec_id" === 7).select("embedding").as[Array[Float]].head()
    val idx = HnswIndex.build(spark, emb, "embedding", "vec_id",
      m = 8, efConstruction = 32, numPartitions = 4)
    val home = java.nio.file.Files.createTempDirectory("graft_hnsw_spec_").toString + "/idx"
    idx.save(home)
    assert(HnswIndex.existsAt(spark, home))

    val loaded = HnswIndex.load(spark, home)
    assert(loaded.m == 8 && loaded.efConstruction == 32)
    for (ef <- Seq(16, 64)) {
      val a = idx.search(q, 10, ef, "vec_id").select("vec_id").as[Long].collect().toSeq
      val b = loaded.search(q, 10, ef, "vec_id").select("vec_id").as[Long].collect().toSeq
      assert(a == b, s"ef=$ef loaded != in-memory")
    }

    // loadOrBuild on an existing compatible home must LOAD — the by-name df
    // is never evaluated, so a rebuild would throw here
    val served = HnswIndex.loadOrBuild(
      spark, home, sys.error("loadOrBuild rebuilt an existing index"),
      "embedding", "vec_id", m = 8, efConstruction = 32)
    assert(served.m == 8)

    // changed build params on the same home → rebuild, not serve stale
    val rebuilt = HnswIndex.loadOrBuild(spark, home, emb, "embedding", "vec_id",
      m = 4, efConstruction = 16)
    assert(rebuilt.m == 4 && rebuilt.efConstruction == 16)
    idx.graphs.unpersist()
  }

  test("serveOrBuild prunes stale mtime-keyed homes of the same source") {
    val src = java.nio.file.Files.createTempDirectory("graft_hnsw_src_").toString + "/emb"
    emb.limit(300).write.parquet(src)
    def homesForSource(): Seq[String] = {
      val root = new java.io.File(HnswIndex.indexRoot)
      Option(root.listFiles()).getOrElse(Array.empty).filter(_.isDirectory).flatMap { d =>
        val m = new java.io.File(d, "source.path")
        // manifest = "<sourcePath>\n<mtime>" — match on the path line
        if (m.exists() && java.nio.file.Files.readString(m.toPath)
              .linesIterator.nextOption().contains(src))
          Some(d.getAbsolutePath)
        else None
      }.toSeq
    }
    HnswIndex.serveOrBuild(spark, src, spark.read.parquet(src), "embedding", "vec_id")
    assert(homesForSource().size == 1)
    val firstHome = homesForSource().head
    Thread.sleep(1100) // parquet mtime granularity
    spark.read.parquet(src).limit(200).write.mode("overwrite").parquet(src + "_v2")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(src), true)
    fs.rename(new org.apache.hadoop.fs.Path(src + "_v2"), new org.apache.hadoop.fs.Path(src))
    HnswIndex.serveOrBuild(spark, src, spark.read.parquet(src), "embedding", "vec_id")
    val after = homesForSource()
    assert(after.size == 1, s"stale home not pruned: $after")
    assert(after.head != firstHome, "source rewrite did not mint a new home")
  }

  test("Collection sync builds the per-field forest; search matches brute force") {
    import org.apache.spark.sql.functions.{col, struct, to_json}
    val wh = java.nio.file.Files.createTempDirectory("graft_hnsw_coll_").toString
    val c = new graft.store.Collection(spark, "hnswc", wh)
    val docs = Tables.load(spark, TestSpark.sf0001, "documents").limit(200)
      .select(to_json(struct(col("doc_id").as("id"), col("text"))).as("document"))
    c.upsertDocuments(docs)
    val p = graft.store.Pipeline("p", Seq(graft.store.PipelineField(
      "text", splitter = Some((100000, 0)), hnswIndex = Some((8, 32)))))
    c.syncPipeline(p)

    val idx = c.hnswIndex(p, "text")
    assert(idx.m == 8 && idx.efConstruction == 32)
    val qv = graft.functions.HashEmbedder(64).embedOne("spark query table join")
    // full sweep (ef = corpus size) → exact, comparable to brute force
    val n = c.embeddings(p, "text").count().toInt
    val viaHnsw = c.hnswSearch(p, "text", qv, 5, ef = n)
      .select("document_id").as[String].collect().toSeq
    val exact = VectorSearch.topK(c.embeddings(p, "text"), "embedding", qv, 5,
        Seq("document_id", "chunk_index"))
      .select("document_id").as[String].collect().toSeq
    assert(viaHnsw == exact)

    // a field without hnswIndex refuses instead of building unmanaged
    val bare = graft.store.Pipeline("q", Seq(graft.store.PipelineField("text")))
    intercept[IllegalArgumentException] { c.hnswIndex(bare, "text") }

    // re-sync after an upsert rebuilds (stale in-place home must not serve:
    // the new doc is findable via its own embedding)
    val extra = Seq("""{"id":"extra-doc","text":"zanzibar quasar flotilla"}""").toDF("document")
    c.upsertDocuments(extra)
    c.syncPipeline(p)
    val qv2 = graft.functions.HashEmbedder(64).embedOne("zanzibar quasar flotilla")
    val top = c.hnswSearch(p, "text", qv2, 1, ef = n + 1)
      .select("document_id").as[String].head()
    val wantId = c.documents
      .where(org.apache.spark.sql.functions.get_json_object(col("document"), "$.id") === "extra-doc")
      .select("source_uuid").as[String].head()
    assert(top == wantId)
  }

  test("deterministic rebuild: same data, same seed, identical graphs") {
    val a = HnswIndex.build(spark, emb.limit(500), "embedding", "vec_id",
      m = 8, efConstruction = 32, numPartitions = 2)
    val b = HnswIndex.build(spark, emb.limit(500), "embedding", "vec_id",
      m = 8, efConstruction = 32, numPartitions = 2)
    val ba = a.graphs.orderBy("pid", "part").select("graph").as[Array[Byte]].collect()
    val bb = b.graphs.orderBy("pid", "part").select("graph").as[Array[Byte]].collect()
    assert(ba.length == bb.length)
    ba.zip(bb).foreach { case (x, y) => assert(java.util.Arrays.equals(x, y)) }
    a.graphs.unpersist(); b.graphs.unpersist()
  }

  test("wide-blob persistence: multi-part save→load→serve round trip (r17 verdict #1)") {
    // force the part cap far below one graph's serialized size, so this
    // tiny forest exercises exactly the layout a 1024-d × 5M forest
    // writes: N bounded parts per pid, reassembled on every read path
    // (the reference chunks model bytes into 100 MB pgml.files rows the
    // same way, pgml-extension/src/orm/model.rs:296-310)
    val prevCap = HnswIndex.blobPartBytes
    HnswIndex.blobPartBytes = 16 << 10 // 16 KB
    try {
      val idx = HnswIndex.build(spark, emb.limit(600), "embedding", "vec_id",
        m = 8, efConstruction = 32, numPartitions = 2)
      // the in-memory frame is already multi-part per pid
      val partsPerPid = idx.graphs.groupBy("pid")
        .count().select("count").as[Long].collect()
      assert(partsPerPid.forall(_ > 1),
        s"expected >1 part per pid at a 16 KB cap, got ${partsPerPid.toSeq}")
      val home = java.nio.file.Files
        .createTempDirectory("graft_hnsw_parts_").toString + "/idx"
      idx.save(home)
      val q = emb.where($"vec_id" === 7).select("embedding").as[Array[Float]].head()
      val want = idx.search(q, 10, ef = 64, idName = "vec_id")
        .as[(Long, Double)].collect().toSeq
      IndexStore.invalidate(home)
      val loaded = HnswIndex.load(spark, home)
      // every read path reassembles identically: plan-based search,
      // prepared distributed probe, driver-local tier
      assert(loaded.search(q, 10, ef = 64, idName = "vec_id")
        .as[(Long, Double)].collect().toSeq == want, "plan-based search diverged")
      assert(loaded.serveDistributed(q, 10, ef = 64).toSeq == want,
        "prepared distributed probe diverged")
      assert(loaded.searchLocal(q, 10, ef = 64) == want,
        "driver-local tier diverged")
      // delta append on a parted home: the local single-graph appender
      // writes parts too, and search unions them
      HnswIndex.appendSegmentLocal(spark, home,
        Seq((900000L, emb.where($"vec_id" === 7)
          .select("embedding").as[Array[Float]].head())))
      IndexStore.invalidate(home)
      val withDelta = HnswIndex.load(spark, home)
      // the appended node duplicates vec 7's embedding: both score 1.0,
      // ties resolve by id — top-2 must be exactly (7, 900000)
      val top2 = withDelta.searchLocal(q, 2, ef = 600).map(_._1)
      assert(top2 == Seq(7L, 900000L),
        s"delta-appended duplicate not served from the parted home: $top2")
      withDelta.graphs.unpersist()
      loaded.graphs.unpersist()
      idx.graphs.unpersist()
      IndexStore.invalidate(home)
    } finally HnswIndex.blobPartBytes = prevCap
  }

  // ---- commit-protocol probes (the DeltaTableSpec suite for index homes) ----

  private def idVecs(ids: Seq[Long], dim: Int = 8): Seq[(Long, Array[Float])] =
    ids.map { d =>
      val v = Array.fill(dim)(0.01f * (d % 3 + 1))
      v((d % dim).toInt) = 1.0f
      (d, v)
    }

  private def freshHnswHome(): String = {
    val home = java.nio.file.Files.createTempDirectory("graft_hnsw_proto_").toString + "/idx"
    val idx = HnswIndex.build(spark, idVecs(0L until 40L).toDF("id", "vec"),
      "vec", "id", m = 8, efConstruction = 32)
    idx.save(home)
    idx.graphs.unpersist()
    home
  }

  private def servedIds(home: String, probeFor: Long): Set[Long] = {
    IndexStore.invalidate(home)
    val idx = HnswIndex.load(spark, home)
    val q = idVecs(Seq(probeFor)).head._2
    idx.search(q, 5, ef = 500).select("id").as[Long].collect().toSet
  }

  test("concurrent appendSegment: distinct segments and pid blocks, both visible") {
    val home = freshHnswHome()
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val a = Future { HnswIndex.appendSegment(spark, home,
      idVecs(Seq(1000L)).toDF("id", "vec"), "vec", "id") }
    val b = Future { HnswIndex.appendSegment(spark, home,
      idVecs(Seq(2000L)).toDF("id", "vec"), "vec", "id") }
    Await.result(a, Duration.Inf); Await.result(b, Duration.Inf)
    val segs = new java.io.File(s"$home/delta").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("seg=")).map(_.getName).toSet
    assert(segs.size == 2, s"expected 2 delta segments, got $segs")
    // pid blocks keyed on the segment number never collide (rows are
    // (pid, part) parts now — uniqueness holds per pair)
    IndexStore.invalidate(home)
    val pids = HnswIndex.load(spark, home).graphs
      .select("pid", "part").as[(Int, Int)].collect().toSeq
    assert(pids.distinct.size == pids.size, s"pid collision across segments: $pids")
    assert(servedIds(home, 1000L).contains(1000L), "first appender's vectors lost")
    assert(servedIds(home, 2000L).contains(2000L), "second appender's vectors lost")
  }

  test("crashed appendSegment (no commit marker) is invisible; retry serves") {
    val home = freshHnswHome()
    HnswIndex.appendSegment(spark, home,
      idVecs(Seq(3000L)).toDF("id", "vec"), "vec", "id")
    // simulate the crash: drop the commit marker written last
    val markers = new java.io.File(s"$home/_commits").listFiles()
      .filter(_.getName.startsWith("seg-"))
    assert(markers.nonEmpty)
    markers.foreach(_.delete())
    assert(!servedIds(home, 3000L).contains(3000L),
      "uncommitted delta segment's nodes are being served")
    // retry takes a fresh segment and serves
    HnswIndex.appendSegment(spark, home,
      idVecs(Seq(3000L)).toDF("id", "vec"), "vec", "id")
    assert(servedIds(home, 3000L).contains(3000L))
  }
}
