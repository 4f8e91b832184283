package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{IndexStore, IvfIndex, VectorSearch}

class IvfSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  private lazy val emb = Tables.load(spark, TestSpark.sf0001, "embeddings")

  private def exactIds(q: Array[Float]): Set[Long] =
    VectorSearch.topK(emb, "embedding", q, 10, Seq("vec_id"))
      .select("vec_id").as[Long].collect().toSet

  test("IVF search: gated recall vs exact brute force, full recall at nprobe=nlist") {
    val q = emb.where($"vec_id" === 7).select("embedding").as[Array[Float]].head()
    val exact = exactIds(q)

    val idx = IvfIndex.build(spark, emb, "embedding", nlist = 16)
    // probing every cluster must reproduce brute force exactly
    val full = idx.search(q, 10, nprobe = 16, Seq("vec_id"))
      .select("vec_id").as[Long].collect().toSet
    assert(full == exact)

    // recall gate at nprobe=4/nlist=16, MEAN over 20 query vectors (the
    // IvfRecallProbe methodology, floored below its measured number —
    // random uniform vectors are IVF's worst case; real embedding
    // clusters do far better)
    val queries = emb.where($"vec_id" % 50 === 7)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect().take(20)
    val recalls = queries.map { case (_, qv) =>
      val approx = idx.search(qv, 10, nprobe = 4, Seq("vec_id"))
        .select("vec_id").as[Long].collect().toSet
      approx.intersect(exactIds(qv)).size / 10.0
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.60, f"mean recall@10 $mean%.3f below gate")
    assert(recalls.min >= 0.3, f"min recall@10 ${recalls.min}%.2f below gate")

    // spill assignment stores each vector in exactly nassign=3 clusters
    val scanned = idx.data.where(col("cluster_id").isin(0 to 15: _*)).count()
    assert(scanned == 3 * emb.count())
    idx.data.unpersist()
  }

  test("metric l2/ip: full probe equals exact KNN on un-normalized vectors") {
    import graft.functions.VecFunctions._
    // de-normalize so the metric orderings genuinely differ (the raw
    // testdata embeddings are unit-norm, where all three coincide)
    val scaled = emb.select(col("vec_id"),
      vecMulScalar(col("embedding"), (col("vec_id") % 7 + 1).cast("float"))
        .as("embedding")).cache()
    val q = scaled.where($"vec_id" === 13).select("embedding")
      .as[Array[Float]].head()

    def exactBy(score: org.apache.spark.sql.Column) = scaled
      .select(col("vec_id"), score.as("s"))
      .orderBy(col("s").desc, col("vec_id"))
      .limit(10).select("vec_id").as[Long].collect().toSeq

    val l2Idx = IvfIndex.build(spark, scaled, "embedding", nlist = 8, metric = "l2")
    val l2Got = l2Idx.search(q, 10, nprobe = 8, Seq("vec_id"))
      .select("vec_id").as[Long].collect().toSeq
    assert(l2Got == exactBy(-vecDistanceL2(col("embedding"), floatVec(q.toIndexedSeq))))
    l2Idx.data.unpersist()

    val ipIdx = IvfIndex.build(spark, scaled, "embedding", nlist = 8, metric = "ip")
    val ipGot = ipIdx.search(q, 10, nprobe = 8, Seq("vec_id"))
      .select("vec_id").as[Long].collect().toSeq
    assert(ipGot == exactBy(vecDot(col("embedding"), floatVec(q.toIndexedSeq))))
    ipIdx.data.unpersist()

    // and the two orderings are not the same thing on this data
    assert(l2Got != ipGot)
    scaled.unpersist()
    ()
  }

  test("mismatched-metric loadOrBuild is refused; sidecar round-trips the metric") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_metric_").toString
    val home = s"$dir/ivf"
    val built = IvfIndex.loadOrBuild(spark, home, emb.limit(300), "embedding",
      nlist = 4, metric = "ip")
    assert(built.metric == "ip")
    assert(IvfIndex.load(spark, home, "embedding").metric == "ip")
    val ex = intercept[IllegalArgumentException] {
      IvfIndex.loadOrBuild(spark, home, emb.limit(300), "embedding",
        nlist = 4, metric = "cosine")
    }
    assert(ex.getMessage.contains("metric"))
    intercept[IllegalArgumentException] {
      IvfIndex.build(spark, emb.limit(10), "embedding", nlist = 2, metric = "hamming")
    }
    IndexStore.invalidate(home)
  }

  test("persisted IVF: save→load round-trip identical, probes prune partitions") {
    val q = emb.where($"vec_id" === 7).select("embedding").as[Array[Float]].head()
    val idx = IvfIndex.build(spark, emb, "embedding", nlist = 16)
    val home = java.nio.file.Files.createTempDirectory("graft_ivf_spec_").toString + "/idx"
    idx.save(home)
    assert(IvfIndex.existsAt(spark, home))

    val loaded = IvfIndex.load(spark, home, "embedding")
    assert(loaded.centroids.map(_.toSeq).toSeq == idx.centroids.map(_.toSeq).toSeq)
    for (np <- Seq(4, 16)) {
      val a = idx.search(q, 10, np, Seq("vec_id")).select("vec_id").as[Long].collect().toSeq
      val b = loaded.search(q, 10, np, Seq("vec_id")).select("vec_id").as[Long].collect().toSeq
      assert(a == b, s"nprobe=$np loaded != in-memory")
    }

    // loadOrBuild on an existing home must LOAD — the by-name df is never
    // evaluated, so a rebuild would throw here
    val served = IvfIndex.loadOrBuild(
      spark, home, sys.error("loadOrBuild rebuilt an existing index"), "embedding")
    assert(served.centroids.length == 16)

    // the probe's cluster_id IN (…) must prune directories at the parquet
    // scan (the 100 TB serving contract: read ~nprobe/nlist of the files)
    val plan = loaded.search(q, 10, 4, Seq("vec_id"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cluster_id"),
      s"no cluster_id PartitionFilters in probe plan:\n$plan")
    assert("PartitionFilters: \\[[^\\]]*cluster_id".r.findFirstIn(plan).isDefined,
      "cluster_id filter not inside PartitionFilters")
    idx.data.unpersist()
  }

  test("loadOrBuild rebuilds when the stored centroid count contradicts nlist") {
    val idx = IvfIndex.build(spark, emb, "embedding", nlist = 16)
    val home = java.nio.file.Files.createTempDirectory("graft_ivf_nl_").toString + "/idx"
    idx.save(home)
    idx.data.unpersist()
    // same fixed path, different requested nlist (a Pipeline config change
    // over a Collection's ivf table) → must rebuild, not serve 16 clusters
    val rebuilt = IvfIndex.loadOrBuild(spark, home, emb, "embedding", nlist = 8)
    assert(rebuilt.centroids.length == 8)
    // and a matching request keeps loading without touching the df
    val served = IvfIndex.loadOrBuild(
      spark, home, sys.error("rebuilt despite matching nlist"), "embedding", nlist = 8)
    assert(served.centroids.length == 8)
  }

  test("serveOrBuild prunes stale mtime-keyed homes of the same source") {
    val root = java.nio.file.Files.createTempDirectory("graft_ivf_root_").toString
    val src = java.nio.file.Files.createTempDirectory("graft_ivf_src_").toString + "/emb"
    emb.limit(300).write.parquet(src)
    // serveOrBuild uses the shared default root: count only homes whose
    // manifest matches THIS source, so parallel suites don't interfere
    def homesForSource(): Seq[String] = {
      val r = new java.io.File(IvfIndex.indexRoot)
      Option(r.listFiles()).getOrElse(Array.empty).filter(_.isDirectory).flatMap { d =>
        val m = new java.io.File(d, "source.path")
        // manifest = "<sourcePath>\n<mtime>" — match on the path line
        if (m.exists() && java.nio.file.Files.readString(m.toPath)
              .linesIterator.nextOption().contains(src))
          Some(d.getAbsolutePath)
        else None
      }.toSeq
    }
    IvfIndex.serveOrBuild(spark, src, spark.read.parquet(src), "embedding", nlist = 4)
    assert(homesForSource().size == 1)
    val firstHome = homesForSource().head
    Thread.sleep(1100) // parquet mtime granularity
    spark.read.parquet(src).limit(200).write.mode("overwrite").parquet(src + "_v2")
    // rewrite the source in place (new mtime ⇒ new home key)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(src), true)
    fs.rename(new org.apache.hadoop.fs.Path(src + "_v2"), new org.apache.hadoop.fs.Path(src))
    IvfIndex.serveOrBuild(spark, src, spark.read.parquet(src), "embedding", nlist = 4)
    val after = homesForSource()
    assert(after.size == 1, s"stale home not pruned: $after")
    assert(after.head != firstHome, "source rewrite did not mint a new home")
  }

  test("ivfIndex on a field without vectorIndex refuses instead of building unmanaged") {
    val wh = java.nio.file.Files.createTempDirectory("graft_ivf_nofield_").toString
    val c = new graft.store.Collection(spark, "noivf", wh)
    val p = graft.store.Pipeline("p", Seq(graft.store.PipelineField("text")))
    intercept[IllegalArgumentException] { c.ivfIndex(p, "text") }
  }

  test("Collection sync builds the persisted index; probe matches brute force") {
    val wh = java.nio.file.Files.createTempDirectory("graft_ivf_coll_").toString
    val c = new graft.store.Collection(spark, "ivfc", wh)
    val docs = Tables.load(spark, TestSpark.sf0001, "documents").limit(200)
      .select(org.apache.spark.sql.functions.to_json(
        org.apache.spark.sql.functions.struct(col("doc_id").as("id"), col("text")))
        .as("document"))
    c.upsertDocuments(docs)
    val p = graft.store.Pipeline("p", Seq(graft.store.PipelineField(
      "text", splitter = Some((100000, 0)), vectorIndex = Some(8))))
    c.syncPipeline(p)

    val idx = c.ivfIndex(p, "text")
    assert(idx.centroids.length == 8)
    val qv = graft.functions.HashEmbedder(64).embedOne("spark query table join")
    val viaIvf = idx.search(qv, 5, nprobe = 8, Seq("document_id", "chunk_index"))
      .select("document_id").as[String].collect().toSeq
    val exact = VectorSearch.topK(c.embeddings(p, "text"), "embedding", qv, 5,
        Seq("document_id", "chunk_index"))
      .select("document_id").as[String].collect().toSeq
    assert(viaIvf == exact)
  }

  // ---- commit-protocol probes (the DeltaTableSpec suite for index homes) ----

  /** Deterministic doc-keyed vectors: doc d gets a one-hot-ish vector so
    * search(query=vec(d)) must return d first. `shift` rotates the hot
    * axis — a replacement batch built with a shift is directionally
    * distinct from the original (cosine can tell them apart). */
  private def docVecs(ids: Seq[Int], dim: Int = 8, shift: Int = 0): Seq[(String, Array[Float])] =
    ids.map { d =>
      val v = Array.fill(dim)(0.01f * (d % 3 + 1))
      v((d + shift) % dim) = 1.0f
      (s"doc$d", v)
    }

  private def freshIvfHome(ids: Seq[Int]): String = {
    val home = java.nio.file.Files.createTempDirectory("graft_ivf_proto_").toString + "/idx"
    val base = docVecs(ids).toDF("document_id", "embedding")
    val idx = IvfIndex.build(spark, base, "embedding", nlist = 2)
    idx.save(home)
    idx.data.unpersist()
    home
  }

  private def servedDocs(home: String): Set[String] = {
    IndexStore.invalidate(home)
    IvfIndex.load(spark, home, "embedding").data
      .select("document_id").as[String].collect().toSet
  }

  test("concurrent appendSegment: distinct segments, both batches visible") {
    val home = freshIvfHome(0 until 20)
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val a = Future { IvfIndex.appendSegment(spark, home,
      docVecs(100 to 104).toDF("document_id", "embedding"), "embedding",
      docVecs(100 to 104).toDF("document_id", "embedding").select("document_id")) }
    val b = Future { IvfIndex.appendSegment(spark, home,
      docVecs(200 to 204).toDF("document_id", "embedding"), "embedding",
      docVecs(200 to 204).toDF("document_id", "embedding").select("document_id")) }
    Await.result(a, Duration.Inf); Await.result(b, Duration.Inf)
    // two distinct committed segments, no clobbered staging
    val segs = new java.io.File(s"$home/delta").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("seg=")).map(_.getName).toSet
    assert(segs.size == 2, s"expected 2 delta segments, got $segs")
    val docs = servedDocs(home)
    assert((100 to 104).forall(d => docs(s"doc$d")), "first appender's batch lost")
    assert((200 to 204).forall(d => docs(s"doc$d")), "second appender's batch lost")
    assert(docs("doc0"), "base rows lost")
  }

  test("crashed appendSegment (no commit marker) is invisible; retry supersedes") {
    val home = freshIvfHome(0 until 20)
    // replacement batch for doc3 + a new doc, directionally distinct
    val batch = docVecs(Seq(3, 300), shift = 4).toDF("document_id", "embedding")
    IvfIndex.appendSegment(spark, home, batch, "embedding", batch.select("document_id"))
    // simulate the crash: the marker (written LAST) never landed
    val markers = new java.io.File(s"$home/_commits").listFiles()
      .filter(_.getName.startsWith("seg-"))
    assert(markers.nonEmpty)
    markers.foreach(_.delete())
    val docs = servedDocs(home)
    assert(!docs("doc300"), "uncommitted segment's new doc is being served")
    assert(docs("doc3"), "uncommitted manifest rows deleted doc3's base vector")
    // the doc3 vector served must be the OLD one (score ~1.0 on the base axis)
    val idx = IvfIndex.load(spark, home, "embedding")
    val old3 = docVecs(Seq(3)).head._2
    val top = idx.search(old3, 1, nprobe = 2, Seq("document_id"))
      .select("document_id").as[String].head()
    assert(top == "doc3")
    // retry takes a FRESH segment number and commits
    IvfIndex.appendSegment(spark, home, batch, "embedding", batch.select("document_id"))
    val docs2 = servedDocs(home)
    assert(docs2("doc300"), "retried append not served")
  }

  test("searchLocal: the driver-local tier serves results identical to the distributed probe") {
    val idx = IvfIndex.build(spark, emb, "embedding", nlist = 16)
    // several query vectors, pruned AND full probes, under all metrics —
    // the local tier must match the distributed path row-for-row
    // (same probe selection, same kernel arithmetic, same tie order)
    val queries = emb.where($"vec_id" % 97 === 3)
      .select("embedding").as[Array[Float]].collect().take(5)
    for (q <- queries; nprobe <- Seq(4, 16)) {
      val dist = idx.search(q, 10, nprobe, Seq("vec_id"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val local = idx.searchLocal(q, 10, nprobe, "vec_id")
      assert(local == dist, s"local tier diverged at nprobe=$nprobe")
    }
    idx.data.unpersist()
    // un-normalized metrics too (l2 / ip tie-break and scoring paths)
    val raw = emb.select(col("vec_id"),
      graft.functions.VecFunctions.vecMulScalar(col("embedding"),
        (col("vec_id") % 5 + 1).cast("float")).as("embedding"))
    for (metric <- Seq(IvfIndex.MetricL2, IvfIndex.MetricIp)) {
      val mi = IvfIndex.build(spark, raw, "embedding", nlist = 8, metric = metric)
      val q = raw.where($"vec_id" === 3).select("embedding").as[Array[Float]].head()
      val dist = mi.search(q, 10, nprobe = 3, Seq("vec_id"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val local = mi.searchLocal(q, 10, nprobe = 3, "vec_id")
      assert(local == dist, s"local tier diverged under $metric")
      mi.data.unpersist()
    }
  }

  test("serveDistributed: identical to search, one partition-pruned job per probe, released with the instance") {
    val idx = IvfIndex.build(spark, emb, "embedding", nlist = 16)
    val queries = emb.where($"vec_id" % 97 === 3)
      .select("embedding").as[Array[Float]].collect().take(5)
    idx.serveDistributed(queries.head, 10, nprobe = 4, "vec_id") // warm: builds the probe RDD
    for (q <- queries; nprobe <- Seq(4, 16)) {
      val prep = idx.serveDistributed(q, 10, nprobe, "vec_id").toSeq
      val dist = idx.search(q, 10, nprobe, Seq("vec_id"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(prep == dist, s"prepared probe diverged at nprobe=$nprobe")
    }
    // pruning census in isolation: nprobe=4 runs ONE job whose only
    // SUBMITTED stage has exactly 4 tasks (the cached shuffle parent in
    // the lineage is listed on the job but skipped, never submitted)
    val tasks4 = new java.util.concurrent.atomic.AtomicLong(0)
    val stages = new java.util.concurrent.atomic.AtomicLong(0)
    val jcount = new java.util.concurrent.atomic.AtomicLong(0)
    val l2 = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jcount.incrementAndGet(); ()
      }
      override def onStageSubmitted(s: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit = {
        stages.incrementAndGet(); tasks4.addAndGet(s.stageInfo.numTasks.toLong); ()
      }
    }
    spark.sparkContext.addSparkListener(l2)
    try {
      idx.serveDistributed(queries.head, 10, nprobe = 4, "vec_id")
      Thread.sleep(300)
      assert(jcount.get() == 1, s"prepared probe scheduled ${jcount.get()} jobs")
      assert(stages.get() == 1, s"prepared probe submitted ${stages.get()} stages")
      assert(tasks4.get() == 4, s"nprobe=4 probe ran ${tasks4.get()} tasks")
    } finally spark.sparkContext.removeSparkListener(l2)
    // metrics l2/ip (un-normalized scoring + tie paths)
    val raw = emb.select(col("vec_id"),
      graft.functions.VecFunctions.vecMulScalar(col("embedding"),
        (col("vec_id") % 5 + 1).cast("float")).as("embedding"))
    for (metric <- Seq(IvfIndex.MetricL2, IvfIndex.MetricIp)) {
      val mi = IvfIndex.build(spark, raw, "embedding", nlist = 8, metric = metric)
      val q = raw.where($"vec_id" === 3).select("embedding").as[Array[Float]].head()
      val dist = mi.search(q, 10, nprobe = 3, Seq("vec_id"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val prep = mi.serveDistributed(q, 10, nprobe = 3, "vec_id").toSeq
      assert(prep == dist, s"prepared probe diverged under $metric")
      mi.prepared.release(); mi.data.unpersist()
    }
    // the prepared RDD is persisted while served, dropped on release
    val before = spark.sparkContext.getPersistentRDDs.size
    idx.prepared.release()
    assert(spark.sparkContext.getPersistentRDDs.size == before - 1,
      "releaseProbe did not unpersist the prepared probe RDD")
    idx.data.unpersist()
  }

  test("0-row appendSegment publishes manifest only; load survives and drops the docs") {
    val home = freshIvfHome(0 until 10)
    val empty = docVecs(Nil).toDF("document_id", "embedding")
    // doc4 cleared its indexed field: no vectors, but the claim must land
    IvfIndex.appendSegment(spark, home, empty, "embedding",
      Seq("doc4").toDF("document_id"))
    // no delta data dir (nothing to publish), manifest + marker present
    val segDirs = Option(new java.io.File(s"$home/delta").listFiles())
      .getOrElse(Array.empty).filter(_.getName.startsWith("seg="))
    assert(segDirs.isEmpty, "0-row batch published a data segment")
    val docs = servedDocs(home) // must not throw (the r9 empty-delta AnalysisException)
    assert(!docs("doc4"), "tombstoned doc4 still served")
    assert(docs("doc3") && docs("doc5"), "untouched docs lost")
    // a later real append still works
    val batch = docVecs(Seq(400)).toDF("document_id", "embedding")
    IvfIndex.appendSegment(spark, home, batch, "embedding", batch.select("document_id"))
    assert(servedDocs(home)("doc400"))
  }

  test("topHits bounded selection equals full sortBy((-s, id)).take(k), ties and signed zeros included") {
    val rnd = new scala.util.Random(11)
    // coarse score grid plants heavy ties; signed zeros pin the total order
    val hits = (0L until 5000L).map { id =>
      (id, rnd.nextInt(40) match {
        case 0 => 0.0
        case 1 => -0.0
        case g => (g - 20).toDouble / 7.0
      })
    }
    for (k <- Seq(1, 10, 200, 5000, 9000)) {
      val expect = hits.toArray.sortBy { case (id, s) => (-s, id) }.take(k).toSeq
      val got = graft.operators.VectorSearch.topHits(hits.iterator, k).toSeq
      assert(got == expect, s"topHits diverged at k=$k")
    }
  }

  test("wide-quantizer kernel assignment is bit-identical to the expression path (ties included)") {
    // The sf100 run exposed the scale bug this pins: k centroid literals
    // inlined in one expression disable whole-stage codegen past ~64
    // centroids and interpreted eval is ~50x a primitive loop, so wide
    // quantizers assign via broadcast kernel. Same output, bit for bit —
    // including rank order under planted EXACT score ties (duplicated
    // centroids), which the struct sort breaks by higher centroid index.
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 300L).map { id =>
      (id, Array.fill(8)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val base = Array.fill(90)(Array.fill(8)(rnd.nextGaussian().toFloat))
    // plant ties: centroids 30/31 and 60/61/62 are bitwise duplicates
    base(31) = base(30).clone()
    base(61) = base(60).clone(); base(62) = base(60).clone()
    for (metric <- Seq(IvfIndex.MetricCosine, IvfIndex.MetricL2, IvfIndex.MetricIp);
         nassign <- Seq(1, 3)) {
      val expr = IvfIndex.assignClustersExpr(vecs, base, "embedding", nassign, metric)
        .select("vec_id", "cluster_id").as[(Long, Int)].collect().toSeq
      val kern = IvfIndex.assignClustersKernel(vecs, base, "embedding", nassign, metric)
        .select("vec_id", "cluster_id").as[(Long, Int)].collect().toSeq
      assert(kern == expr, s"kernel/expr divergence at metric=$metric nassign=$nassign")
    }
    // the facade routes wide quantizers through the kernel (k=90 > 64)
    // and narrow ones through the expression — same results either way
    val facade = IvfIndex.assignClusters(vecs, base, "embedding", 3)
      .select("vec_id", "cluster_id").as[(Long, Int)].collect().toSeq
    val exprC = IvfIndex.assignClustersExpr(vecs, base, "embedding", 3)
      .select("vec_id", "cluster_id").as[(Long, Int)].collect().toSeq
    assert(facade == exprC)
  }
}
