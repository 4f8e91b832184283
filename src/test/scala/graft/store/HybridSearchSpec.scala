package graft.store

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.HashEmbedder
import graft.functions.VecFunctions._
import graft.operators.IndexStore

/** `search`'s prepared-read kernel returns the rows, in the order and with
  * the score bits, of the window → full-outer-join → sort plan it replaced
  * (kept below as the oracle): over tied documents, negative cosines under a
  * negative boost, documents only one arm holds, a metadata filter, deleted
  * and orphaned documents, and documents whose chunks sit in several
  * partitions of a base and a delta segment; with the first round's report
  * size forced small, so refill rounds and cross-arm lookups run too. */
class HybridSearchSpec extends AnyFunSuite {

  // a session whose reads split each file into many partitions: two rows
  // per parquet row group, ~2 KB per partition, so one document's chunks
  // land in several partitions of a scan
  private lazy val spark: SparkSession = {
    val s = TestSpark.session.newSession()
    s.conf.set("parquet.block.row.count.limit", "2")
    s.conf.set("spark.sql.files.maxPartitionBytes", "2048")
    s.conf.set("spark.sql.files.openCostInBytes", "0")
    s
  }

  private val words = Array("spark", "data", "engine", "query", "vector", "table",
    "join", "batch", "stream", "index", "graph", "model")
  private def text(seed: Long, n: Int): String = {
    val r = new java.util.SplittableRandom(seed)
    Seq.fill(n)(words(r.nextInt(words.length))).mkString(" ")
  }
  private def doc(i: Int, title: Option[String], body: Option[String]): String =
    (Seq(s""""id": $i""", s""""kind": ${i % 3}""") ++ title.map(t => s""""title": "$t"""") ++
      body.map(b => s""""body": "$b"""")).mkString("{", ", ", "}")

  private val pipeline = Pipeline("p", Seq(
    PipelineField("body", splitter = Some((40, 8)), semanticSearch = Some(HashEmbedder(32)),
      fullTextSearch = true),
    PipelineField("title", splitter = None, semanticSearch = Some(HashEmbedder(32)),
      fullTextSearch = false)))

  /** 40 ordinary documents; 40/41 identical but for the id (tied scores);
    * 42–44 without a title (only the full-text arm holds them under a
    * title query); 45–46 without a body (only the semantic title arm);
    * 47 deleted; 48 orphaned: its documents row tombstoned, its chunks
    * kept. Ids 0–5 are then revised by an incremental sync into a delta
    * segment, with long multi-chunk bodies. */
  private lazy val wh = Files.createTempDirectory("graft_hybrid_").toString
  private lazy val coll: Collection = {
    import spark.implicits._
    val c = new Collection(spark, "hybrid", wh)
    val tie = text(99L, 14)
    c.upsertDocuments((
      (0 until 40).map(i => doc(i, Some(text(i * 7L, 2 + i % 3)), Some(text(i, 6 + i % 20)))) ++
      Seq(40, 41).map(doc(_, Some("spark data"), Some(tie))) ++
      (42 to 44).map(i => doc(i, None, Some(s"spark data ${text(i, 5)}"))) ++
      (45 to 46).map(i => doc(i, Some(text(i, 3)), None)) ++
      (47 to 48).map(i => doc(i, Some("spark data engine"), Some(s"spark data ${text(i, 9)}")))
    ).toDF("document"))
    c.syncPipeline(pipeline)
    c.upsertDocuments((0 to 5).map(i =>
      doc(i, Some(text(i * 7L, 3)), Some(text(i + 500L, 30 + i)))).toDF("document"))
    c.syncPipelineIncremental(pipeline)
    c.awaitMaintenance()
    c.deleteDocuments("""{"id": {"$eq": 47}}""")
    c.syncPipelineIncremental(pipeline)
    c.awaitMaintenance()
    DeltaTable.tombstone(spark, s"$wh/hybrid/documents",
      c.documents.where(get_json_object(col("document"), "$.id") === "48")
        .select("source_uuid"), docCol = "source_uuid")
    c
  }

  /** `search` before its prepared-read kernel, verbatim but for the
    * fusion's split into [[fuse]]: the order oracle. */
  private def chain(c: Collection, p: Pipeline, semantic: Seq[VectorSearchField],
      fullText: Seq[FullTextField], limit: Int, filterJson: Option[String]): DataFrame = {
    val resolver = FilterCompiler.jsonStringResolver(col("document"))
    val docs = filterJson.foldLeft(
      c.documents.select(col("source_uuid").as("document_id"), col("document")))(
      (d, f) => d.where(FilterCompiler.compile(f, resolver)))

    val semScores = semantic.map { fq =>
      val emb = p.fields.find(_.name == fq.field).flatMap(_.semanticSearch)
        .getOrElse(throw new IllegalArgumentException(s"no semantic_search on ${fq.field}"))
      val qv = emb.embedOne(fq.query)
      bestPerDoc(
        c.embeddings(p, fq.field).withColumn("s",
          cosineSimilarity(col("embedding"), floatVec(qv.toIndexedSeq)) * fq.boost), "s")
    }
    val ftsScores = fullText.map { fq =>
      bestPerDoc(
        c.tsvectors(p, fq.field).withColumn("s",
          TsRank.rank(col("terms"), fq.query) * fq.boost)
          .where(col("s") > 0), "s")
    }
    fuse(semScores ++ ftsScores, docs, limit)
  }

  private def bestPerDoc(df: DataFrame, scoreCol: String): DataFrame = {
    val w = Window.partitionBy(col("document_id")).orderBy(col(scoreCol).desc, col("chunk_index"))
    df.withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
      .select(col("document_id"), col(scoreCol))
  }

  /** The chain's fusion of per-arm (document_id, s) frames. */
  private def fuse(arms: Seq[DataFrame], docs: DataFrame, limit: Int): DataFrame = {
    val scoreFrames = arms.zipWithIndex.map { case (df, i) =>
      df.withColumnRenamed("s", s"s_$i")
    }
    val fused = scoreFrames.reduce((a, b) => a.join(b, Seq("document_id"), "full_outer"))
    val total = scoreFrames.indices.map(i => coalesce(col(s"s_$i"), lit(0.0))).reduce(_ + _)
    fused.select(col("document_id"), total.as("score"))
      .join(docs, Seq("document_id")) // also applies the metadata filter
      .orderBy(col("score").desc, col("document_id"))
      .limit(limit)
      .select(col("document_id"), col("document"), col("score"))
  }

  private def rows(df: DataFrame): Seq[(String, String, Long)] =
    df.collect().map(r =>
      (r.getString(0), r.getString(1), java.lang.Double.doubleToRawLongBits(r.getDouble(2))))
      .toSeq

  private case class Q(semantic: Seq[VectorSearchField], fullText: Seq[FullTextField],
      limit: Int, filter: Option[String] = None)

  private val queries = Seq(
    Q(Seq(VectorSearchField("title", "spark data engine")),
      Seq(FullTextField("body", "spark data", boost = 0.5)), 8),
    // negative boost: each document's best chunk is its least similar one
    Q(Seq(VectorSearchField("body", "vector index graph", boost = -0.5)),
      Seq(FullTextField("body", "data")), 10),
    Q(Seq(VectorSearchField("title", "stream join")), Nil, 6),
    Q(Nil, Seq(FullTextField("body", "spark query")), 50),
    Q(Seq(VectorSearchField("title", "spark data engine")),
      Seq(FullTextField("body", "spark data", boost = 0.5)), 7,
      Some("""{"kind": {"$eq": 1}}""")),
    Q(Seq(VectorSearchField("title", "batch model"), VectorSearchField("body", "engine table")),
      Seq(FullTextField("body", "spark")), 12),
    Q(Seq(VectorSearchField("body", "graph", boost = 0.25)),
      Seq(FullTextField("body", "stream", boost = 2.0)), 60,
      Some("""{"kind": {"$in": [0, 2]}}""")),
    // a filter that passes one document, revised into the delta segment
    Q(Seq(VectorSearchField("body", "spark engine")), Seq(FullTextField("body", "data")), 5,
      Some("""{"id": {"$eq": 3}}""")))

  test("the corpus holds the planted cases") {
    val c = coll
    val read = c.chunkVectors(pipeline, "body")
    val parts = read.plan.rdd.mapPartitionsWithIndex((i, it) =>
      it.map(r => (r.getUTF8String(0).toString, i))).collect()
    assert(parts.groupBy(_._1).exists(_._2.map(_._2).distinct.length > 1),
      "no document's chunks span partitions")
    assert(DeltaTable.segmentCount(s"$wh/hybrid/p/body_embeddings") > 1,
      "no delta segment")
    val q = queries.head
    val want = rows(chain(c, pipeline, q.semantic, q.fullText, 100, None))
    val ids = c.documents.select(get_json_object(col("document"), "$.id"), col("source_uuid"))
      .collect().map(r => r.getString(0).toInt -> r.getString(1)).toMap
    assert(want.exists(_._1 == ids(42)), "no full-text-only document ranks")
    assert(want.exists(_._1 == ids(45)), "no title-only document ranks")
    assert(!ids.contains(47) && !ids.contains(48), "deleted documents still have rows")
    val tied = want.filter(r => r._1 == ids(40) || r._1 == ids(41))
    assert(tied.length == 2 && tied(0)._3 == tied(1)._3, "the planted tie did not tie")
    assert(rows(chain(c, pipeline, queries(1).semantic, Nil, 100, None))
      .exists(r => java.lang.Double.longBitsToDouble(r._3) > 0), "no negative cosine")
  }

  test("search matches the window + full-outer-join chain row for row, on raw score bits") {
    val c = coll
    for (q <- queries; m0 <- Seq(0, 1, 2, 5)) {
      val got =
        if (m0 == 0) c.search(pipeline, q.semantic, q.fullText, q.limit, q.filter)
        else c.search(pipeline, q.semantic, q.fullText, q.limit, q.filter, m0)
      val want = rows(chain(c, pipeline, q.semantic, q.fullText, q.limit, q.filter))
      assert(want.nonEmpty, s"$q selects nothing")
      assert(rows(got) == want, s"$q, m0 $m0")
    }
  }

  test("a small first round refills and looks up missing arm scores, still exact") {
    val c = coll
    val q = queries.head
    def jobs(body: => Unit): Long = TestSpark.jobsOf(spark)(body)
    val one = jobs(c.search(pipeline, q.semantic, q.fullText, q.limit, q.filter, 1))
    val default = jobs(c.search(pipeline, q.semantic, q.fullText, q.limit, q.filter))
    assert(one > default + 2, s"m0 1 ran $one jobs, the default $default")
  }

  test("a warm search runs no Catalyst query, at most 3 jobs unfiltered and 4 filtered") {
    val c = coll
    def run(q: Q): Unit = { c.search(pipeline, q.semantic, q.fullText, q.limit, q.filter); () }
    Seq(queries.head, queries(4)).foreach { q =>
      run(q)
      val n = TestSpark.queriesOf(spark)(run(q.copy(semantic =
        q.semantic.map(f => f.copy(query = f.query + " model")))))
      assert(n == 0, s"warm search ($q) ran $n Catalyst queries")
    }
    val jobs = TestSpark.jobsOf(spark)(run(queries.head))
    assert(jobs <= 3, s"warm unfiltered search ran $jobs Spark jobs (budget 3)")
    val filtered = TestSpark.jobsOf(spark)(run(queries(4)))
    assert(filtered <= 4, s"warm filtered search ran $filtered Spark jobs (budget 4)")
  }

  test("threshold fusion equals the chain over generated score tables") {
    import spark.implicits._
    val resolver = FilterCompiler.jsonStringResolver(col("document"))
    // few distinct values, so scores tie within and across documents,
    // with both zeros, negatives, NaN and nulls among them
    val pool = Array(Some(1.0), Some(0.75), Some(0.5), Some(0.25), Some(0.0), Some(-0.0),
      Some(-0.25), Some(-0.5), Some(Double.NaN), None)
    for (seed <- 1 to 16) {
      val r = new java.util.SplittableRandom(seed)
      val dir = Files.createTempDirectory("graft_fusion_").toString
      val ids = (0 until 40).map(i => f"d$i%02d")
      // chunks in random row order: one document's chunks land in
      // several partitions of the scan
      def table(name: String): String = {
        val rows = for (d <- ids if r.nextInt(4) > 0; c <- 0 until 1 + r.nextInt(4)) yield
          (r.nextLong(), d, c,
            if (r.nextInt(3) == 0) Some(r.nextDouble() * 2 - 1) else pool(r.nextInt(pool.length)))
        val path = s"$dir/$name"
        rows.sortBy(_._1).map(t => (t._2, t._3, t._4)).toDF("document_id", "chunk_index", "x")
          .write.parquet(path)
        path
      }
      val arms = (0 to r.nextInt(3)).map(i => (table(s"arm$i"), r.nextBoolean()))
      val docsPath = s"$dir/documents"
      ids.filter(_ => r.nextInt(8) > 0).map(d => (d, s"""{"g": ${r.nextInt(3)}}"""))
        .toDF("source_uuid", "document").write.parquet(docsPath)
      val filter = if (r.nextBoolean()) Some("""{"g": {"$ne": 1}}""") else None
      val limit = 1 + r.nextInt(15)

      val docs = filter.foldLeft(spark.read.parquet(docsPath)
        .select(col("source_uuid").as("document_id"), col("document")))(
        (d, f) => d.where(FilterCompiler.compile(f, resolver)))
      val want = rows(fuse(arms.map { case (path, positive) =>
        val t = spark.read.parquet(path).withColumn("s", col("x"))
        bestPerDoc(if (positive) t.where(col("s") > 0) else t, "s")
      }, docs, limit))

      val reads = arms.map { case (path, positive) =>
        val read = SnapshotRead(path, Seq("document_id", "chunk_index", "x"))(
          spark.read.parquet(path))
        HybridSearch.Arm(read, read.value(spark, col("x")), positive)
      }
      val docsRead = SnapshotRead(docsPath, Seq("source_uuid", "document"))(
        spark.read.parquet(docsPath))
      val cond = filter.map(f => docsRead.value(spark, FilterCompiler.compile(f, resolver)))
      for (m0 <- Seq(1, 2, 3, 64)) {
        val got = HybridSearch.topK(reads, docsRead, cond, limit, m0)
          .map { case (d, doc, sc) => (d, doc, java.lang.Double.doubleToRawLongBits(sc)) }
        assert(got == want, s"seed $seed, m0 $m0, arms ${arms.map(_._2)}, filter $filter")
      }
    }
  }

  /** Arms laid out partition by partition — rows (document_id,
    * chunk_index, score) in scan order — fused by `topK` and by the chain. */
  private def assertFusion(name: String, arms: Seq[(Seq[Seq[(String, Int, Option[Double])]], Boolean)],
      limit: Int, m0: Int): Unit = {
    import spark.implicits._
    val docs = arms.flatMap(_._1.flatten.map(_._1)).distinct
      .map(d => (d, s"""{"id": "$d"}""")).toDF("source_uuid", "document")
    def read(df: DataFrame, cols: String*): SnapshotRead =
      SnapshotRead(Files.createTempDirectory("graft_parts_").toString, cols)(df)
    val frames = arms.map { case (parts, positive) =>
      (spark.sparkContext.parallelize(parts, parts.size).flatMap(identity)
        .toDF("document_id", "chunk_index", "x"), positive)
    }
    val want = rows(fuse(frames.map { case (df, positive) =>
      val t = df.withColumn("s", col("x"))
      bestPerDoc(if (positive) t.where(col("s") > 0) else t, "s")
    }, docs.select(col("source_uuid").as("document_id"), col("document")), limit))
    val got = HybridSearch.topK(frames.map { case (df, positive) =>
      val r = read(df, "document_id", "chunk_index", "x")
      assert(r.plan.rdd.partitions.length == df.rdd.partitions.length)
      HybridSearch.Arm(r, r.value(spark, col("x")), positive)
    }.toIndexedSeq, read(docs, "source_uuid", "document"), None, limit, m0)
      .map { case (d, doc, sc) => (d, doc, java.lang.Double.doubleToRawLongBits(sc)) }
    assert(got == want, name)
  }

  test("the threshold rules hold at their edges") {
    // d's best chunk ranks below the first report of its partition while a
    // weaker chunk tops another: the report is a bound, not d's score, and
    // the full-text-like arm's exact 5.0 makes d a candidate to look up
    assertFusion("reported but not exact", Seq(
      (Seq(Seq(("x1", 0, Some(1.0)), ("d", 0, Some(0.9))),
        Seq(("d", 1, Some(0.1)), ("y", 0, Some(0.05)))), false),
      (Seq(Seq(("d", 0, Some(5.0)))), true)), limit = 1, m0 = 1)
    // an arm whose unreported scores are all negative still lets a
    // document it lacks reach the top: its bound is max(tau, 0), not tau
    assertFusion("negative tau", Seq(
      (Seq(Seq(("c", 0, Some(-0.1)), ("a2", 0, Some(-0.5)), ("a3", 0, Some(-0.6)))), false),
      (Seq(Seq(("b1", 0, Some(0.45)), ("b2", 0, Some(0.4)), ("z", 0, Some(0.35)),
        ("c", 0, Some(0.3)))), false)), limit = 2, m0 = 2)
    // -0.0 and 0.0 tie: the lower chunk_index is the best chunk, within a
    // partition and across two, and its sign survives a one-arm sum
    assertFusion("signed zero ties", Seq(
      (Seq(Seq(("e", 1, Some(0.0)), ("e", 0, Some(-0.0)), ("d", 1, Some(0.0)), ("f", 0, Some(-1.0))),
        Seq(("d", 0, Some(-0.0)), ("g", 0, Some(-2.0)), ("g", 1, None))), false)),
      limit = 3, m0 = 1)
  }

  /** One arm table of (document_id, chunk_index, x) and a documents table
    * of (source_uuid, document) under `dir`, in `parts` files each. */
  private def world(s: SparkSession, dir: String, arm: Seq[(String, Int, Double)],
      docs: Seq[(String, String)], parts: Int): Unit = {
    import s.implicits._
    arm.toDF("document_id", "chunk_index", "x").repartition(parts)
      .write.mode("overwrite").parquet(s"$dir/arm")
    docs.toDF("source_uuid", "document").repartition(parts)
      .write.mode("overwrite").parquet(s"$dir/documents")
  }

  test("candidates that a filter rejects or that lack a documents row cost O(log) jobs") {
    val s = TestSpark.session
    val n = 2000
    val r = new java.util.SplittableRandom(7)
    val ids = (0 until n).map(i => f"d$i%04d")
    val arm = ids.map(d => (d, 0, r.nextDouble()))
    val resolver = FilterCompiler.jsonStringResolver(col("document"))
    // (documents rows, filter, the result): a filter passing one document
    // or none, and no filter over rows for one document or none
    val cases = Seq(
      (ids, Some("""{"g": {"$eq": 1}}"""), Seq("d1234")),
      (ids, Some("""{"g": {"$eq": 2}}"""), Nil),
      (Seq("d1234"), None, Seq("d1234")),
      (Seq("x"), None, Nil))
    for ((rowsFor, filter, want) <- cases) {
      val dir = Files.createTempDirectory("graft_selective_").toString
      world(s, dir, arm, rowsFor.map(d => (d, s"""{"g": ${if (d == "d1234") 1 else 0}}""")),
        parts = 4)
      val read = SnapshotRead(s"$dir/arm", Seq("document_id", "chunk_index", "x"))(
        s.read.parquet(s"$dir/arm"))
      val docsRead = SnapshotRead(s"$dir/documents", Seq("source_uuid", "document"))(
        s.read.parquet(s"$dir/documents"))
      val arms = IndexedSeq(HybridSearch.Arm(read, read.value(s, col("x")), positive = false))
      // the filter's scan; m doubles from 1 until it covers the fullest
      // partition, and a round scans once and fetches at most one short
      // batch; the full batches double, so at most log2(n + 1) of them
      val fullest = read.plan.rdd.mapPartitions(it => Iterator(it.size)).collect().max
      val rounds = 1 + (32 - Integer.numberOfLeadingZeros(fullest - 1))
      val budget = 1 + 2 * rounds + (32 - Integer.numberOfLeadingZeros(n))
      val cond = filter.map(f => docsRead.value(s, FilterCompiler.compile(f, resolver)))
      var got: Seq[(String, String, Double)] = null
      val jobs = TestSpark.jobsOf(s) { got = HybridSearch.topK(arms, docsRead, cond, 1, 1) }
      assert(got.map(_._1) == want, s"filter $filter, rows for ${rowsFor.size}")
      assert(jobs <= budget,
        s"filter $filter, rows for ${rowsFor.size}: $jobs jobs for $rounds rounds over $n documents")
    }
  }

  test("a publish that beats a call's job restarts it once, on fresh plans of every read") {
    val dir = Files.createTempDirectory("graft_restart_").toString
    val ids = (0 until 30).map(i => f"d$i%02d")
    def arm(seed: Long): Seq[(String, Int, Double)] = {
      val r = new java.util.SplittableRandom(seed)
      for (d <- ids; c <- 0 until 3) yield (d, c, r.nextDouble() * 2 - 1)
    }
    world(spark, dir, arm(1), ids.map(d => (d, s"""{"id": "$d"}""")), parts = 3)
    def reads(): (IndexedSeq[HybridSearch.Arm], SnapshotRead) = {
      val a = SnapshotRead(s"$dir/arm", Seq("document_id", "chunk_index", "x"))(
        spark.read.parquet(s"$dir/arm"))
      (IndexedSeq(HybridSearch.Arm(a, a.value(spark, col("x")), positive = false)),
        SnapshotRead(s"$dir/documents", Seq("source_uuid", "document"))(
          spark.read.parquet(s"$dir/documents")))
    }
    val (staleArms, staleDocs) = reads()
    // the publish: the arm's files replaced by a new snapshot's
    world(spark, dir, arm(2), ids.map(d => (d, s"""{"id": "$d"}""")), parts = 3)
    var got: Seq[(String, String, Double)] = null
    val jobs = TestSpark.jobsOf(spark) {
      got = HybridSearch.topK(staleArms, staleDocs, None, 5, 1)
    }
    val (freshArms, freshDocs) = reads()
    var again: Seq[(String, String, Double)] = null
    val fresh = TestSpark.jobsOf(spark) {
      again = HybridSearch.topK(freshArms, freshDocs, None, 5, 1)
    }
    val want = rows(fuse(Seq(bestPerDoc(spark.read.parquet(s"$dir/arm").withColumn("s", col("x")),
      "s")), spark.read.parquet(s"$dir/documents")
      .select(col("source_uuid").as("document_id"), col("document")), 5))
    def bits(t: Seq[(String, String, Double)]) =
      t.map { case (d, doc, sc) => (d, doc, java.lang.Double.doubleToRawLongBits(sc)) }
    assert(bits(got) == want && bits(again) == want)
    // the restart's re-plan of both reads (schema inference runs jobs)
    val planning = TestSpark.jobsOf(spark) {
      Seq("arm", "documents").foreach(t => IndexStore.invalidate(s"$dir/$t"))
      reads(); ()
    }
    assert(fresh > 2, s"the call ran $fresh jobs: too few to tell a restart from a per-job retry")
    assert(jobs == 1 + planning + fresh,
      s"the stale call ran $jobs jobs: not 1 failed + $planning planning + $fresh of a fresh call")
  }

  test("a search with neither arm is rejected naming both") {
    val e = intercept[IllegalArgumentException](coll.search(pipeline))
    assert(e.getMessage.contains("semantic") && e.getMessage.contains("fullText"))
  }
}
