package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{ChunkKernel, HashEmbedder}
import graft.store._

/** SDK-style integration tests mirroring the reference's live-DB suite
  * (pgml-sdks/pgml/python/tests/test.py:44-512: upsert → sync → search →
  * vector_search → rag → get/delete/order) plus the filter-builder unit
  * semantics (filter_builder.rs:224-405).
  */
class CollectionSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  private def newCollection(n: String): Collection = {
    val wh = Files.createTempDirectory("graft_wh_").toString
    new Collection(spark, n, wh)
  }

  // deterministic generator mirroring the reference's dummy docs
  // (lib.rs:288-313 generate_dummy_documents)
  private def dummyDocs(n: Int) = (0 until n).map { i =>
    s"""{"id": $i, "title": "Test Document $i", "body": "Test body $i document ${"spark data engine " * (i % 3 + 1)}", "notes": "Here are some notes for $i", "category": ${i % 3}, "uuid": $i}"""
  }.toDF("document")

  private val pipeline = Pipeline("p1", Seq(
    PipelineField("body", splitter = Some((64, 8)),
      semanticSearch = Some(HashEmbedder(64)), fullTextSearch = true),
    PipelineField("title", splitter = None,
      semanticSearch = Some(HashEmbedder(64)), fullTextSearch = false)))

  test("upsert + sync + chunk tables materialize") {
    val c = newCollection("c1")
    c.upsertDocuments(dummyDocs(10))
    assert(c.documents.count() == 10)
    c.syncPipeline(pipeline)
    val chunks = c.chunks(pipeline, "body")
    assert(chunks.count() >= 10)
    assert(chunks.columns.toSeq == Seq("document_id", "chunk_index", "chunk"))
    val emb = c.embeddings(pipeline, "body")
    assert(emb.count() == chunks.count())
    assert(emb.select(graft.functions.VecFunctions.vecNormL2(col("embedding")))
      .as[Double].collect().forall(n => math.abs(n - 1.0) < 1e-5))
    assert(c.tsvectors(pipeline, "body").count() == chunks.count())
  }

  test("upsert is idempotent and updates by id; merge is shallow") {
    val c = newCollection("c2")
    c.upsertDocuments(dummyDocs(5))
    c.upsertDocuments(Seq("""{"id": 3, "title": "Updated", "extra": 1}""").toDF("document"))
    assert(c.documents.count() == 5)
    val doc3 = c.getDocuments(filterJson = Some("""{"id": {"$eq": 3}}"""))
      .select("document").as[String].head()
    assert(doc3.contains("Updated") && !doc3.contains("body")) // replaced, not merged
    c.upsertDocuments(Seq("""{"id": 3, "note": "merged"}""").toDF("document"), merge = true)
    val merged = c.getDocuments(filterJson = Some("""{"id": {"$eq": 3}}"""))
      .select("document").as[String].head()
    assert(merged.contains("Updated") && merged.contains("merged")) // shallow merge keeps both
  }

  test("filter compiler semantics (filter_builder.rs test matrix)") {
    val df = Seq(
      ("""{"id": 1, "meta": {"uuid": 10, "name": "a"}, "tag": "x"}"""),
      ("""{"id": 2, "meta": {"uuid": 20, "name": "b"}, "tag": "y"}"""),
      ("""{"id": 3, "meta": {"name": "c"}, "tag": "x"}""")
    ).toDF("document")
    val r = FilterCompiler.jsonStringResolver(col("document"))
    def ids(filter: String): Set[Long] =
      df.where(FilterCompiler.compile(filter, r))
        .select(get_json_object(col("document"), "$.id").cast("long")).as[Long].collect().toSet

    assert(ids("""{"id": {"$eq": 1}}""") == Set(1))
    assert(ids("""{"id": 2}""") == Set(2))
    assert(ids("""{"meta": {"uuid": {"$eq": 10}}}""") == Set(1))          // nested path
    assert(ids("""{"id": {"$ne": 1}}""") == Set(2, 3))
    assert(ids("""{"meta": {"uuid": {"$ne": 10}}}""") == Set(2, 3))       // missing key satisfies $ne
    assert(ids("""{"id": {"$gt": 1}}""") == Set(2, 3))
    assert(ids("""{"id": {"$gte": 2}}""") == Set(2, 3))
    assert(ids("""{"id": {"$lt": 2}}""") == Set(1))
    assert(ids("""{"id": {"$lte": 2}}""") == Set(1, 2))
    assert(ids("""{"id": {"$in": [1, 3]}}""") == Set(1, 3))
    assert(ids("""{"id": {"$nin": [1, 3]}}""") == Set(2))
    assert(ids("""{"meta": {"uuid": {"$nin": [10]}}}""") == Set(2, 3))    // missing key satisfies $nin
    assert(ids("""{"$and": [{"tag": "x"}, {"id": {"$lt": 3}}]}""") == Set(1))
    assert(ids("""{"$or": [{"id": 1}, {"tag": "y"}]}""") == Set(1, 2))
    assert(ids("""{"$not": {"tag": "x"}}""") == Set(2))
    assert(ids("""{"tag": "x", "id": {"$gt": 1}}""") == Set(3))           // implicit AND
    assert(ids("""{"id": {"$in": []}}""") == Set())                       // empty IN matches nothing
    assert(ids("""{"id": {"$nin": []}}""") == Set(1, 2, 3))               // empty NIN matches all
  }

  test("filter compiler keeps 64-bit integer comparisons exact above 2^53") {
    // 2^53+1 and 2^53+2 collapse to the same Double; as decimals they don't
    val big1 = 9007199254740993L // 2^53 + 1
    val big2 = 9007199254740994L // 2^53 + 2
    val df = Seq(
      s"""{"id": $big1}""",
      s"""{"id": $big2}""").toDF("document")
    val r = FilterCompiler.jsonStringResolver(col("document"))
    def ids(filter: String): Set[Long] =
      df.where(FilterCompiler.compile(filter, r))
        .select(get_json_object(col("document"), "$.id").cast("long")).as[Long].collect().toSet
    assert(ids(s"""{"id": {"$$eq": $big1}}""") == Set(big1))
    assert(ids(s"""{"id": {"$$in": [$big2]}}""") == Set(big2))
  }

  test("filter compiler keeps full double precision against integral literals") {
    // regression: a fixed decimal(38,9) cast rounded 1.0000000001 to
    // 1.000000000 and wrongly excluded it from {"$gt": 1}
    val df = Seq(
      """{"v": 1.0000000001}""",
      """{"v": 1.0}""",
      """{"v": 0.9999999999}""").toDF("document")
    val r = FilterCompiler.jsonStringResolver(col("document"))
    def vs(filter: String): Set[String] =
      df.where(FilterCompiler.compile(filter, r))
        .select(get_json_object(col("document"), "$.v")).as[String].collect().toSet
    assert(vs("""{"v": {"$gt": 1}}""") == Set("1.0000000001"))
    assert(vs("""{"v": {"$lt": 1}}""") == Set("0.9999999999"))
    assert(vs("""{"v": {"$gte": 1}}""") == Set("1.0000000001", "1.0"))
  }

  test("getDocuments: keyset pagination and order_by") {
    val c = newCollection("c3")
    c.upsertDocuments(dummyDocs(20))
    val page1 = c.getDocuments(limit = 5)
    assert(page1.count() == 5)
    val last = page1.select("row_id").as[Long].collect().max
    val page2 = c.getDocuments(limit = 5, lastRowId = Some(last))
    assert(page2.count() == 5)
    val p1 = page1.select("source_uuid").as[String].collect().toSet
    assert(page2.select("source_uuid").as[String].collect().toSet.intersect(p1).isEmpty)
    val ordered = c.getDocuments(limit = 3, orderByJson = Some("""{"category": "desc", "id": "asc"}"""))
      .select(get_json_object(col("document"), "$.category").cast("int")).as[Int].collect()
    assert(ordered.toSeq == ordered.sorted(Ordering[Int].reverse).toSeq)
  }

  test("property: driver-side fast-path upserts equal the distributed path row for row") {
    // the fast path (LocalRelation + no merge) must be indistinguishable
    // from the distributed window/merge-join lineage: same uuids (md5 of
    // get_json_object's id rendering), same last-occurrence-wins dedup,
    // same row_id, same created_at retention. Forcing the distributed
    // path on the identical batch: .coalesce(1) roots the plan in a
    // Repartition node (so the LocalRelation precondition fails) while
    // PRESERVING row order — a shuffle would change the statement order
    // the last-occurrence-wins rule is defined over.
    val rnd = new scala.util.Random(7)
    (0 until 4).foreach { trial =>
      val fast = newCollection(s"fastpath_$trial")
      val slow = newCollection(s"slowpath_$trial")
      def batch(k: Int) = (0 until 6).map { i =>
        // mixed id shapes (string + int), planted in-batch duplicates
        val id = if (rnd.nextBoolean()) s""""doc-${rnd.nextInt(4)}"""" else s"${rnd.nextInt(4)}"
        s"""{"id": $id, "text": "rev $k payload ${rnd.nextInt(100)}"}"""
      }.toDF("document")
      // same pseudo-random stream for both collections
      val b1 = batch(1).cache(); b1.count()
      val b2 = batch(2).cache(); b2.count()
      // initial base write (both distributed), then incremental batches:
      // fast path on one side, repartition-forced distributed on the other
      fast.upsertDocuments(b1)
      slow.upsertDocuments(b1.coalesce(1))
      fast.upsertDocuments(b2)
      slow.upsertDocuments(b2.coalesce(1))
      def rows(c: graft.store.Collection) = c.documents
        .select("row_id", "source_uuid", "document").as[(Long, String, String)]
        .collect().sortBy(_._2).toSeq
      assert(rows(fast) == rows(slow),
        s"trial $trial: fast ${rows(fast)}\nslow ${rows(slow)}")
      // created_at retention: rows updated in batch 2 keep their batch-1
      // timestamp on BOTH paths (timestamps differ across collections —
      // compare the retention STRUCTURE, not the values)
      def retained(c: graft.store.Collection) = {
        val ts = c.documents.select("source_uuid", "created_at")
          .as[(String, java.sql.Timestamp)].collect().toMap
        ts.keys.toSeq.sorted.map(k => ts(k) != null)
      }
      assert(retained(fast) == retained(slow))
      b1.unpersist(); b2.unpersist()
    }
  }

  test("fast-path bail shapes: array-rooted and empty batches") {
    val wh = Files.createTempDirectory("graft_wh_fb_").toString
    val c = new Collection(spark, "fastbail", wh)
    c.upsertDocuments(Seq("""{"id": 1, "text": "base"}""").toDF("document"))
    // array-rooted document: the fast path must NOT key it via json4s'
    // descend-into-arrays lookup (which would silently merge it into the
    // object doc with id 1); it bails to the distributed path, where the
    // id-less shape now fails LOUDLY instead of storing an unaddressable
    // NULL-uuid row (the NPE-in-manifest-writer bug this test found)
    intercept[IllegalArgumentException] {
      c.upsertDocuments(Seq("""[{"id": 1, "text": "array root"}]""").toDF("document"))
    }
    val uuids = c.documents.select("source_uuid").as[String].collect().toSeq
    assert(uuids == Seq("c4ca4238a0b923820dcc509a6f75849b"),
      s"array-rooted doc must not land or merge: $uuids")
    // empty batch: publishes NOTHING — no new changelog batch
    def batches() = Option(new java.io.File(s"$wh/fastbail/_changelog").listFiles())
      .getOrElse(Array.empty).count(_.getName.startsWith("batch="))
    val before = batches()
    c.upsertDocuments(Seq.empty[String].toDF("document"))
    assert(batches() == before,
      "an empty upsert published an empty changelog batch")
  }

  test("deleteDocuments removes filtered docs only") {
    val c = newCollection("c4")
    c.upsertDocuments(dummyDocs(9))
    c.deleteDocuments("""{"category": {"$eq": 0}}""")
    val cats = c.documents
      .select(get_json_object(col("document"), "$.category").cast("int")).as[Int].collect()
    assert(cats.nonEmpty && !cats.contains(0))
  }

  test("deleteDocuments cascades to pipeline tables; search after delete has no orphans") {
    val c = newCollection("c4b")
    c.upsertDocuments(dummyDocs(12))
    c.syncPipeline(pipeline)
    val before = c.embeddings(pipeline, "body").count()
    c.deleteDocuments("""{"category": {"$eq": 0}}""")
    // FK-cascade semantics (queries.rs:49-66): derived tables shrink with
    // the documents table, no re-sync needed
    val liveIds = c.documents.select("source_uuid").as[String].collect().toSet
    for (tbl <- Seq(c.chunks(pipeline, "body"), c.embeddings(pipeline, "body"),
        c.tsvectors(pipeline, "body"))) {
      val ids = tbl.select("document_id").as[String].collect().toSet
      assert(ids.subsetOf(liveIds), "cascade left orphaned rows")
    }
    assert(c.embeddings(pipeline, "body").count() < before)
    // search still fills the full top-k from live documents — an orphaned
    // embedding in a top-k slot would silently shrink the result
    val res = c.vectorSearch(pipeline,
      Seq(VectorSearchField("body", "Test body 7 document")), limit = 5)
    assert(res.count() == 5)
    val resIds = res.select("document_id").as[String].collect().toSet
    assert(resIds.subsetOf(liveIds))
    // and the unfiltered plan carries no pre-limit semi-join gate
    val plan = c.vectorSearch(pipeline,
      Seq(VectorSearchField("body", "x")), limit = 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("LeftSemi"), "unfiltered search must not pay a corpus-wide gate")
  }

  /** Spark jobs `body` starts on this thread (its own job group). */
  private def jobsOf(body: => Unit): Long = TestSpark.jobsOf(spark)(body)

  test("vectorSearch job budget over HNSW: 4 unfiltered, 4 + 3 per refill round filtered") {
    val c = newCollection("jobs")
    c.upsertDocuments(dummyDocs(300))
    val p = Pipeline("pj", Seq(PipelineField("body", splitter = Some((100000, 0)),
      semanticSearch = Some(HashEmbedder(64)), hnswIndex = Some((8, 32)))))
    c.syncPipeline(p)
    def run(q: String, filter: Option[String]): Unit = {
      c.vectorSearch(p, Seq(VectorSearchField("body", q)), limit = 5,
        filterJson = filter).collect()
      ()
    }
    run("warm the resident handle", None)
    Seq("Test body 7 document", "spark data engine", "notes 42").foreach { q =>
      val n = jobsOf(run(q, None))
      assert(n <= 4, s"unfiltered '$q' ran $n Spark jobs (budget 4)")
    }
    // a filter every document passes fills the top-k in the first round;
    // otherwise the fetch starts at 64 of the 300 chunks and quadruples
    // per round, so no query needs more than 3 (64, 256, 1024 ≥ 300)
    val chunksN = c.chunks(p, "body").count()
    val maxRounds = Iterator.iterate(64L)(_ * 4).indexWhere(_ >= chunksN) + 1
    Seq(("""{"category": {"$gte": 0}}""", 1), ("""{"category": {"$eq": 1}}""", maxRounds),
        ("""{"uuid": {"$eq": 123}}""", maxRounds))
      .foreach { case (f, rounds) =>
        val n = jobsOf(run("Test body 123 document", Some(f)))
        assert(n <= 4 + 3 * (rounds - 1),
          s"filtered $f ran $n Spark jobs (budget ${4 + 3 * (rounds - 1)})")
      }
  }

  test("a warm vectorSearch over HNSW runs no Catalyst query, filtered or not") {
    val c = newCollection("noquery")
    c.upsertDocuments(dummyDocs(200))
    val p = Pipeline("pq", Seq(PipelineField("body", splitter = Some((100000, 0)),
      semanticSearch = Some(HashEmbedder(64)), hnswIndex = Some((8, 32)))))
    c.syncPipeline(p)
    c.awaitMaintenance()
    def run(q: String, filter: Option[String]): Unit = {
      c.vectorSearch(p, Seq(VectorSearchField("body", q)), limit = 5, filterJson = filter)
      ()
    }
    val filter = Some("""{"category": {"$gte": 0}}""")
    run("warm the resident handle and reads", None)
    run("warm the resident handle and reads", filter)
    Seq(None, filter).foreach { f =>
      val q = TestSpark.queriesOf(spark)(run("Test body 7 document", f))
      assert(q == 0, s"warm vectorSearch (filter $f) ran $q Catalyst queries")
      val n = jobsOf(run("spark data engine", f))
      assert(n <= 4, s"warm vectorSearch (filter $f) ran $n Spark jobs (budget 4)")
    }
  }

  test("vector_search returns relevant docs first, respects filter and rerank shape") {
    val c = newCollection("c5")
    c.upsertDocuments(dummyDocs(12))
    c.syncPipeline(pipeline)
    val res = c.vectorSearch(pipeline,
      Seq(VectorSearchField("body", "Test body 7 document")), limit = 5)
    assert(res.count() == 5)
    assert(res.columns.toSeq == Seq("document_id", "document", "chunk", "score"))
    // BoW-cosine ranks all "Test body N document ..." chunks high; the doc
    // actually containing token "7" must be among the top hits
    val topDocs = res.orderBy(col("score").desc).select("document").as[String].collect()
    assert(topDocs.head.contains("Test body"))
    assert(topDocs.exists(_.contains("\"id\": 7")))
    // metadata filter restricts candidates
    val filtered = c.vectorSearch(pipeline,
      Seq(VectorSearchField("body", "Test body 7 document")), limit = 5,
      filterJson = Some("""{"category": {"$eq": 1}}"""))
    val cats = filtered.select(get_json_object(col("document"), "$.category").cast("int"))
      .as[Int].collect()
    assert(cats.forall(_ == 1))
    // rerank adds the score column and keeps limit
    val rr = c.vectorSearch(pipeline,
      Seq(VectorSearchField("body", "Test body 7 document")), limit = 3, rerank = Some(8))
    assert(rr.columns.contains("rerank_score") && rr.count() == 3)
  }

  test("hybrid search fuses semantic and full-text scores at document level") {
    val c = newCollection("c6")
    c.upsertDocuments(dummyDocs(12))
    c.syncPipeline(pipeline)
    val res = c.search(pipeline,
      semantic = Seq(VectorSearchField("title", "Test Document 4")),
      fullText = Seq(FullTextField("body", "spark data engine")),
      limit = 6)
    assert(res.count() == 6)
    assert(res.columns.toSeq == Seq("document_id", "document", "score"))
    // one doc per document_id (window dedup worked)
    assert(res.select("document_id").distinct().count() == 6)
    // full-text-only search is monotone in term frequency: category 2 docs
    // repeat "spark data engine" 3x in a longer body — just assert scores > 0
    val ft = c.search(pipeline, fullText = Seq(FullTextField("body", "spark data engine")), limit = 12)
    assert(ft.select("score").as[Double].collect().forall(_ > 0))
  }

  test("ts_rank requires ALL query terms (plainto_tsquery AND semantics)") {
    val df = Seq(
      "spark data pipelines at scale", // both terms present → score > 0
      "spark spark spark only here",   // missing 'data' → 0 despite high tf
      "data without the other term"    // missing 'spark' → 0
    ).toDF("text")
    val scores = df
      .select(TsRank.rank(TsRank.tsVector(col("text")), "spark data").as("r"))
      .as[Double].collect()
    assert(scores(0) > 0.0)
    assert(scores(1) == 0.0)
    assert(scores(2) == 0.0)
  }

  test("rag composes retrieval into prompt with {VAR} substitution") {
    val c = newCollection("c7")
    c.upsertDocuments(dummyDocs(8))
    c.syncPipeline(pipeline)
    val out = c.rag(pipeline,
      vars = Map("CONTEXT" -> (Seq(VectorSearchField("body", "Test body 2")), 2)),
      promptTemplate = "Answer from: {CONTEXT}\nQ: what is doc 2?")
    assert(out.sources("CONTEXT").size == 2)
    assert(out.rag.startsWith("[generated]"))
    assert(out.rag.contains("Answer from:"))

    // rag_stream: same retrieval, tokens arrive as an iterator whose
    // concatenation equals the batch rag output
    val (tokens, sources) = c.ragStream(pipeline,
      vars = Map("CONTEXT" -> (Seq(VectorSearchField("body", "Test body 2")), 2)),
      promptTemplate = "Answer from: {CONTEXT}\nQ: what is doc 2?")
    assert(sources == out.sources)
    assert(tokens.mkString(" ") == out.rag.split("\\s+").filter(_.nonEmpty).mkString(" "))
  }

  test("chunker: size bound, overlap carry, separator preference") {
    val text = "para one sentence.\n\npara two is here.\n\n" + ("word " * 50).trim
    val chunks = ChunkKernel.chunk(text, 60, 10)
    assert(chunks.nonEmpty)
    assert(chunks.forall(_.length <= 60))
    // overlap: consecutive chunks share a suffix/prefix when split mid-paragraph
    val longRun = ChunkKernel.chunk(("word " * 50).trim, 40, 10)
    assert(longRun.size >= 2)
    // overlap carry: each following chunk begins with the tail of its predecessor
    assert(longRun.sliding(2).forall(p => p(1).startsWith(p(0).takeRight(10))))
    // short text → single chunk unchanged
    assert(ChunkKernel.chunk("short", 100, 10).toSeq == Seq("short"))
  }

  /** The RDDs the session holds persisted, by id. */
  private def persisted: Map[Int, org.apache.spark.rdd.RDD[_]] =
    spark.sparkContext.getPersistentRDDs.toMap

  /** A pipeline whose serving persists state: a resident HNSW handle (its
    * probe RDD and graph frame) and prepared reads of its tables. */
  private val served = Pipeline("pserved", Seq(PipelineField("body", splitter = Some((64, 8)),
    semanticSearch = Some(HashEmbedder(64)), hnswIndex = Some((8, 32)))))

  /** The RDDs a synced `served` pipeline's first `vectorSearch` persisted. */
  private def serveOnce(c: Collection): Map[Int, org.apache.spark.rdd.RDD[_]] = {
    c.syncPipeline(served)
    c.awaitMaintenance()
    val before = persisted.keySet
    c.vectorSearch(served, Seq(VectorSearchField("body", "Test body 3 document")), limit = 3)
      .collect()
    val added = persisted -- before
    assert(added.nonEmpty, "serving persisted nothing")
    added
  }

  test("pipeline admin: add/disable/enable/remove drive the registry and sync state") {
    val wh = Files.createTempDirectory("graft_wh_").toString
    val c = new Collection(spark, "c_admin", wh)
    c.upsertDocuments(dummyDocs(6))
    val p = Pipeline("padmin", Seq(PipelineField("body", splitter = Some((64, 8)))))

    // add registers active and syncs (collection.rs:332-394)
    c.addPipeline(p)
    assert(c.pipelines == Map("padmin" -> true))
    val n0 = c.embeddings(p, "body").count()
    assert(n0 > 0)
    // second add is a no-op, not a re-sync error
    c.addPipeline(p)

    // disable: syncActive skips it, so new documents don't reach the tables
    c.disablePipeline("padmin")
    assert(c.pipelines == Map("padmin" -> false))
    c.upsertDocuments(Seq("""{"id": 100, "body": "fresh text while disabled"}""").toDF("document"))
    c.syncActive(Seq(p))
    assert(c.embeddings(p, "body").count() == n0)

    // enable resyncs, catching up on the upsert (collection.rs:445-463)
    c.enablePipeline(p)
    assert(c.pipelines == Map("padmin" -> true))
    assert(c.embeddings(p, "body").count() > n0)

    // remove drops the derived tables and the registry row (collection.rs:396-421)
    c.removePipeline(p)
    assert(c.pipelines.isEmpty)
    intercept[Exception] { c.chunks(p, "body").count() }
    assert(c.documents.count() == 7) // documents survive pipeline removal

    // reserved names can't be used as pipelines — a pipeline named
    // "documents" would have its removal DELETE the corpus
    val evil = Pipeline("documents", Seq(PipelineField("body")))
    intercept[IllegalArgumentException] { c.syncPipeline(evil) }
    intercept[IllegalArgumentException] { c.removePipeline(evil) }
    assert(c.documents.count() == 7)

    // removal releases what the pipeline's serving keeps resident; only the
    // documents' prepared read, which the collection still serves, stays
    val added = serveOnce(c)
    c.removePipeline(served)
    val left = added.filter { case (id, _) => persisted.contains(id) }.values
    assert(left.forall(_.name == s"snapshot read (source_uuid, document) of $wh/c_admin/documents"),
      s"removePipeline left ${left.map(r => s"${r.id} (${r.name})").mkString(", ")} persisted")
  }

  test("archive renames the collection home and frees the name") {
    val wh = Files.createTempDirectory("graft_wh_").toString
    val c = new Collection(spark, "c_arch", wh)
    c.upsertDocuments(dummyDocs(3))
    val archived = c.archive()
    assert(archived.startsWith("c_arch_archive_"))
    // the archived copy is intact under its new name; the old name is free
    val arch = new Collection(spark, archived, wh)
    assert(arch.documents.count() == 3)
    assert(!new java.io.File(s"$wh/c_arch").exists())
    val fresh = new Collection(spark, "c_arch", wh)
    fresh.upsertDocuments(dummyDocs(1))
    assert(fresh.documents.count() == 1)

    // re-creating and re-archiving immediately must not collide with the
    // first archive even within the same timestamp (suffix probe)
    val archived2 = new Collection(spark, "c_arch", wh).archive()
    assert(archived2 != archived)
    assert(new java.io.File(s"$wh/$archived2").exists())
    assert(!new java.io.File(s"$wh/c_arch").exists())

    // archiving releases everything the collection's serving keeps resident
    val live = new Collection(spark, "c_arch", wh)
    live.upsertDocuments(dummyDocs(12))
    val added = serveOnce(live)
    live.archive()
    val left = added.keySet.intersect(persisted.keySet)
    assert(left.isEmpty, s"archive left ${left.map(added(_).name).mkString(", ")} persisted")
  }
}
