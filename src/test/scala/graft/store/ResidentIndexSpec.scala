package graft.store

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.HashEmbedder
import graft.operators.IndexStore

/** Invariant "no cache entry outlives its source" for the resident state
  * `vectorSearch` serves from — the index handle and the prepared reads of
  * the embeddings, documents and chunks tables: after every kind of write,
  * the next search on a long-lived Collection returns exactly what a fresh
  * load of the same warehouse returns with those caches dropped, and its
  * payloads and chunk text are what a Catalyst read of the tables holds. */
class ResidentIndexSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  private val name = "resident"
  private val pipeline = Pipeline("p", Seq(PipelineField("body",
    splitter = Some((100000, 0)), semanticSearch = Some(HashEmbedder(32)),
    hnswIndex = Some((8, 32)), annEf = 500)))
  private val kindFilter = """{"kind": {"$eq": 1}}"""

  private def docJson(i: Int, tag: String, kind: Int, rev: Int = 0): String =
    s"""{"id": $i, "body": "$tag doc $i ${"idea " * (i % 5 + 1)}", "kind": $kind, "rev": $rev}"""

  private def upsert(c: Collection, ids: Range, tag: String): Unit =
    c.upsertDocuments(ids.map(i => docJson(i, tag, i % 2)).toDF("document"))

  /** Rewrite document `i`'s JSON without touching its body: its payload
    * and its filter verdict change, its chunks do not. */
  private def revise(c: Collection, i: Int, tag: String, kind: Int, rev: Int): Unit =
    c.upsertDocuments(Seq(docJson(i, tag, kind, rev)).toDF("document"))

  private def search(c: Collection, q: String, filtered: Boolean = false): Seq[Row] =
    c.vectorSearch(pipeline, Seq(VectorSearchField("body", q)), limit = 5,
      filterJson = if (filtered) Some(kindFilter) else None)
      .collect().toSeq

  private def homes(wh: String): Seq[String] =
    Seq("documents", "p/body_embeddings", "p/body_chunks").map(t => s"$wh/$name/$t")

  /** A fresh load: the warehouse's index handle dropped with its graphs,
    * probe RDD and cached blob frame, and its tables' prepared reads
    * dropped (only this warehouse's — other suites' caches share the JVM),
    * and a new Collection over the same warehouse. */
  private def fresh(wh: String, q: String, filtered: Boolean = false): Seq[Row] = {
    IndexStore.invalidate(s"$wh/$name/p/body_hnsw")
    homes(wh).foreach(IndexStore.invalidate)
    search(new Collection(spark, name, wh), q, filtered)
  }

  /** Every row's payload is the document a Catalyst read of `documents`
    * holds for its id (and passes a Catalyst `where` of the filter), and
    * its chunk is one of that document's chunks. */
  private def assertCatalystPayloads(c: Collection, rows: Seq[Row], filtered: Boolean,
      after: String): Unit = {
    import org.apache.spark.sql.functions.col
    val ids = rows.map(_.getString(0)).distinct
    val keyed = c.documents.where(col("source_uuid").isin(ids: _*))
    val docs = (if (filtered) keyed.where(FilterCompiler.compile(kindFilter,
        FilterCompiler.jsonStringResolver(col("document")))) else keyed)
      .select("source_uuid", "document").as[(String, String)].collect().toMap
    val chunks = c.chunks(pipeline, "body").where(col("document_id").isin(ids: _*))
      .select("document_id", "chunk").as[(String, String)].collect().toSet
    rows.foreach { r =>
      assert(docs.get(r.getString(0)).contains(r.getString(1)),
        s"payload of ${r.getString(0)} differs from a Catalyst read after $after")
      assert(chunks((r.getString(0), r.getString(2))),
        s"chunk of ${r.getString(0)} differs from a Catalyst read after $after")
    }
  }

  /** The long-lived collection's next answers (handle and reads possibly
    * resident) equal a fresh load's, filtered and not, with Catalyst's
    * payloads; then re-warm so the next write has resident entries to
    * outlive. */
  private def assertFresh(c: Collection, wh: String, q: String, after: String): Unit = {
    val served = (search(c, q), search(c, q, filtered = true))
    val want = (fresh(wh, q), fresh(wh, q, filtered = true))
    assert(served == want, s"stale results after $after")
    assert(served._1.nonEmpty && served._2.nonEmpty)
    assertCatalystPayloads(c, served._1, filtered = false, after)
    assertCatalystPayloads(c, served._2, filtered = true, after)
    search(c, q)
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.forEach { src =>
      val dst = to.resolve(from.relativize(src))
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  private def deleteTree(p: Path): Unit = {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally walk.close()
  }

  /** A copy of `home` as it is now, in a new temp dir. */
  private def snapshot(home: Path): Path = {
    val copy = Files.createTempDirectory("graft_resident_home_")
    deleteTree(copy)
    copyTree(home, copy)
    copy
  }

  test("the handle is resident across searches and dropped by every writer") {
    val wh = Files.createTempDirectory("graft_resident_").toString
    val c = new Collection(spark, name, wh)
    c.mergeEvery = 1000
    upsert(c, 0 until 40, "first")
    c.syncPipeline(pipeline)
    search(c, "first doc 3")
    search(c, "first doc 3", filtered = true)
    val h = c.hnswIndex(pipeline, "body")
    def reads = Seq(c.hidKeys(pipeline, "body"), c.docPayloads, c.chunkTexts(pipeline, "body"))
    val rs = reads
    search(c, "first doc 4")
    search(c, "first doc 4", filtered = true)
    assert(c.hnswIndex(pipeline, "body") eq h, "the handle was reloaded without a write")
    assert(reads.zip(rs).forall { case (a, b) => a.plan eq b.plan },
      "a read was re-planned without a write")

    // 1. delta sync: appendSegmentLocal
    upsert(c, 40 until 43, "zanzibar")
    c.syncPipelineIncremental(pipeline)
    assert(c.hnswIndex(pipeline, "body") ne h)
    assertFresh(c, wh, "zanzibar doc 41", "a delta sync")

    // 2. background merge publish, with the handle loaded between the
    // merge's snapshot and its publish
    c.mergeEvery = 1
    c.runStagedMerge(pipeline, afterSnapshot = () => { search(c, "zanzibar doc 42"); () })
    c.awaitMaintenance()
    assertFresh(c, wh, "zanzibar doc 42", "a merge publish")
    c.mergeEvery = 1000

    // 3. an upsert that changes documents' JSON but not their chunks: doc
    // 15 leaves the filter's set, doc 20 joins it (both rank first for
    // their own query)
    revise(c, 15, "first", kind = 0, rev = 1)
    revise(c, 20, "first", kind = 1, rev = 1)
    assertFresh(c, wh, "first doc 15", "an upsert changing a document's JSON")
    assertFresh(c, wh, "first doc 20", "an upsert changing a document's JSON")
    assert(search(c, "first doc 20", filtered = true).headOption
      .exists(_.getString(1).contains("\"id\": 20, ")), "the revised document was not served")

    // 4. delete cascade
    c.deleteDocuments("""{"id": {"$eq": 41}}""")
    assertFresh(c, wh, "zanzibar doc 41", "a delete cascade")

    // 5. a write through a second Collection over the same warehouse
    val other = new Collection(spark, name, wh)
    upsert(other, 43 until 46, "quasar")
    other.syncPipeline(pipeline)
    assertFresh(c, wh, "quasar doc 44", "another instance's sync")

    // 6. an out-of-band rewrite of the home's files: put back an older
    // forest (no flotilla nodes) without any graft writer seeing it
    val home = java.nio.file.Paths.get(s"$wh/$name/p/body_hnsw")
    val older = snapshot(home)
    upsert(other, 46 until 49, "flotilla")
    other.syncPipeline(pipeline)
    val before = search(c, "flotilla doc 47")
    deleteTree(home)
    copyTree(older, home)
    val after = search(c, "flotilla doc 47")
    assert(after != before, "the rewrite did not change what the forest answers")
    assert(after == fresh(wh, "flotilla doc 47"), "stale results after an out-of-band rewrite")
    assertCatalystPayloads(c, after, filtered = false, "an out-of-band rewrite")

    // 7. an out-of-band rewrite of the documents table: put back its files
    // from before a JSON change, after a search planned the changed ones
    val docsHome = java.nio.file.Paths.get(s"$wh/$name/documents")
    val olderDocs = snapshot(docsHome)
    revise(c, 45, "quasar", kind = 1, rev = 2)
    assert(search(c, "quasar doc 45", filtered = true)
      .exists(r => "\"rev\"\\s*:\\s*2\\b".r.findFirstIn(r.getString(1)).isDefined),
      "the revised payload was not served")
    deleteTree(docsHome)
    copyTree(olderDocs, docsHome)
    assertFresh(c, wh, "quasar doc 45", "an out-of-band documents rewrite")

    // 8. a documents-compaction publish forced right after a segment
    // commit, with the reads planned on the pre-publish listing between:
    // fragment the table to its budget, then a bulk upsert's seam plans
    // the reads and schedules the compaction, which publishes once the
    // upsert lets go of the documents lock
    val docsPath = docsHome.toString
    var rev = 3
    while (DeltaTable.segmentCount(docsPath) < 16) {
      revise(c, 5, "first", kind = rev % 2, rev = rev)
      rev += 1
    }
    var dueAtHook = false
    c.afterBulkSegment = () => {
      search(c, "first doc 5")
      search(c, "first doc 5", filtered = true)
      dueAtHook = DeltaTable.compactionDue(docsPath, 16)
      c.scheduleDocsCompaction()
    }
    try upsert(c, 100 until 101 + DeltaTable.InPushdownMaxIds, "bulk")
    finally c.afterBulkSegment = () => ()
    c.awaitMaintenance()
    assert(dueAtHook, "the seam ran without a compaction due")
    assert(DeltaTable.segmentCount(docsPath) == 1, "the forced compaction never published")
    assertFresh(c, wh, "first doc 5", "a documents-compaction publish")
  }

  test("the documents read's filter verdict equals where(filter)") {
    import org.apache.spark.sql.functions.col
    val wh = Files.createTempDirectory("graft_verdict_").toString
    val c = new Collection(spark, "verdict", wh)
    c.upsertDocuments((0 until 30).map { i =>
      val extra = if (i % 3 == 0) "" else s""", "score": ${i * 1.5}, "tag": "t${i % 4}""""
      val nested = if (i % 5 == 0) s""", "meta": {"n": $i}""" else ""
      s"""{"id": $i, "kind": ${i % 2}, "big": ${9007199254740993L + i}$extra$nested}"""
    }.toDF("document"))
    val ids = c.documents.select("source_uuid").as[String].collect().toSeq
    val read = c.docPayloads
    val rows = read.lookup(Seq("source_uuid"), ids.map(Seq(_)))
    assert(rows.length == ids.size)
    Seq("""{"kind": 1}""", """{"kind": {"$ne": 1}}""", """{"score": {"$gt": 10}}""",
      """{"score": {"$lte": 7.5}}""", """{"tag": {"$in": ["t1", "t3"]}}""",
      """{"tag": {"$nin": ["t1"]}}""", """{"kind": {"$in": [1, 2.5]}}""",
      """{"big": {"$eq": 9007199254740995}}""", """{"meta": {"n": {"$gte": 10}}}""",
      """{"$or": [{"kind": 0}, {"score": {"$lt": 5}}]}""", """{"$not": {"tag": "t2"}}""",
      """{"$and": [{"kind": 1}, {"tag": {"$ne": "t3"}}]}""", """{"tag": {"$in": []}}""",
      """{"missing": {"$ne": 3}}""").foreach { f =>
      val cond = FilterCompiler.compile(f, FilterCompiler.jsonStringResolver(col("document")))
      val want = c.documents.where(cond).select("source_uuid").as[String].collect().toSet
      val pass = read.predicate(spark, cond)
      val got = rows.filter(pass).map(SnapshotRead.string(_, 0)).toSet
      assert(got == want, s"filter $f")
      assert(want.nonEmpty || f.contains("[]"), s"filter $f selects nothing")
    }
  }

  test("two projections of one home each keep their own resident plan") {
    import org.apache.spark.sql.functions.col
    val wh = Files.createTempDirectory("graft_projections_").toString
    val c = new Collection(spark, "projections", wh)
    upsert(c, 0 until 12, "proj")
    c.syncPipeline(pipeline)
    val table = DeltaTable.read(spark, s"$wh/projections/p/body_embeddings")
    val ids = table.select("document_id").as[String].collect().toSeq.distinct
    val wantKeys = table.select(col("hid"), col("document_id"), col("chunk_index"))
      .as[(Long, String, Int)].collect().toSet
    val wantVecs = table.select(col("document_id"), col("chunk_index"), col("embedding"))
      .as[(String, Int, Seq[Float])].collect().toSet
    // alternate: each serve of one projection follows a serve of the other
    for (_ <- 1 to 3) {
      val keys = c.hidKeys(pipeline, "body")
      assert(keys.schema.fieldNames.toSeq == Seq("hid", "document_id", "chunk_index"))
      assert(keys.lookup(Seq("document_id"), ids.map(Seq(_)))
        .map(r => (r.getLong(0), SnapshotRead.string(r, 1), r.getInt(2))).toSet == wantKeys)
      val vecs = c.chunkVectors(pipeline, "body")
      assert(vecs.schema.fieldNames.toSeq == Seq("document_id", "chunk_index", "embedding"))
      assert(vecs.lookup(Seq("document_id"), ids.map(Seq(_)))
        .map(r => (SnapshotRead.string(r, 0), r.getInt(1), r.getArray(2).toFloatArray().toSeq))
        .toSet == wantVecs)
    }
  }

  test("a read planned before a documents-compaction publish looks up the published files") {
    val wh = Files.createTempDirectory("graft_publish_").toString
    val c = new Collection(spark, "publish", wh)
    val docsPath = s"$wh/publish/documents"
    upsert(c, 0 until 20, "first")
    var rev = 1
    while (DeltaTable.segmentCount(docsPath) < 16) {
      revise(c, rev % 20, "first", kind = rev % 2, rev = rev)
      rev += 1
    }
    // the listing check: the documents read is planned after a bulk
    // upsert's segment commit made a compaction due, before its publish
    // swaps the home; the lookup scans only after the publish
    var read: SnapshotRead = null
    c.afterBulkSegment = () => { read = c.docPayloads }
    try upsert(c, 100 until 101 + DeltaTable.InPushdownMaxIds, "bulk")
    finally c.afterBulkSegment = () => ()
    c.awaitMaintenance()
    assert(read != null && DeltaTable.segmentCount(docsPath) == 1,
      "the forced compaction never published")
    val want = c.documents.select("source_uuid", "document").as[(String, String)]
      .collect().toMap
    val got = read.lookup(Seq("source_uuid"), want.keys.map(Seq(_)))
      .map(r => SnapshotRead.string(r, 0) -> SnapshotRead.string(r, 1)).toMap
    assert(got == want, "the lookup differs from a Catalyst read of the published table")
  }

  /** The pre-change vectorSearch, kept here as the ordering oracle: per
    * field a Catalyst top-k (the HNSW field resolves plan-search hits
    * through a broadcast join on `hid`), UNION ALL, the optional filter
    * as a semi-join, global orderBy/limit, then broadcast payload joins
    * and the rerank sort. */
  private def oldChain(c: Collection, wh: String, p: Pipeline, fqs: Seq[VectorSearchField],
      limit: Int, filterJson: Option[String] = None, rerank: Option[Int] = None): Seq[Row] = {
    import org.apache.spark.sql.functions._
    import graft.functions.VecFunctions._
    val docs = c.documents.select(col("source_uuid").as("document_id"), col("document"))
    val filteredIds = filterJson.map(f => docs.where(FilterCompiler.compile(f,
      FilterCompiler.jsonStringResolver(col("document")))).select("document_id"))
    val k = math.max(limit, rerank.getOrElse(0))
    val perField = fqs.map { fq =>
      val fd = p.fields.find(_.name == fq.field).get
      val qv = fd.semanticSearch.get.embedOne(fq.query)
      if (fd.hnswIndex.isDefined && fq.boost > 0 && fq.fullTextFilter.isEmpty) {
        assert(filteredIds.isEmpty, "the oracle has no filtered-refill loop")
        val hits = c.hnswIndex(p, fq.field).search(qv, k, math.max(fd.annEf, k), idName = "hid")
        DeltaTable.read(spark, s"$wh/ties/${p.name}/${fq.field}_embeddings")
          .join(broadcast(hits), "hid")
          .select(col("document_id"), col("chunk_index"), col("score"))
          .dropDuplicates("document_id", "chunk_index")
          .orderBy(col("score").desc, col("document_id"), col("chunk_index"))
          .limit(k)
          .select(col("document_id"), col("chunk_index"),
            lit(fq.field).as("_field"), (col("score") * fq.boost).as("score"))
      } else {
        var scored = c.embeddings(p, fq.field).withColumn("score",
          cosineSimilarity(col("embedding"), floatVec(qv.toIndexedSeq)) * fq.boost)
        fq.fullTextFilter.foreach { t =>
          scored = scored.join(c.chunks(p, fq.field), Seq("document_id", "chunk_index"))
            .where(col("chunk").contains(t)).drop("chunk")
        }
        scored.select(col("document_id"), col("chunk_index"),
          lit(fq.field).as("_field"), col("score"))
      }
    }
    var unioned = perField.reduce(_ unionAll _)
    filteredIds.foreach(ids => unioned = unioned.join(ids, Seq("document_id"), "left_semi"))
    val top = unioned.orderBy(col("score").desc, col("document_id"), col("chunk_index")).limit(k)
    val allChunks = fqs.map(_.field).distinct
      .map(fn => c.chunks(p, fn).withColumn("_field", lit(fn))).reduce(_ unionAll _)
    val withChunk = allChunks.join(broadcast(top), Seq("document_id", "chunk_index", "_field"))
    val joinedFull = docs.join(broadcast(withChunk), Seq("document_id"))
      .orderBy(col("score").desc, col("document_id"), col("chunk_index"))
    rerank match {
      case None =>
        joinedFull.select(col("document_id"), col("document"), col("chunk"), col("score"))
          .collect().toSeq
      case Some(_) =>
        joinedFull.withColumn("rerank_score", graft.functions.TokenOverlapReranker
            .scoreCol(fqs.map(_.query).mkString(" "), col("chunk")))
          .orderBy(col("rerank_score").desc, col("document_id"), col("chunk_index"))
          .limit(limit)
          .select(col("document_id"), col("document"), col("chunk"), col("score"),
            col("rerank_score"))
          .collect().toSeq
    }
  }

  test("driver merge keeps the old order, ties and columns across fusion and rerank") {
    val wh = Files.createTempDirectory("graft_ties_").toString
    val c = new Collection(spark, "ties", wh)
    // planted ties: every 4th title is the same text (equal scores across
    // documents); every 3rd body is one sentence three times, split into
    // three identical chunks (equal scores across chunks of one document)
    c.upsertDocuments((0 until 24).map { i =>
      val title = if (i % 4 == 0) "alpha beta gamma" else s"alpha title $i"
      val body =
        if (i % 3 == 0) Seq.fill(3)("red fox jumps").mkString("\\n\\n")
        else s"body $i red fox and filler words $i"
      s"""{"id": $i, "title": "$title", "body": "$body", "kind": ${i % 2}}"""
    }.toDF("document"))
    val p = Pipeline("p", Seq(
      PipelineField("title", semanticSearch = Some(HashEmbedder(32)),
        hnswIndex = Some((8, 32)), annEf = 500),
      PipelineField("body", splitter = Some((20, 0)),
        semanticSearch = Some(HashEmbedder(32)))))
    c.syncPipeline(p)
    val bodyChunks = c.chunks(p, "body").select("document_id", "chunk").as[(String, String)]
      .collect().groupBy(identity).values.map(_.length)
    assert(bodyChunks.exists(_ >= 2), "no document carries identical chunks")

    val cases: Seq[(String, Seq[VectorSearchField], Int, Option[String], Option[Int])] = Seq(
      ("unequal positive boosts", Seq(VectorSearchField("title", "alpha beta gamma", 1.0),
        VectorSearchField("body", "red fox jumps", 0.5)), 30, None, None),
      ("a zero-boost exact field", Seq(VectorSearchField("body", "red fox jumps", 0.75),
        VectorSearchField("title", "alpha", 0.0)), 60, None, None),
      ("a full-text-filtered field", Seq(VectorSearchField("body", "red fox", 1.0,
        fullTextFilter = Some("jumps")), VectorSearchField("title", "alpha beta", 2.0)),
        30, None, None),
      ("a metadata filter on the exact scan", Seq(VectorSearchField("body", "red fox jumps")),
        12, Some("""{"kind": {"$eq": 1}}"""), None),
      ("the rerank arm", Seq(VectorSearchField("body", "red fox jumps")), 5, None, Some(30)))
    cases.foreach { case (what, fqs, limit, filter, rr) =>
      val got = c.vectorSearch(p, fqs, limit, filter, rr)
      assert(got.columns.toSeq == Seq("document_id", "document", "chunk", "score") ++
        rr.map(_ => "rerank_score"), what)
      val want = oldChain(c, wh, p, fqs, limit, filter, rr)
      assert(want.nonEmpty, what)
      assert(got.collect().toSeq == want, s"$what: order or values differ from the old chain")
    }
  }
}
