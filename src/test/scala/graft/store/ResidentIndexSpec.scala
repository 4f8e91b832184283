package graft.store

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.HashEmbedder
import graft.operators.HnswIndex

/** Invariant "no cache entry outlives its source" for the resident index
  * handle `vectorSearch` serves from: after every kind of write, the next
  * search on a long-lived Collection returns exactly what a fresh load of
  * the same warehouse returns with its index caches dropped. */
class ResidentIndexSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  private val name = "resident"
  private val pipeline = Pipeline("p", Seq(PipelineField("body",
    splitter = Some((100000, 0)), semanticSearch = Some(HashEmbedder(32)),
    hnswIndex = Some((8, 32)), annEf = 500)))

  private def upsert(c: Collection, ids: Range, tag: String): Unit =
    c.upsertDocuments(ids.map(i =>
      s"""{"id": $i, "body": "$tag doc $i ${"idea " * (i % 5 + 1)}", "kind": ${i % 2}}""")
      .toDF("document"))

  private def search(c: Collection, q: String, filtered: Boolean = false): Seq[Row] =
    c.vectorSearch(pipeline, Seq(VectorSearchField("body", q)), limit = 5,
      filterJson = if (filtered) Some("""{"kind": {"$eq": 1}}""") else None)
      .collect().toSeq

  /** A fresh load: the warehouse's index handle dropped with its graphs,
    * probe RDD and cached blob frame (only this home's — other suites'
    * caches share the JVM), and a new Collection over the same warehouse. */
  private def fresh(wh: String, q: String, filtered: Boolean = false): Seq[Row] = {
    HnswIndex.invalidate(s"$wh/$name/p/body_hnsw")
    search(new Collection(spark, name, wh), q, filtered)
  }

  /** The long-lived collection's next answers (handle possibly resident)
    * equal a fresh load's, filtered and not; then re-warm the handle so
    * the next write has a resident entry to invalidate. */
  private def assertFresh(c: Collection, wh: String, q: String, after: String): Unit = {
    val served = (search(c, q), search(c, q, filtered = true))
    val want = (fresh(wh, q), fresh(wh, q, filtered = true))
    assert(served == want, s"stale results after $after")
    assert(served._1.nonEmpty && served._2.nonEmpty)
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

  test("the handle is resident across searches and dropped by every writer") {
    val wh = Files.createTempDirectory("graft_resident_").toString
    val c = new Collection(spark, name, wh)
    c.mergeEvery = 1000
    upsert(c, 0 until 40, "first")
    c.syncPipeline(pipeline)
    search(c, "first doc 3")
    val h = c.hnswIndex(pipeline, "body")
    search(c, "first doc 4")
    assert(c.hnswIndex(pipeline, "body") eq h, "the handle was reloaded without a write")

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

    // 3. delete cascade
    c.deleteDocuments("""{"id": {"$eq": 41}}""")
    assertFresh(c, wh, "zanzibar doc 41", "a delete cascade")

    // 4. a write through a second Collection over the same warehouse
    val other = new Collection(spark, name, wh)
    upsert(other, 43 until 46, "quasar")
    other.syncPipeline(pipeline)
    assertFresh(c, wh, "quasar doc 44", "another instance's sync")

    // 5. an out-of-band rewrite of the home's files: put back an older
    // forest (no quasar nodes) without any graft writer seeing it
    val home = java.nio.file.Paths.get(s"$wh/$name/p/body_hnsw")
    val older = Files.createTempDirectory("graft_resident_home_")
    deleteTree(older)
    copyTree(home, older)
    upsert(other, 46 until 49, "flotilla")
    other.syncPipeline(pipeline)
    val before = search(c, "flotilla doc 47")
    deleteTree(home)
    copyTree(older, home)
    val after = search(c, "flotilla doc 47")
    assert(after != before, "the rewrite did not change what the forest answers")
    assert(after == fresh(wh, "flotilla doc 47"), "stale results after an out-of-band rewrite")
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
