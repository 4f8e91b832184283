package graft.store

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Row
import org.apache.spark.storage.{RDDBlockId, StorageLevel}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.HashEmbedder
import graft.operators.IndexStore

/** The rows of a prepared read stay resident: a warm serve call scans
  * decoded rows from Spark's block manager and opens no file, a listing
  * change releases the old snapshot's blocks, a block lost from storage is
  * recomputed from the planned files, and a home planned per call keeps
  * nothing. Bytes read are Hadoop's own `FileSystem` statistics for the
  * local scheme: Spark's input metrics also count a cached block's bytes. */
class ResidentReadSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  private val pipeline = Pipeline("p", Seq(PipelineField("body",
    splitter = Some((100000, 0)), semanticSearch = Some(HashEmbedder(32)),
    fullTextSearch = true, hnswIndex = Some((8, 32)))))
  private val kindFilter = """{"kind": {"$eq": 1}}"""

  private def docJson(i: Int, tag: String, rev: Int = 0): String =
    s"""{"id": $i, "body": "$tag doc $i ${"idea " * (i % 5 + 1)}", "kind": ${i % 2}, "rev": $rev}"""

  private def upsert(c: Collection, ids: Range, tag: String): Unit =
    c.upsertDocuments(ids.map(i => docJson(i, tag)).toDF("document"))

  /** A collection named `name`, synced, in the warehouse `wh`. */
  private def synced(name: String,
      wh: String = Files.createTempDirectory("graft_resident_").toString): Collection = {
    val c = new Collection(spark, name, wh)
    upsert(c, 0 until 30, "first")
    c.syncPipeline(pipeline)
    c.awaitMaintenance()
    c
  }

  private def vectorSearch(c: Collection, q: String, filter: Option[String] = None): Seq[Row] =
    c.vectorSearch(pipeline, Seq(VectorSearchField("body", q)), limit = 5, filterJson = filter)
      .collect().toSeq
  private def hybrid(c: Collection, q: String): Seq[Row] =
    c.search(pipeline, semantic = Seq(VectorSearchField("body", q)),
      fullText = Seq(FullTextField("body", q)), limit = 5).collect().toSeq

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Partitions of `rdd` the block manager holds now (asked of its master,
    * not of the asynchronously updated status store). */
  private def cachedPartitions(rdd: RDD[_]): Int =
    rdd.partitions.indices.count(i =>
      SparkEnv.get.blockManager.master.contains(RDDBlockId(rdd.id, i)))

  private def payloads(c: Collection, ids: Seq[String]): Map[String, String] =
    c.docPayloads.lookup(Seq("source_uuid"), ids.map(Seq(_)))
      .map(r => SnapshotRead.string(r, 0) -> SnapshotRead.string(r, 1)).toMap

  private def idsOf(c: Collection): Seq[String] =
    c.documents.select("source_uuid").as[String].collect().toSeq

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

  test("a warm vectorSearch, filtered vectorSearch and hybrid search read no file") {
    val c = synced("resident_warm")
    val kinds: Seq[(String, String => Seq[Row])] = Seq(
      "vectorSearch" -> (q => vectorSearch(c, q)),
      "filtered vectorSearch" -> (q => vectorSearch(c, q, Some(kindFilter))),
      "hybrid search" -> (q => hybrid(c, q)))
    kinds.foreach { case (_, call) => call("first doc 3"); call("first doc 4") }
    c.awaitMaintenance()
    kinds.foreach { case (kind, call) =>
      var rows = Seq.empty[Row]
      val bytes = TestSpark.localBytesReadOf { rows = call("first doc 7") }
      assert(rows.nonEmpty, kind)
      assert(bytes == 0, s"a warm $kind read $bytes bytes of local files")
    }
    val reads = Seq(c.hidKeys(pipeline, "body"), c.docPayloads, c.chunkTexts(pipeline, "body"),
      c.chunkVectors(pipeline, "body"), c.chunkTerms(pipeline, "body"))
    reads.foreach { r =>
      assert(r.plan.rdd.getStorageLevel == StorageLevel.MEMORY_ONLY)
      assert(cachedPartitions(r.plan.rdd) == r.plan.rdd.partitions.length,
        s"a read of ${r.schema.fieldNames.mkString(", ")} is not fully resident")
    }
  }

  test("a listing change releases the old plan's rows and serves the new ones") {
    val wh = Files.createTempDirectory("graft_resident_").toString
    val c = synced("resident_listing", wh)
    vectorSearch(c, "first doc 3")
    val old = Seq(c.docPayloads, c.hidKeys(pipeline, "body"), c.chunkTexts(pipeline, "body"))
      .map(_.plan.rdd)
    assert(old.forall(r => persisted(r.id)))

    // an upsert and its sync: documents, embeddings and chunks all change
    upsert(c, 30 until 33, "zanzibar")
    c.syncPipelineIncremental(pipeline)
    c.awaitMaintenance()
    val hits = vectorSearch(c, "zanzibar doc 31")
    assert(hits.exists(_.getString(2).startsWith("zanzibar doc ")),
      "the next call did not serve the upserted chunks")
    val released = old.filter(r => persisted(r.id))
    assert(released.isEmpty, s"RDDs ${released.map(_.id)} outlived their listing")
    assert(old.forall(_.getStorageLevel == StorageLevel.NONE))

    // an out-of-band rewrite: put back the documents' files from before a
    // JSON change, after a lookup made the changed rows resident
    val docsHome = java.nio.file.Paths.get(s"$wh/resident_listing/documents")
    val older = Files.createTempDirectory("graft_resident_older_")
    copyTree(docsHome, older)
    val ids = idsOf(c)
    val before = payloads(c, ids)
    c.upsertDocuments(Seq(docJson(5, "first", rev = 7)).toDF("document"))
    val revised = payloads(c, ids)
    assert(revised != before &&
      revised.values.exists(d => "\"rev\"\\s*:\\s*7\\b".r.findFirstIn(d).isDefined))
    val revisedRdd = c.docPayloads.plan.rdd
    assert(persisted(revisedRdd.id))
    deleteTree(docsHome)
    copyTree(older, docsHome)
    assert(payloads(c, ids) == before, "a lookup after the rewrite served the replaced rows")
    assert(!persisted(revisedRdd.id), "the replaced snapshot's rows stayed persisted")
  }

  test("a resident partition removed from the block manager is recomputed identically") {
    val c = synced("resident_evict")
    val ids = idsOf(c)
    val want = payloads(c, ids)
    val rdd = c.docPayloads.plan.rdd
    val parts = rdd.partitions.length
    assert(cachedPartitions(rdd) == parts)
    (0 until parts).foreach(i => SparkEnv.get.blockManager.removeBlock(RDDBlockId(rdd.id, i)))
    assert(cachedPartitions(rdd) == 0, "the blocks were not removed")
    var got = Map.empty[String, String]
    val bytes = TestSpark.localBytesReadOf { got = payloads(c, ids) }
    assert(got == want, "the recomputed rows differ from the resident ones")
    assert(bytes > 0, "the lost partitions were not read from the files")
    assert(c.docPayloads.plan.rdd eq rdd, "the lost blocks re-planned the read")
    assert(cachedPartitions(rdd) == parts, "the recomputed partitions are not resident again")
  }

  test("a home planned per call persists nothing; a file: home persists one plan") {
    val dir = Files.createTempDirectory("graft_resident_home_").resolve("t").toString
    spark.range(40).selectExpr("id", "cast(id * 2 as string) AS v").repartition(3)
      .write.parquet(dir)
    val want = Set(3L -> "6", 17L -> "34")
    def lookup(home: String): (SnapshotRead, Set[(Long, String)]) = {
      val read = SnapshotRead(home, Seq("id", "v"))(spark.read.parquet(dir))
      read -> read.lookup(Seq("id"), Seq(Seq(3L), Seq(17L)))
        .map(r => r.getLong(0) -> SnapshotRead.string(r, 1)).toSet
    }
    // a non-local home has no listing to check: it is planned per call
    // (its table here reads the local files, which is all the read sees)
    val start = persisted
    val perCall = (1 to 5).map(_ => lookup("s3a://graft-spec-bucket/t"))
    assert(perCall.forall(_._2 == want))
    assert(perCall.map(_._1.plan).distinct.size == 5, "a non-local home's plan was kept")
    assert((persisted -- start).isEmpty, "a home planned per call left persisted RDDs")

    val local = (1 to 5).map(_ => lookup(s"file://$dir"))
    assert(local.forall(_._2 == want))
    assert(local.map(_._1.plan).distinct.size == 1, "a file: home was planned more than once")
    assert(persisted -- start == Set(local.head._1.plan.rdd.id))
    IndexStore.invalidate(s"file://$dir")
    assert((persisted -- start).isEmpty, "invalidate left the file: home's rows persisted")
  }
}
