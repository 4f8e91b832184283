package graft.store

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Invariant "a sync after an upsert sees that upsert" on the bulk
  * (distributed) upsert path: the changelog batch is read back from the
  * documents segment the upsert just committed, so a documents-compaction
  * publish must not be able to retire that segment in between. */
class BulkUpsertChangelogSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  private def docs(from: Int, until: Int) =
    (from until until).map(i => s"""{"id": $i, "body": "bulk doc $i"}""").toDF("document")

  test("a compaction publish forced between segment commit and changelog read loses no document") {
    val wh = Files.createTempDirectory("graft_bulkcl_").toString
    val c = new Collection(spark, "bulkcl", wh)
    val p = Pipeline("p", Seq(PipelineField("body",
      splitter = Some((100000, 0)), semanticSearch = None)))
    // 16 documents segments: one more makes the documents table due for
    // compaction (budget 16), and the bulk upsert below adds exactly that
    c.upsertDocuments(docs(0, 1))
    (1 until 16).foreach(i => c.upsertDocuments(docs(i, i + 1)))
    val docsPath = s"$wh/bulkcl/documents"
    assert(DeltaTable.segmentCount(docsPath) == 16)
    c.syncPipeline(p)

    // the seam fires after the bulk segment commits: schedule the
    // compaction and give its publish every chance to land before the
    // changelog read-back (the publish needs the exclusive docs lock, so
    // it can only land here if the read-back runs outside the lock)
    var dueAtHook = false
    c.afterBulkSegment = () => {
      dueAtHook = DeltaTable.compactionDue(docsPath, 16)
      c.scheduleDocsCompaction()
      val deadline = System.currentTimeMillis() + 5000
      while (DeltaTable.segmentCount(docsPath) > 1 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
    }
    // past the In-pushdown cap: the bulk arm, not the small-batch one
    val n = DeltaTable.InPushdownMaxIds + 100
    try c.upsertDocuments(docs(16, 16 + n))
    finally c.afterBulkSegment = () => ()
    c.awaitMaintenance()
    assert(dueAtHook, "the hook ran without a compaction due")
    assert(DeltaTable.segmentCount(docsPath) == 1, "the forced compaction never published")

    c.syncPipelineIncremental(p)
    val all = c.documents.select("source_uuid").as[String].collect().toSet
    val synced = c.chunks(p, "body").select("document_id").as[String].collect().toSet
    val missed = all -- synced
    assert(all.size == 16 + n)
    assert(missed.isEmpty, s"incremental sync missed ${missed.size} upserted document(s)")
    assert(synced.subsetOf(all))
  }
}
