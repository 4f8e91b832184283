package graft.store

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.ChunkFunctions.chunkText
import graft.functions.{Embedder, HashEmbedder}
import graft.functions.VecFunctions._
import graft.functions.TextFunctions

/** Document → chunk → embedding → index store: the Spark-native counterpart
  * of the reference SDK's Collection/Pipeline (pgml-sdks/pgml/src/
  * collection.rs, pipeline.rs, queries.rs:5-103).
  *
  * Layout (parquet under a warehouse dir; Delta MERGE is the production
  * sink for the upsert path — plain-parquet snapshot rewrite here):
  *
  *   <warehouse>/<collection>/documents           (row_id, source_uuid, document, created_at)
  *   <warehouse>/<collection>/<pipeline>/<field>_chunks      (document_id, chunk_index, chunk)
  *   <warehouse>/<collection>/<pipeline>/<field>_embeddings  (document_id, chunk_index, embedding)
  *   <warehouse>/<collection>/<pipeline>/<field>_tsvectors   (document_id, chunk_index, terms)
  *
  * `document` is a schemaless JSON string (the reference's JSONB); its "id"
  * key defines identity via md5 (collection.rs:671-678).
  */
final case class PipelineField(
    name: String,
    splitter: Option[(Int, Int)] = Some((1500, 40)), // chunk_size, overlap
    // which named splitter drives the chunking (the reference's
    // splitter.model — langchain registry; see ChunkKernel.splitterNames)
    splitterModel: String = "recursive_character",
    semanticSearch: Option[Embedder] = Some(HashEmbedder(64)),
    fullTextSearch: Boolean = false,
    // nlist for a persisted IVF ANN index built at sync time (the engine's
    // partition-pruned default ANN, see IvfIndex.scala); 0 = ~√N
    vectorIndex: Option[Int] = None,
    // (m, ef_construction) for a persisted HNSW forest built at sync time —
    // the reference's literal per-field hnsw config (pipeline.rs:97-142,
    // defaults 16/64 at :66-73); serves repeated queries from in-memory
    // graphs (HnswIndex.scala)
    hnswIndex: Option[(Int, Int)] = None,
    // persisted sign-bit signature table built at sync time (pgvector's
    // bit-quantization expression-index capability): candidate generation
    // scans 1/32 of the embedding bytes, exact re-rank on the shortlist
    // (operators/Quantized.scala)
    binaryIndex: Boolean = false,
    // serve-time width for index-accelerated vectorSearch, split per index
    // family because the two knobs live on different scales: annEf is the
    // HNSW layer-0 sweep width (pgvector's hnsw.ef_search, typical ~4·k),
    // annRerank is the binary path's exact-re-rank shortlist size (typical
    // 10·k — 10k). 0 = per-index default. Raise for recall, lower for
    // latency.
    annEf: Int = 0,
    annRerank: Int = 0)

final case class Pipeline(name: String, fields: Seq[PipelineField])

/** Per-pipeline sync bookkeeping: the changelog watermark, how many delta
  * syncs ran since the last full build (the table/index merge trigger), and
  * per-field counts of index rows superseded by deltas (the exact
  * over-fetch slack `hnswSearch` needs so stale graph nodes can never
  * crowd live ones out of a top-k). Top-level so json4s can construct it. */
private[store] final case class SyncState(
    watermark: Long, deltaSyncs: Int, stale: Map[String, Long])

class Collection(spark: SparkSession, val name: String, warehouseDir: String) {
  import spark.implicits._

  private def docsPath = s"$warehouseDir/$name/documents"
  // pipeline dirs share a parent with the collection's own tables — a
  // pipeline named "documents" would write into (and removePipeline would
  // DELETE) the corpus itself
  private val reservedNames = Set(
    "documents", "searches", "search_results", "search_events", "pipelines.json")
  private def checkPipelineName(pipeline: String): Unit =
    require(!reservedNames.contains(pipeline) && !pipeline.endsWith("_tmp")
        && !pipeline.endsWith("_old") && !pipeline.startsWith("_"),
      s"pipeline name '$pipeline' collides with a reserved collection table")
  private def tablePath(pipeline: String, field: String, kind: String) = {
    checkPipelineName(pipeline)
    s"$warehouseDir/$name/$pipeline/${field}_$kind"
  }

  def documents: DataFrame =
    if (DeltaTable.exists(docsPath)) DeltaTable.read(spark, docsPath, "source_uuid")
    else spark.read.parquet(docsPath)

  // ---- upsert changelog + per-pipeline sync state: what makes incremental
  // sync proportional to the CHANGE. Every upsert appends its batch's
  // post-merge documents under _changelog/batch=N; each pipeline records the
  // last batch it consumed, so a sync reads only the new batches (partition
  // pruning on `batch`) instead of diffing the whole corpus. The reference
  // gets the same effect from its transactional upsert-then-sync flow over
  // the documents it just wrote (collection.rs:649-719).

  private def changelogPath = s"$warehouseDir/$name/_changelog"

  private def maxChangelogBatch: Long =
    Option(new java.io.File(changelogPath).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .map(_.getName.stripPrefix("batch=").toLong).foldLeft(-1L)(math.max)

  /** The batch bound CONSUMERS advance watermarks to: stops short of any
    * allocated batch a concurrent upsert hasn't published yet, so a
    * later-numbered batch landing first can never make a sync skip the
    * straggler (it stays above the watermark until it settles). */
  private def settledChangelogBatch: Long =
    DeltaTable.settledLogBatch(changelogPath)

  /** Changelog entry sourced from a documents segment already on disk —
    * an O(batch) file scan with no plan replay. An empty upsert batch
    * writes no segment directory; there is nothing to log then. */
  private def appendChangelogFromSeg(seg: Int, sess: SparkSession = spark): Unit = {
    val dir = new java.io.File(s"$docsPath/seg=$seg")
    if (dir.isDirectory) appendChangelog(
      DeltaTable.readParquetCached(sess, dir.getPath, s"$docsPath#segdir"))
  }

  /** Driver-side twin of the changed-docs window: union the new changelog
    * batches in batch order and keep each uuid's LAST row (row_number over
    * batch desc ≡ last-put-wins over batch asc). None when any batch file's
    * layout the local reader can't take — caller collects distributed. */
  private def readChangelogLocal(
      wm: Long, maxB: Long): Option[Seq[(String, String)]] = {
    val dirs = Option(new java.io.File(changelogPath).listFiles())
      .getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.startsWith("batch="))
      .map(d => (d.getName.stripPrefix("batch=").toLong, d))
      .filter { case (b, _) => b > wm && b <= maxB }
      .sortBy(_._1)
    val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
    for ((_, d) <- dirs) {
      val files = Option(d.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet")).sortBy(_.getName)
      DeltaTable.readFilesLocal(files.toSeq,
          Seq("source_uuid" -> "string", "document" -> "string")) match {
        case Some(rows) => rows.foreach(r =>
          out.put(r(0).asInstanceOf[String], r(1).asInstanceOf[String]))
        case None => return None
      }
    }
    Some(out.toSeq.sortBy(_._1))
  }

  private def appendChangelogLocal(rows: Seq[(String, String)]): Unit = {
    val batch = DeltaTable.allocLogBatch(changelogPath)
    DeltaTable.publishLogBatchLocal(rows, changelogPath, batch)
    ()
  }

  private def appendChangelog(batchDocs: DataFrame): Unit = {
    // write-ahead numbering + stage-then-rename: the old read-then-append
    // `maxChangelogBatch + 1` handed two concurrent upserts the same batch
    // id, and their SaveMode.Append writes raced on a shared _temporary
    // dir (the failure mode the data segments were hardened against)
    val batch = DeltaTable.allocLogBatch(changelogPath)
    DeltaTable.publishLogBatch(
      batchDocs.select(col("source_uuid"), col("document")),
      changelogPath, batch)
  }

  private def statePath(pipeline: String) =
    s"$warehouseDir/$name/$pipeline/_state.json"

  private def pipelineKey(pipeline: String): String =
    new java.io.File(s"$warehouseDir/$name/$pipeline").getAbsolutePath

  /** Shared-side lock for appenders (delta syncs, cascade tombstones):
    * many may run concurrently — the segment protocol keeps them apart —
    * but none may overlap a merge's snapshot or publish. */
  private def withSyncLock[A](pipeline: String)(body: => A): A = {
    val l = Collection.lockFor(pipelineKey(pipeline)).readLock()
    traced("lock:sync-acquire")(l.lock()); try body finally l.unlock()
  }

  /** Exclusive-side lock: full rewrites, pipeline removal, and the two
    * bounded phases of a background merge. */
  private def withExclusiveLock[A](pipeline: String)(body: => A): A = {
    val l = Collection.lockFor(pipelineKey(pipeline)).writeLock()
    l.lock(); try body finally l.unlock()
  }

  // ---- documents-table writer coordination, the pipeline locks' twin for
  // the corpus table itself: appenders (upserts, delete tombstones) hold
  // the shared side; the background staged compaction's snapshot and
  // publish phases (and full rewrites) hold the exclusive side.
  private def docsKey: String = new java.io.File(docsPath).getAbsolutePath
  private def withDocsAppendLock[A](body: => A): A = {
    val l = Collection.lockFor(docsKey).readLock()
    l.lock(); try body finally l.unlock()
  }
  private def withDocsExclusiveLock[A](body: => A): A = {
    val l = Collection.lockFor(docsKey).writeLock()
    l.lock(); try body finally l.unlock()
  }

  /** Exclusive locks over EVERY pipeline dir, in sorted order — the docs
    * compaction's publish must not swap the documents files out from
    * under a sync's in-flight corpus scan (a full sync holds its
    * pipeline's write lock for the whole chunk job; incremental syncs
    * hold the read side). Lock ORDER is docs-then-pipelines everywhere
    * (deleteDocuments takes the same order via cascadeDelete), so the
    * two multi-lock holders can never deadlock. */
  private def withAllPipelinesExclusive[A](body: => A): A = {
    val collDir = new java.io.File(s"$warehouseDir/$name")
    val nonPipeline = Set("documents", "searches", "search_results", "search_events")
    val locks = Option(collDir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && !nonPipeline.contains(f.getName)
        && !f.getName.startsWith("_") && !f.getName.endsWith("_tmp")
        && !f.getName.endsWith("_old") && !f.getName.endsWith("_mergestage"))
      .map(_.getAbsolutePath).sorted
      .map(k => Collection.lockFor(k).writeLock())
    locks.foreach(_.lock())
    try body finally locks.reverse.foreach(_.unlock())
  }

  /** How fragmented the documents table may get before a compaction is
    * scheduled (same budget the old inline compactIfNeeded used). */
  private val docsMaxSegments = 16

  /** Schedule the documents-table compaction on the background merge
    * thread. The old inline `compactIfNeeded` ran the O(corpus) rewrite in
    * the FOREGROUND of whichever micro-batch tripped the 16-segment budget
    * — a 0.5 s spike at sf0.1 and an unbounded stall at 100 TB, exactly
    * the failure mode the pipeline tables' staged merge already solves.
    * Same one-per-path dedup guard and [[Collection.pendingMerges]]
    * visibility (awaitMaintenance blocks on it). */
  private[store] def scheduleDocsCompaction(): Unit =
    if (DeltaTable.compactionDue(docsPath, docsMaxSegments)) {
      val key = docsKey
      val done = scala.concurrent.Promise[Unit]()
      if (Collection.pendingMerges.putIfAbsent(key, done.future).isEmpty) {
        Collection.mergeEc.execute { () =>
          try { runStagedDocsCompaction(); done.success(()); () }
          catch { case e: Throwable => done.failure(e); () }
          finally { Collection.pendingMerges.remove(key); () }
        }
      }
    }

  /** Staged compaction of the documents table — the three-phase protocol
    * of [[runStagedMerge]] without the derived-index arms: snapshot the
    * segment/manifest/marker names under the exclusive lock, compact from
    * exactly those names with no lock held (appends keep landing), then
    * hard-link the late segments/manifests in and swap — appenders hold
    * the shared lock for their whole commit, so the snapshot and the
    * publish always cut at segment boundaries. A delete's full rewrite
    * bumps the docs generation and the publish aborts. */
  private[store] def runStagedDocsCompaction(): Unit = {
    val key = docsKey
    val gen0 = Collection.generationOf(key).get()
    if (!DeltaTable.compactionDue(docsPath, docsMaxSegments)) return
    val snap = withDocsExclusiveLock {
      if (!DeltaTable.exists(docsPath)) return
      DeltaTable.snapshotNames(docsPath)
    }
    val staged = docsPath + "_mergestage"
    deleteRec(new java.io.File(staged))
    try
      DeltaTable.stageBase(
        DeltaTable.readSnapshot(spark, docsPath, snap, "source_uuid"),
        staged, sortCols = Seq("source_uuid"))
    catch {
      case e: Throwable =>
        deleteRec(new java.io.File(staged))
        // a concurrent full rewrite deleted the snapshot's files out from
        // under the build — that IS the abort path, not an error
        if (Collection.generationOf(key).get() != gen0) return
        throw e
    }
    // publish only when NO sync's corpus scan is in flight: a full sync
    // chunks `documents` for minutes under its pipeline write lock, and
    // swapping the docs dir mid-scan fails its tasks with
    // FAILED_READ_FILE (seen at the 5M-doc decade run). Docs lock first,
    // then every pipeline lock — the deleteDocuments order.
    val aborted = withDocsExclusiveLock(withAllPipelinesExclusive {
      if (Collection.generationOf(key).get() != gen0) true
      else {
        DeltaTable.carryLate(docsPath, staged, snap)
        DeltaTable.publishStaged(staged, docsPath)
        false
      }
    })
    if (aborted) deleteRec(new java.io.File(staged))
    else DeltaTable.warmReadCaches(spark, docsPath, "source_uuid")
  }

  private def readState(pipeline: String): Option[SyncState] = {
    val f = new java.io.File(statePath(pipeline))
    if (!f.exists()) None
    else {
      implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
      Some(org.json4s.jackson.JsonMethods.parse(
        java.nio.file.Files.readString(f.toPath)).extract[SyncState])
    }
  }

  private def writeState(pipeline: String, s: SyncState): Unit = {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val p = java.nio.file.Paths.get(statePath(pipeline))
    java.nio.file.Files.createDirectories(p.getParent)
    val tmp = java.nio.file.Paths.get(statePath(pipeline) + "_tmp")
    java.nio.file.Files.writeString(tmp, org.json4s.jackson.Serialization.write(s))
    java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  // dev-only section tracing for the micro-batch latency work: set
  // SPARK_GRAFT_TRACE=1 to print per-section walls (no cost when unset)
  private val trace = sys.env.get("SPARK_GRAFT_TRACE").contains("1")
  private def traced[A](label: String)(body: => A): A =
    if (!trace) body
    else {
      val t0 = System.nanoTime()
      val r = body
      println(f"    [trace] $label%-28s ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }

  /** Driver-side fast path for [[upsertDocuments]] — see the call site.
    * Returns false when any precondition fails (the caller then runs the
    * distributed path). Semantics are IDENTICAL by construction: the
    * same uuid derivation (md5 over get_json_object's unquoted id
    * rendering — only string/integer ids qualify, anything else bails),
    * the same last-occurrence-wins batch dedup, the same created_at
    * retention, and the same segment/manifest/changelog protocol
    * (shared appendDelta/appendChangelog entry points). */
  private def upsertLocalFast(docJsons: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.types._
    if (!new java.io.File(docsPath).exists() || !DeltaTable.exists(docsPath))
      return false
    val docs: Seq[String] = docJsons.queryExecution.optimizedPlan match {
      case lr: LocalRelation if lr.data.size <= DeltaTable.InPushdownMaxIds =>
        val idx = lr.output.indexWhere(_.name == "document")
        if (idx < 0 || lr.output(idx).dataType != StringType) return false
        if (lr.data.exists(_.isNullAt(idx))) return false
        lr.data.map(_.getUTF8String(idx).toString)
      case _ => return false
    }
    val parsed: Seq[(String, String)] = docs.map { doc =>
      val j = try org.json4s.jackson.JsonMethods.parse(doc)
        catch { case _: Throwable => return false }
      // OBJECT roots only: json4s `\` would descend into an array root
      // and find nested ids where get_json_object('$.id') returns NULL —
      // any non-object document must key identically to the distributed
      // path, so it takes that path
      j match {
        case o: org.json4s.JObject => (o \ "id") match {
          case org.json4s.JString(s) => (s, doc)
          case org.json4s.JInt(n) => (n.toString, doc)
          case _ => return false
        }
        case _ => return false
      }
    }
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString
    // last occurrence of a uuid wins (statement order, like the window)
    val lastByUuid = scala.collection.mutable.LinkedHashMap.empty[String, String]
    parsed.foreach { case (id, doc) => lastByUuid.put(md5hex(id), doc) }
    val uuids = lastByUuid.keys.toSeq
    // an empty batch publishes NOTHING — no segment, no manifest, and no
    // changelog batch (an empty changelog batch would make every synced
    // pipeline run its whole delta machinery for nothing on next sync)
    if (uuids.isEmpty) return true
    val sess = microSpark(1)
    // timestamps land as INT64 micros — what the local parquet writer
    // declares and what Spark reads back as TimestampType
    def micros(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos % 1000000) / 1000L
    // shared docs lock from the old-rows read through the segment commit:
    // the background compaction's publish swaps the table's files, and an
    // unlocked read racing it could open a just-retired path
    withDocsAppendLock {
    // the one remaining corpus touch — the touched documents' stored
    // created_at — reads DRIVER-SIDE when the layout allows (In-pruned to
    // the docs' own segments, same supersession rule); the distributed
    // In-pruned read remains the fallback for legacy/INT96 layouts
    val oldCreatedMicros: Map[String, Long] =
      DeltaTable.readDocsLocal(sess, docsPath, uuids,
          Seq("source_uuid" -> "string", "created_at" -> "ts"),
          "source_uuid") match {
        case Some(rows) => rows.collect {
          case Seq(u: String, m: java.lang.Long) => u -> m.longValue
        }.toMap
        case None => traced("up:old-created")(
          DeltaTable.read(sess, docsPath, "source_uuid")
            .where(col("source_uuid").isin(uuids: _*))
            .select("source_uuid", "created_at")
            .collect().map(r => r.getString(0) -> micros(r.getTimestamp(1))).toMap)
      }
    val nowMicros = micros(new java.sql.Timestamp(System.currentTimeMillis()))
    // uuid-sorted, like the distributed path's sortWithinPartitions: the
    // In-pruned reads rely on row-group source_uuid stats
    val sortedUuids = uuids.sorted
    val outRows: Seq[Seq[Any]] = sortedUuids.map { u =>
      Seq(
        org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
          org.apache.spark.unsafe.types.UTF8String.fromString(u), StringType, 42L),
        u, lastByUuid(u), oldCreatedMicros.getOrElse(u, nowMicros))
    }
    // the batch is driver-held end to end: old created_at, segment file,
    // manifest rows, changelog batch, and every commit marker — an
    // event-sized upsert schedules ZERO Spark jobs on current layouts
    traced("up:append-docs")(DeltaTable.appendDeltaLocal(docsPath,
      Seq("row_id" -> "long", "source_uuid" -> "string",
        "document" -> "string", "created_at" -> "ts"),
      outRows, uuids, docCol = "source_uuid"))
    traced("up:changelog")(appendChangelogLocal(
      sortedUuids.map(u => u -> lastByUuid(u))))
    } // withDocsAppendLock
    traced("up:compact-check")(scheduleDocsCompaction())
    true
  }

  /** Test seam: runs inside a bulk upsert between its documents-segment
    * commit and the changelog read-back of that segment. */
  @volatile private[store] var afterBulkSegment: () => Unit = () => ()

  /** Upsert a batch of JSON documents (each must contain an "id" key).
    * `merge=true` shallow-merges new keys over the previous document
    * (`document || EXCLUDED.document`, queries.rs:146-169).
    *
    * When the batch holds one id more than once, the LAST occurrence in
    * the frame's partition order wins. That order is read once, when the
    * batch is stamped and frozen, so the winner is deterministic only if
    * `docJsons` is: a frame whose row order depends on a shuffle without
    * a sort, a sample, or a nondeterministic expression may keep either
    * duplicate.
    */
  def upsertDocuments(docJsons: DataFrame, merge: Boolean = false): Unit = {
    // FAST PATH — event-sized upserts (the continuous-ingest shape): a
    // LocalRelation of at most In-pushdown-cap rows with merge=false
    // computes its dedup and post-merge rows DRIVER-SIDE (the driver
    // already holds the data — a window + merge-join lineage over it is
    // pure scheduling overhead), so the batch's only corpus-touching
    // Spark action is the In-pruned two-column read of the old rows'
    // created_at. Every other shape — bulk backfills, scans, shallow
    // merge — takes the distributed path below unchanged.
    if (!merge && upsertLocalFast(docJsons)) { traced("up:prune-changelog")(pruneChangelog()); return }
    // Stamp batch order BEFORE any shuffle: the reference's ON CONFLICT
    // upsert is statement-ordered, and an id expression evaluated after the
    // window exchange would make "which duplicate wins" nondeterministic.
    // monotonically_increasing_id is order-consistent with batch (partition)
    // order when evaluated pre-shuffle.
    // micro-batch upserts run on the AQE-off session clone, like the delta
    // sync path: adaptive execution materializes every shuffle stage of
    // the dedup window + merge join as its OWN Spark job, which on a
    // one-document frame is pure scheduling overhead (~7 extra jobs per
    // event-sized upsert). Batch size is judged driver-side from the
    // UNEXECUTED plan's stats — a LocalRelation (the per-event shape) or
    // a small scan sizes exactly; corpus-sized backfills (and any plan
    // whose size is unknown → Long.MaxValue) keep the main session + AQE.
    val sess =
      if (docJsons.queryExecution.optimizedPlan.stats.sizeInBytes < (1L << 20))
        microSpark(1)
      else spark
    val stamped0 = docJsons
      .select(col("document").cast("string").as("document"))
      .withColumn("_seq", monotonically_increasing_id())
    val stamped = sess.createDataFrame(stamped0.rdd, stamped0.schema)
    // ONE eager checkpoint AFTER the dedup window, not before it: the
    // bulk path has four independent consumers of `incoming` (the batchN
    // audit, the olds broadcast, the merged segment write, and the
    // manifest id frame), and checkpointing only the stamped rows made
    // every consumer re-run the json parse + md5 + window — three extra
    // full-batch passes per bulk upsert (guide §5 reuse). Freezing the
    // post-dedup rows keeps the same stability guarantee (the stamped
    // _seq values and the window's pick are materialized in one job, so
    // no later re-execution can reassign them) at a strictly smaller
    // storage footprint, and created_at is frozen with them.
    val incoming = traced("up:incoming-checkpoint")(stamped
      .withColumn("source_uuid", md5(get_json_object(col("document"), "$.id")))
      .withColumn("created_at", current_timestamp())
      // last occurrence of a uuid within the batch wins
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("source_uuid")).orderBy(col("_seq").desc)))
      .where(col("_rn") === 1).drop("_rn", "_seq")
      .localCheckpoint())

    // The documents table is a delta table keyed by source_uuid: an upsert
    // appends ONE batch-sized segment holding the batch's post-merge rows
    // (old rows of the touched uuids are superseded via the manifest), so
    // upsert IO is O(batch) — the Delta/Iceberg MERGE shape — instead of a
    // full-outer join + corpus rewrite per batch. Old rows for the merge
    // read through an In(source_uuid…) pushdown against uuid-sorted
    // segments; untouched documents are never read or written.
    if (!new java.io.File(docsPath).exists()) {
      val out = incoming
        .withColumn("row_id", xxhash64(col("source_uuid"))) // stable keyset key
        .select("row_id", "source_uuid", "document", "created_at")
      DeltaTable.writeBase(out, docsPath, sortCols = Seq("source_uuid"))
      appendChangelogFromSeg(0)
    } else {
      // one-time migration of a legacy flat snapshot into the delta layout
      if (!DeltaTable.exists(docsPath))
        DeltaTable.writeBase(spark.read.parquet(docsPath), docsPath,
          sortCols = Seq("source_uuid"))
      val current = traced("up:current-read")(
        DeltaTable.read(sess, docsPath, "source_uuid"))
      // ONE action both sizes the batch and captures a small batch's ids
      // (collect up to the pushdown cap + 1; overflow = big batch, count
      // instead). Small batches get the literal-In pushdown — a
      // thousands-wide In costs planning time without pruning more, and
      // collecting a bulk backfill's ids would sit on the driver — and the
      // collected ids are reused for the job-free manifest write below.
      val probe = traced("up:probe-collect")(incoming.select("source_uuid")
        .limit(DeltaTable.InPushdownMaxIds + 1).as[String].collect().toSeq)
      // a document without an extractable "id" (get_json_object NULL —
      // missing key, array root) has no upsert identity: the old code
      // stored it under a NULL uuid that no manifest entry, changelog
      // consumer, or delete filter could ever address again. Fail loudly
      // (the documented contract: each document must contain an id key).
      require(!probe.contains(null),
        "upsertDocuments: every document must carry a JSON object root " +
          "with an \"id\" key (get_json_object('$.id') returned NULL)")
      val idsLocal =
        if (probe.size <= DeltaTable.InPushdownMaxIds) Some(probe) else None
      // bulk path: the probe only saw the first cap+1 rows, so the
      // null-id contract must be enforced over the WHOLE batch — the
      // sizing count doubles as the audit (one aggregate, no extra job).
      val batchN = idsLocal.map(_.size.toLong).getOrElse {
        val sized = incoming.agg(
          count(lit(1)).as("n"),
          count(when(col("source_uuid").isNull, 1)).as("n_null"))
          .head()
        require(sized.getLong(1) == 0L,
          s"upsertDocuments: ${sized.getLong(1)} document(s) in this batch " +
            "carry no JSON object root with an \"id\" key " +
            "(get_json_object('$.id') returned NULL)")
        sized.getLong(0)
      }
      val olds = (idsLocal match {
        case Some(ids) => current.where(col("source_uuid").isin(ids: _*))
        case None => current.join(broadcast(incoming.select("source_uuid")),
          Seq("source_uuid"), "left_semi")
      })
        .select(col("source_uuid"), col("document").as("old_doc"),
          col("created_at").as("old_created"))
      val upserted = incoming
        .join(olds, Seq("source_uuid"), "left")
        .select(
          col("source_uuid"),
          when(lit(merge) && col("old_doc").isNotNull,
            JsonOps.shallowMerge(col("old_doc"), col("document")))
            .otherwise(col("document")).as("document"),
          coalesce(col("old_created"), col("created_at")).as("created_at"))
        .withColumn("row_id", xxhash64(col("source_uuid")))
        .select("row_id", "source_uuid", "document", "created_at")
      // shared docs lock around the commit (segment + manifest + marker):
      // the background compaction's snapshot/publish must cut at a
      // segment boundary, never mid-append
      idsLocal match {
        case Some(_) =>
          // small batch: ONE action materializes the post-merge rows on
          // the driver, and the segment write, its manifest, AND the
          // changelog batch all derive from the local rows — the segment
          // and changelog writes become trivial LocalRelation jobs, and
          // the old read-back of the just-written segment (a listing +
          // scan per batch) disappears entirely. A 0-row batch publishes
          // nothing (no segment, no changelog batch — the pre-fast-path
          // behavior appendChangelogFromSeg's dir guard provided).
          withDocsAppendLock {
            val rows = traced("up:merge-collect")(upserted.collect().toSeq)
            if (rows.nonEmpty) {
              import scala.jdk.CollectionConverters._
              val local = sess.createDataFrame(rows.asJava, upserted.schema)
              traced("up:append-docs")(DeltaTable.appendDelta(sess, docsPath, local,
                incoming.select("source_uuid"), docCol = "source_uuid",
                sortCols = Seq("source_uuid"),
                coalesceTo = math.max(1, rows.size / DeltaTable.RowsPerDeltaFile),
                knownIds = idsLocal))
              traced("up:changelog")(appendChangelog(
                local.select(col("source_uuid"), col("document"))))
            }
          }
        case None =>
          withDocsAppendLock {
            val seg = traced("up:append-docs")(DeltaTable.appendDelta(sess, docsPath,
              upserted, incoming.select("source_uuid"), docCol = "source_uuid",
              sortCols = Seq("source_uuid"),
              coalesceTo =
                if (batchN <= DeltaTable.CoalesceBatchMax)
                  math.max(1, (batchN / DeltaTable.RowsPerDeltaFile).toInt)
                else 0,
              knownIds = idsLocal))
            afterBulkSegment()
            // record the batch's FINAL (post-merge) documents for
            // incremental sync by reading back the segment just written —
            // an O(batch) file scan; re-evaluating `upserted` here would
            // replay the whole merge join (a second corpus-sized pass on
            // bulk re-ingest). Still under the shared lock: a compaction
            // publish in between would retire `seg=N`, and the read-back
            // would then fail after the commit or skip the batch, so no
            // incremental sync would ever see these documents.
            traced("up:changelog")(appendChangelogFromSeg(seg, sess))
          }
      }
      traced("up:compact-check")(scheduleDocsCompaction())
      ()
    }
    traced("up:prune-changelog")(pruneChangelog()) // keep upsert-only collections bounded too
  }

  /** Filtered / ordered / keyset-paginated document scan
    * (collection.rs:769-848). */
  def getDocuments(
      limit: Int = 1000,
      lastRowId: Option[Long] = None,
      filterJson: Option[String] = None,
      orderByJson: Option[String] = None): DataFrame = {
    var df = documents
    val resolver = FilterCompiler.jsonStringResolver(col("document"))
    filterJson.foreach(f => df = df.where(FilterCompiler.compile(f, resolver)))
    lastRowId.foreach(id => df = df.where(col("row_id") > id))
    val sort = orderByJson.map(OrderByCompiler.compile(_, resolver))
      .getOrElse(Seq(col("row_id").asc))
    df.orderBy(sort: _*).limit(limit)
  }

  /** Filtered delete (collection.rs:872-884), CASCADED to every pipeline
    * table — the FK `ON DELETE CASCADE` semantics of the reference schema
    * (queries.rs:49-66): after a delete no chunk/embedding/tsvector row can
    * reference a dead document, so queries never need an orphan gate. The
    * cascade is a per-delete-batch cost (an anti-join rewrite of the
    * derived tables, the Delta `DELETE WHERE` shape), paid once per delete
    * instead of a corpus-wide semi-join on every search.
    */
  def deleteDocuments(filterJson: String): Unit = withDocsExclusiveLock {
    // a delete REWRITES the corpus's visible row set: abort any in-flight
    // background docs compaction (its staged base predates the tombstones'
    // manifest rows only by name-diff — safe — but the legacy
    // writeSnapshot branch swaps the whole dir, so the generation bump is
    // what keeps a racing publish from resurrecting pre-delete files)
    Collection.generationOf(docsKey).incrementAndGet()
    val resolver = FilterCompiler.jsonStringResolver(col("document"))
    val pred = FilterCompiler.compile(filterJson, resolver)
    // Materialize the doomed ids DURABLY before the documents snapshot swap
    // (same recompute hazard as the incremental-sync diff: a cached plan
    // re-executed after the swap would see the new table and diff nothing).
    val deadTmp = docsPath + "_dead_tmp"
    documents.where(pred).select(col("source_uuid").as("document_id"))
      .write.mode(SaveMode.Overwrite).parquet(deadTmp)
    val dead = spark.read.parquet(deadTmp)
    val nDead = dead.count()
    if (nDead > 0) {
      if (DeltaTable.exists(docsPath))
        DeltaTable.tombstone(spark, docsPath,
          dead.select(col("document_id").as("source_uuid")), docCol = "source_uuid")
      else writeSnapshot(documents.where(!pred), docsPath)
      cascadeDelete(dead)
      // the delete is ALSO a changelog event (a null-document marker):
      // a pipeline whose watermark predates the doc's upsert would
      // otherwise resurrect it from the unconsumed batch — the marker
      // supersedes earlier batches (latest per uuid wins) and re-syncs the
      // doc to zero chunks, which tombstones it in every delta table
      appendChangelog(dead.select(col("document_id").as("source_uuid"),
        lit(null).cast("string").as("document")))
    }
    deleteRec(new java.io.File(deadTmp))
  }

  /** Tombstone the deleted ids in every pipeline's delta tables — an
    * O(delete batch) manifest append per table, NOT a table rewrite (the
    * FK-cascade effect of the reference schema, queries.rs:49-66, at
    * delta-table cost). ANN indexes over the embeddings are dropped — the
    * next probe rebuilds via loadOrBuild (deletes are rare relative to
    * syncs; an index serving tombstoned docs would rank dead chunks). */
  private def cascadeDelete(deadIds: DataFrame): Unit = {
    val collDir = new java.io.File(s"$warehouseDir/$name")
    val nonPipeline = Set("documents", "searches", "search_results", "search_events")
    val pipelineDirs = Option(collDir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && !nonPipeline.contains(f.getName)
        && !f.getName.startsWith("_")
        && !f.getName.endsWith("_tmp") && !f.getName.endsWith("_old"))
    pipelineDirs.foreach { pDir =>
      // exclusive per pipeline: the home deletions below must not race a
      // background merge's publish (which would resurrect an index over
      // the dead rows) — the generation bump aborts any in-flight merge
      val key = pDir.getAbsolutePath
      val lock = Collection.lockFor(key).writeLock()
      lock.lock()
      try {
        Collection.generationOf(key).incrementAndGet()
        Option(pDir.listFiles()).getOrElse(Array.empty).filter(_.isDirectory).foreach { tbl =>
          val path = tbl.getAbsolutePath
          if (tbl.getName.endsWith("_ivf")) {
            graft.operators.IvfIndex.delete(spark, path)
          } else if (tbl.getName.endsWith("_hnsw")) {
            graft.operators.HnswIndex.delete(spark, path)
          } else if (tbl.getName.endsWith("_chunks") || tbl.getName.endsWith("_embeddings")
              || tbl.getName.endsWith("_tsvectors") || tbl.getName.endsWith("_binsig")) {
            if (DeltaTable.exists(path)) DeltaTable.tombstone(spark, path, deadIds)
            else {
              // legacy flat-snapshot layout (pre-delta warehouse): a manifest
              // would reference a `seg` column the files don't have — keep
              // the old anti-join rewrite until a sync migrates the table
              val kept = spark.read.parquet(path)
                .join(deadIds, Seq("document_id"), "left_anti")
              writeSnapshot(kept, path)
            }
          }
        }
      } finally lock.unlock()
    }
  }

  /** Driver-side `get_json_object(doc, "$.<name>")` for the local chunk
    * path: string fields unwrap, missing/null → [[FieldMissing]]. A
    * NON-string value is reported as [[FieldNonString]] rather than
    * re-rendered: json4s render can normalize number text ("1.50"→"1.5",
    * "1e3"→"1000.0") differently from get_json_object's Jackson
    * copyCurrentStructure, and the two paths must chunk byte-identical
    * text or the next sync sees phantom diffs — the caller routes such
    * fields through the distributed chunkFrame. Only object roots carry
    * fields — same contract as the fast upsert's id extraction. */
  private sealed trait JsonFieldValue
  private final case class FieldText(s: String) extends JsonFieldValue
  private case object FieldMissing extends JsonFieldValue
  private case object FieldNonString extends JsonFieldValue

  private def jsonField(doc: String, name: String): JsonFieldValue =
    if (doc == null) FieldMissing
    else org.json4s.jackson.JsonMethods.parseOpt(doc).map {
      // first occurrence wins on duplicate keys — json4s `\` would collect
      // ALL matches into a JArray, but get_json_object (the distributed
      // chunk path) streams the first, and the two paths must chunk
      // identical text or the next sync sees phantom diffs
      case o: org.json4s.JObject => o.obj.collectFirst { case (`name`, v) => v } match {
        case Some(org.json4s.JString(s)) => FieldText(s)
        case Some(org.json4s.JNothing) | Some(org.json4s.JNull) | None => FieldMissing
        case Some(_) => FieldNonString
      }
      case _ => FieldMissing
    }.getOrElse(FieldMissing)

  private def chunkFrame(docs: DataFrame, f: PipelineField): DataFrame = {
    val (size, overlap) = f.splitter.getOrElse((1500, 40))
    docs.select(col("source_uuid").as("document_id"),
      posexplode(chunkText(get_json_object(col("document"), "$." + f.name),
          size, overlap, f.splitterModel))
        .as(Seq("chunk_index", "chunk")))
  }

  /** Chunk → embed → tsvector for every pipeline field
    * (pipeline.rs:591-934; full resync): derived tables get a fresh single
    * segment, ANN indexes rebuild from scratch, and the pipeline's
    * changelog watermark jumps to "now" — the slate-clean state every
    * delta sync appends onto.
    */
  def syncPipeline(p: Pipeline): Unit = withExclusiveLock(p.name) {
    // a full rebuild supersedes anything an in-flight background merge
    // staged — bump the generation so its publish aborts
    Collection.generationOf(pipelineKey(p.name)).incrementAndGet()
    p.fields.foreach(syncFieldFull(p, _))
    writeState(p.name, SyncState(settledChangelogBatch, 0, Map.empty))
    pruneChangelog()
  }

  private def syncFieldFull(p: Pipeline, f: PipelineField): Unit = {
    val chunks = chunkFrame(documents, f)
      .cache() // chunk once; chunks/embeddings/tsvectors all derive from it
    // materialize the cache up front so the concurrent legs below all hit
    // it instead of racing to compute the chunk lineage independently
    traced("full:chunks-materialize")(chunks.count())

    // The derived legs below are independent once their input table is
    // written: indexes (ivf → hnsw → binsig) read the embeddings table,
    // tsvectors reads the cached chunks. Run them as concurrent Spark
    // jobs on the shared session (the incremental path's discipline,
    // see the append chains around line 960) — the index chain is
    // driver-arithmetic-heavy while the table writes are executor-heavy,
    // so overlapping them shortens the first-sync critical path.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext = Collection.maintenanceEc
    val chunksF: Future[Unit] = Future {
      traced("full:chunks-write")(
        DeltaTable.writeBase(chunks, tablePath(p.name, f.name, "chunks"),
          sortCols = Seq("document_id", "chunk_index")))
    }
    val idxF: Future[Unit] = Future {
      f.semanticSearch.map { emb =>
        // embedFrame, not embedCol: a batching embedder (remote endpoint /
        // on-device model) groups rows per model call at ingest
        val e = emb.embedFrame(chunks, col("chunk"), "embedding")
          .select(col("document_id"), col("chunk_index"),
            contentHid.as("hid"), col("embedding"))
        traced("full:emb-write")(
          DeltaTable.writeBase(e, tablePath(p.name, f.name, "embeddings"),
            sortCols = Seq("document_id", "chunk_index")))
        // ingest-time ANN index builds (HNSW analogue, pipeline.rs:526-543):
        // the synced embeddings just changed, so the old indexes are stale —
        // drop and rebuild each persisted copy
        val ivfHnswF = Future {
          f.vectorIndex.foreach { nlist =>
            val ivfP = tablePath(p.name, f.name, "ivf")
            graft.operators.IvfIndex.delete(spark, ivfP)
            traced("full:ivf-build")(graft.operators.IvfIndex.loadOrBuild(
              spark, ivfP, embeddings(p, f.name), "embedding", nlist))
            ()
          }
          traced("full:hnsw-build")(rebuildHnsw(p, f))
        }
        val binF = Future(traced("full:binsig-write")(rebuildBinary(p, f)))
        Future.sequence(Seq(ivfHnswF, binF)).map(_ => ())
      }.getOrElse(Future.unit)
    }.flatten
    val tsF: Future[Unit] = Future {
      if (f.fullTextSearch) {
        val ts = chunks
          .select(col("document_id"), col("chunk_index"),
            TsRank.tsVector(col("chunk")).as("terms"))
        traced("full:tsv-write")(
          DeltaTable.writeBase(ts, tablePath(p.name, f.name, "tsvectors"),
            sortCols = Seq("document_id", "chunk_index")))
      }
    }
    Await.result(chunksF.zip(idxF).zip(tsF), Duration.Inf)
    chunks.unpersist()
    ()
  }

  /** How many delta syncs accumulate before tables compact and indexes
    * rebuild (the segment-merge policy). Between merges, every sync is
    * O(changed documents). */
  var mergeEvery: Int = 8
  /** Superseded-index-row budget: beyond this the over-fetch slack stops
    * being cheap, so the next sync merges early. */
  var maxStaleIndexRows: Long = 4096

  /** Incremental re-sync, O(changed documents) end to end: consume the
    * upsert changelog past this pipeline's watermark (partition-pruned
    * read), re-chunk ONLY those documents, chunk-diff them against their
    * own old chunks so unchanged chunks keep their stored embeddings
    * (collection.rs:718-735; chunk diff queries.rs:325-339), then APPEND
    * one delta segment per derived table and per ANN index — never
    * rewriting or rebuilding what didn't change. At 100 TB this is the
    * difference between re-indexing a corpus and absorbing an upsert
    * batch; a bounded merge policy ([[mergeEvery]]) compacts segments and
    * rebuilds indexes so fragmentation and over-fetch slack stay small.
    */
  def syncPipelineIncremental(p: Pipeline): Unit = {
    // first sync of this pipeline (or a pre-changelog warehouse): full build
    if (readState(p.name).isEmpty) { syncPipeline(p); return }
    // pre-hid embeddings tables (older warehouses keyed HNSW node ids on
    // the owning segment) migrate via a full field rebuild before any
    // delta can append mixed ids — exclusive, like any full rewrite
    // the verdict is cached once NON-legacy: a table that has the hid
    // column keeps it forever (only a full rewrite could drop it, and
    // that rewrite IS the migration), so the schema resolve — a ~0.3 s
    // manifest-fingerprint + parquet-footer path — must not sit on every
    // micro-batch
    val legacy = traced("sync:legacy-probe")(p.fields.filter { f =>
      f.semanticSearch.nonEmpty && {
        val key = s"${pipelineKey(p.name)}#${f.name}"
        !Collection.nonLegacyEmb.contains(key) && {
          val isLegacy =
            DeltaTable.exists(tablePath(p.name, f.name, "embeddings")) &&
              !DeltaTable.read(spark, tablePath(p.name, f.name, "embeddings"))
                .columns.contains("hid")
          if (!isLegacy) Collection.nonLegacyEmb.put(key, true)
          isLegacy
        }
      }
    })
    if (legacy.nonEmpty) withExclusiveLock(p.name) {
      Collection.generationOf(pipelineKey(p.name)).incrementAndGet()
      legacy.foreach(syncFieldFull(p, _))
    }
    withSyncLock(p.name) {
      syncIncrementalLocked(p, legacy.map(_.name).toSet)
    }
    traced("sync:merge-if-due")(mergeIfDue(p)) // schedules background work only — never blocks the batch
    traced("sync:prune-changelog")(pruneChangelog())
  }

  /** Session clone for the micro-batch delta path: AQE OFF (adaptive
    * execution materializes every shuffle stage as its own Spark job —
    * on one-document frames the per-job scheduling overhead IS the
    * latency) and auto-broadcast OFF (each broadcast build is another
    * async job; a sort-merge join over a 4-row frame is free). Shares the
    * SparkContext, CacheManager, and executor caches with the main
    * session — only SQLConf diverges, so serving queries keep AQE. With
    * both off, every sync action runs as ONE job over all its stages.
    * Corpus-sized work (full syncs, backfills' explicit broadcast hints,
    * merges) stays on the main session. */
  private def microSpark(shufflePartitions: Long): SparkSession =
    // newSession: same SparkContext/CacheManager/warehouse, fresh SQLConf
    // seeded from the builder conf (timezone carries over). Cached BY
    // REDUCE WIDTH and reused across batches — a cached session's conf
    // never changes after creation, so concurrent syncs of different
    // pipelines can share one without racing the width (the property the
    // old session-per-sync form bought, minus its per-batch SQLConf
    // clone + SessionState init on the critical path).
    // applicationId, not identityHashCode: unique per context (a hash
    // collision could hand back a session bound to a STOPPED context).
    // Entries whose context has since stopped are swept here so the map
    // doesn't accumulate dead sessions for the JVM lifetime.
    {
    Collection.microSessions.filterInPlace((_, s2) => !s2.sparkContext.isStopped)
    Collection.microSessions.getOrElseUpdate(
      s"${spark.sparkContext.applicationId}#$shufflePartitions", {
        val s2 = spark.newSession()
        s2.conf.set("spark.sql.adaptive.enabled", "false")
        s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        s2.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toString)
        s2
      })
    }

  private def syncIncrementalLocked(p: Pipeline, alreadyRebuilt: Set[String]): Unit = {
    val state = readState(p.name)
    if (state.isEmpty) return
    // a field ADDED to the pipeline config since the last full sync has no
    // derived tables yet: full-build it over ALL documents now (which also
    // covers any unconsumed changelog batches) and skip its delta below
    val freshlyBuilt = p.fields
      .filter(f => !alreadyRebuilt(f.name)
        && !DeltaTable.exists(tablePath(p.name, f.name, "chunks")))
      .map { f => syncFieldFull(p, f); f.name }.toSet ++ alreadyRebuilt
    val wm = state.get.watermark
    // consume up to the SETTLED bound only: a batch allocated by a
    // concurrent upsert but not yet published holds the watermark back, so
    // a later batch that landed first can't make this sync skip it
    val maxB = settledChangelogBatch
    if (maxB <= wm || !new java.io.File(changelogPath).exists()) return // nothing new

    // the delta path's frames all originate on the micro session, keeping
    // the whole batch on the one-job-per-action plan, with the reduce
    // width sized to the BATCH rather than the session default: a
    // 1-document micro-batch otherwise pays 32 reduce tasks per shuffle on
    // every action (pure scheduling overhead, and 32 tiny files per
    // written segment), while a bulk backfill still widens. Judged from
    // the new changelog dirs' on-disk bytes — driver-side listing, no job.
    val newBatchBytes = Option(new java.io.File(changelogPath).listFiles())
      .getOrElse(Array.empty)
      .filter { f =>
        val n = f.getName
        f.isDirectory && n.startsWith("batch=") && {
          val b = n.stripPrefix("batch=").toLong
          b > wm && b <= maxB
        }
      }
      .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
      .map(_.length()).sum
    val ms = microSpark(
      // floor 1, not 2: a one-document batch gains nothing from a second
      // reduce task per exchange — every sort/join stage then runs as a
      // single task, halving the scheduling on the critical path
      math.max(1L, math.min(32L, 1L + newBatchBytes / (32L << 20))))
    // latest post-merge document per uuid among the new batches; checkpoint
    // so later re-executions can never observe a shifted changelog. LAZY:
    // the full-frame collect on the next line materializes every partition
    // (freezing the frame exactly like the eager form) in the same job
    val changedDocs = DeltaTable.readParquetCached(ms, changelogPath)
      // upper-bound too: a batch published between the settled probe and
      // this read would otherwise be consumed without the watermark
      // advancing past it (and then re-consumed by the next sync)
      .where(col("batch") > wm && col("batch") <= maxB)
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("source_uuid")).orderBy(col("batch").desc)))
      .where(col("_rn") === 1)
      .select(col("source_uuid"), col("document"))
      .localCheckpoint(eager = false)
    val changedIds = changedDocs.select(col("source_uuid").as("document_id"))
    // event-sized batches (judged from the new changelog dirs' bytes, a
    // driver-side listing) collect the DOCUMENTS too: the chunk and
    // tsvector chains then compute and write fully driver-side — their
    // kernels (ChunkKernel.chunk, TsRank.stemTokens) are the exact
    // functions the distributed expressions call
    val collectDocsLocally = newBatchBytes <= (4L << 20)
    val collected: Seq[(String, String)] = traced("sync:changed-collect")(
      if (collectDocsLocally)
        // changelog batch dirs are tiny and committed-by-presence — read
        // them driver-side (last batch wins per uuid, the window's rule);
        // a layout the local reader can't take falls back to the collect
        readChangelogLocal(wm, maxB).getOrElse(
          changedDocs.select("source_uuid", "document")
            .as[(String, String)].collect().toSeq)
      else changedDocs.select("source_uuid").as[String].collect().toSeq
        .map(u => (u, null: String)))
    val idSeq = collected.map(_._1)
    val docsLocal: Option[Seq[(String, String)]] =
      if (collectDocsLocally) Some(collected) else None

    // Reads of the changed documents' OLD rows push an In(document_id…)
    // literal to the parquet scan — segments are written document_id-sorted,
    // so row-group stats prune everything else and the read is O(changed),
    // not O(corpus). Past a literal-size threshold (huge backfill batches)
    // fall back to a broadcast semi-join.
    def changedOnly(table: DataFrame): DataFrame =
      if (idSeq.size <= DeltaTable.InPushdownMaxIds)
        table.where(col("document_id").isin(idSeq: _*))
      else table.join(broadcast(changedIds), Seq("document_id"), "left_semi")

    var staleDelta = Map.empty[String, Long]
    p.fields.foreach { f =>
      val chunksP = tablePath(p.name, f.name, "chunks")
      if (!freshlyBuilt(f.name)) {
      val keyCols = Seq("document_id", "chunk_index", "chunk")
      // no checkpoint barriers here: every frame derives from the
      // checkpointed changedDocs plus parquet file listings captured at
      // DataFrame creation (appends never remove files), so recomputation
      // is cheap AND stable — and each skipped barrier is one less Spark
      // job on the per-micro-batch critical path
      //
      // event-sized batches chunk DRIVER-SIDE with the same kernel the
      // ChunkText expression calls; the rows then back both the local
      // chunk/tsvector writes and a LocalRelation for the embedding
      // chain's joins (IncrementalSyncSpec pins incremental ≡ full)
      val localChunks: Option[Seq[(String, Int, String)]] = docsLocal.flatMap { ds =>
        val (size, overlap) = f.splitter.getOrElse((1500, 40))
        val setId = graft.functions.ChunkKernel.setIdFor(f.splitterModel)
        val fields = ds.sortBy(_._1).map { case (uuid, doc) =>
          (uuid, jsonField(doc, f.name))
        }
        // any non-string field value → the whole field goes distributed:
        // re-rendering it here risks json4s/Jackson number-normalization
        // diffs against get_json_object (see jsonField's scaladoc)
        if (fields.exists(_._2 == FieldNonString)) None
        else Some(fields.flatMap {
          case (uuid, FieldText(text)) =>
            graft.functions.ChunkKernel.chunk(text, size, overlap, setId)
              .zipWithIndex.map { case (c, i) => (uuid, i, c) }
          case _ => Nil
        })
      }
      val newChunks = localChunks match {
        case Some(rows) => ms.createDataFrame(rows).toDF(keyCols: _*)
        case None => chunkFrame(changedDocs, f)
      }
      val oldChunks = changedOnly(DeltaTable.read(ms, chunksP))
      val changed = newChunks.join(oldChunks, keyCols, "left_anti")
      val smallBatch =
        if (idSeq.size <= DeltaTable.CoalesceBatchMax)
          math.max(1, idSeq.size / DeltaTable.RowsPerDeltaFile)
        else 0
      // driver-known batch ids let every manifest append below write its
      // parquet file driver-side — zero Spark jobs — instead of one
      // coalesce(1) job per table-touch (4 tables + the IVF home)
      val localIds =
        if (idSeq.size <= DeltaTable.InPushdownMaxIds) Some(idSeq) else None
      val embP = tablePath(p.name, f.name, "embeddings")
      // event-sized fast path for the WHOLE embeddings→indexes chain: the
      // changed docs' current chunk + embedding rows read driver-side (the
      // local twin of the In-pruned reads, same supersession rule), BEFORE
      // the concurrent chains append to those tables — the pre-append
      // listing guarantee the distributed frames above rely on. None →
      // the distributed chain below runs unchanged (legacy layout, big
      // manifest, non-string fields, big batch).
      val localEmbOld: Option[(Seq[Seq[Any]], Seq[Seq[Any]])] =
        if (localChunks.isEmpty || f.semanticSearch.isEmpty) None
        else for {
          oc <- DeltaTable.readDocsLocal(ms, chunksP, idSeq,
            Seq("document_id" -> "string", "chunk_index" -> "int",
              "chunk" -> "string"), "document_id")
          oe <- DeltaTable.readDocsLocal(ms, embP, idSeq,
            Seq("document_id" -> "string", "chunk_index" -> "int",
              "hid" -> "long", "embedding" -> "floats"), "document_id")
        } yield (oc, oe)

      /** The distributed emb chain's exact semantics over driver rows:
        * changed = new chunks minus stored triples; unchanged chunks of
        * changed docs carry their STORED embedding + hid into the new
        * segment (only changed text reaches the model — embedMany, the
        * remote client's batch shape); nStale = the superseded old-row
        * count. Index segments build from the same rows: HNSW graphs
        * in-process (bit-identical to the numPartitions=1 build), binary
        * signatures through the packQuery kernel twin, IVF through its
        * distributed append (partitioned cluster layout). Zero Spark jobs
        * except the rare IVF arm. */
      def localEmbChain(emb: graft.functions.Embedder,
          newChunkRows: Seq[(String, Int, String)],
          oldChunkRows: Seq[Seq[Any]], oldEmbRows: Seq[Seq[Any]]): Long = {
        val oldTriples = oldChunkRows.map(r =>
          (r(0).asInstanceOf[String], r(1).asInstanceOf[Int],
            r(2).asInstanceOf[String])).toSet
        val changedRows = newChunkRows.filterNot(oldTriples)
        val unchangedKeys = newChunkRows.filter(oldTriples)
          .map(r => (r._1, r._2)).toSet
        val reused = oldEmbRows
          .map(r => (r(0).asInstanceOf[String], r(1).asInstanceOf[Int],
            r(2).asInstanceOf[Long], r(3).asInstanceOf[Array[Float]]))
          .filter(r => unchangedKeys((r._1, r._2)))
        val fresh = changedRows.zip(emb.embedMany(changedRows.map(_._3)))
          .map { case ((d, i, c), v) => (d, i, contentHidOf(d, i, c), v) }
        val delta = (reused ++ fresh).sortBy(r => (r._1, r._2))
        traced("chain:emb-append")(DeltaTable.appendDeltaLocal(embP,
          Seq("document_id" -> "string", "chunk_index" -> "int",
            "hid" -> "long", "embedding" -> "floats"),
          delta.map(r => Seq(r._1, r._2, r._3, r._4)), idSeq,
          docCol = "document_id"))
        f.vectorIndex.foreach { nlist =>
          val ivfP = tablePath(p.name, f.name, "ivf")
          if (!graft.operators.IvfIndex.existsAt(spark, ivfP)) {
            graft.operators.IvfIndex.loadOrBuild(
              spark, ivfP, embeddings(p, f.name), "embedding", nlist)
            ()
          } else graft.operators.IvfIndex.appendSegment(
            ms, ivfP,
            ms.createDataFrame(delta.map(r => (r._1, r._2, r._4)))
              .toDF("document_id", "chunk_index", "embedding"),
            "embedding", changedIds, knownIds = localIds)
        }
        f.hnswIndex.foreach { _ =>
          val hp = tablePath(p.name, f.name, "hnsw")
          if (!graft.operators.HnswIndex.existsAt(spark, hp)) rebuildHnsw(p, f)
          else graft.operators.HnswIndex.appendSegmentLocal(ms, hp,
            delta.map(r => (r._3, r._4)))
        }
        if (f.binaryIndex) {
          DeltaTable.appendDeltaLocal(tablePath(p.name, f.name, "binsig"),
            Seq("document_id" -> "string", "chunk_index" -> "int",
              "sig" -> "longs"),
            delta.map(r =>
              Seq(r._1, r._2, graft.operators.Quantized.packQuery(r._4))),
            idSeq, docCol = "document_id")
          ()
        }
        oldEmbRows.size.toLong
      }
      // The three append chains below (chunks / embeddings→indexes /
      // tsvectors) are independent: every frame they share is defined
      // above from the checkpointed changedDocs plus PRE-append file
      // listings (appends never remove files), and each chain writes a
      // different table. Run them as concurrent Spark jobs — one session
      // schedules them fine from multiple threads — so a micro-batch pays
      // the slowest chain's fixed job overhead instead of the sum. Errors
      // rethrow at the Await barrier below, before any state write.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: scala.concurrent.ExecutionContext = Collection.maintenanceEc

      val chunksF = Future {
        traced("chain:chunks-append")(localChunks match {
          // driver-held rows → driver-side segment write, zero Spark jobs
          case Some(rows) => DeltaTable.appendDeltaLocal(chunksP,
            Seq("document_id" -> "string", "chunk_index" -> "int",
              "chunk" -> "string"),
            rows.map { case (d, i, c) => Seq(d, i, c) }, idSeq,
            docCol = "document_id")
          case None => DeltaTable.appendDelta(ms, chunksP, newChunks, changedIds,
            sortCols = Seq("document_id", "chunk_index"), coalesceTo = smallBatch,
            knownIds = localIds)
        })
        ()
      }
      val embF: Future[Option[Long]] = Future {
        f.semanticSearch.map { emb =>
        localEmbOld match {
        case Some((oldChunkRows, oldEmbRows)) =>
          traced("chain:emb-local")(
            localEmbChain(emb, localChunks.get, oldChunkRows, oldEmbRows))
        case None =>
        // the append below is now this frame's ONLY action (index
        // consumers read the published segment back), so no freeze is
        // needed — and the stale-row count (exact over-fetch slack for
        // stale ANN nodes until the next merge) rides the SAME action as
        // an observed metric instead of its own count() job
        val staleObs = new org.apache.spark.sql.Observation()
        // file listing + manifests captured HERE, pre-append: the explicit
        // count fallback below must see the superseded rows, which the
        // post-append table view no longer resolves
        val oldEmbBase = traced("chain:oldemb-frame")(
          changedOnly(DeltaTable.read(ms, embP)))
        val oldEmb = oldEmbBase.observe(staleObs, count(lit(1)).as("n"))
        val newEmb = emb.embedFrame(changed, col("chunk"), "embedding")
          .select(col("document_id"), col("chunk_index"),
            contentHid.as("hid"), col("embedding"))
        // unchanged chunks of changed documents carry their stored
        // embeddings into the new segment — only `changed` hits the model
        val reused = oldEmb
          .join(newChunks.join(changed, keyCols, "left_anti")
            .select("document_id", "chunk_index"), Seq("document_id", "chunk_index"))
        val delta0 = reused.unionByName(newEmb)
        // the content-keyed hid rides IN the segment (new rows stamped it
        // above, reused rows carry their stored one), so the HNSW append
        // below and every later read agree on node ids with no derivation
        val seg = traced("chain:emb-append")(DeltaTable.appendDelta(ms, embP, delta0,
          changedIds, sortCols = Seq("document_id", "chunk_index"),
          coalesceTo = smallBatch, knownIds = localIds))
        // collected during the append action (non-blocking now: the
        // action completed). When the batch's new-chunk side is a
        // STATICALLY empty LocalRelation (a changed document cleared its
        // field), PropagateEmptyRelation prunes the reused-join and the
        // CollectMetrics node with it — the metrics map comes back empty
        // even though the superseded old rows are genuinely stale, so
        // that rare branch pays the explicit count the metric normally
        // replaces
        val nStale = staleObs.get.get("n").map(_.asInstanceOf[Long])
          .getOrElse(traced("chain:oldemb-count")(oldEmbBase.count()))
        // index consumers reuse the JUST-PUBLISHED segment's files instead
        // of a checkpoint: the append's write already materialized the
        // rows, so the read-back is lineage-free with no extra
        // materialization job (~0.4 s off the per-batch critical path);
        // with no index on the field the append was the sole consumer
        val delta =
          if (f.vectorIndex.nonEmpty || f.hnswIndex.nonEmpty || f.binaryIndex)
            DeltaTable.segmentFrame(ms, embP, seg, delta0.schema)
          else delta0

        // index delta segments over ONLY the new segment's vectors
        f.vectorIndex.foreach { nlist =>
          val ivfP = tablePath(p.name, f.name, "ivf")
          if (!graft.operators.IvfIndex.existsAt(spark, ivfP)) {
            graft.operators.IvfIndex.loadOrBuild(
              spark, ivfP, embeddings(p, f.name), "embedding", nlist)
            ()
          } else graft.operators.IvfIndex.appendSegment(
            // the stored hid is HNSW plumbing — the IVF home's base rows
            // (built over [[embeddings]], which drops it) must union with
            // delta rows column-for-column
            ms, ivfP, delta.drop("hid"), "embedding", changedIds,
            knownIds = localIds)
        }
        f.hnswIndex.foreach { _ =>
          val hp = tablePath(p.name, f.name, "hnsw")
          if (!graft.operators.HnswIndex.existsAt(spark, hp)) rebuildHnsw(p, f)
          else graft.operators.HnswIndex.appendSegment(ms, hp,
            delta, "embedding", "hid",
            // a small batch fits one forest partition; skipping the
            // partition-sizing count() saves a job on the critical path
            numPartitions = if (localIds.isDefined) 1 else 0)
        }
        if (f.binaryIndex) {
          val sigs = delta.select(col("document_id"), col("chunk_index"),
            graft.functions.VecFunctions.vecSignPack(col("embedding")).as("sig"))
          DeltaTable.appendDelta(ms, tablePath(p.name, f.name, "binsig"),
            sigs, changedIds, sortCols = Seq("document_id", "chunk_index"),
            coalesceTo = smallBatch, knownIds = localIds)
          ()
        }
        nStale
        }
        }
      }
      val tsF = Future {
        if (f.fullTextSearch) {
          traced("chain:ts-append")(localChunks match {
            // driver-held rows → the same stem kernel the TsVectorExpr
            // calls, written driver-side — zero Spark jobs
            case Some(rows) => DeltaTable.appendDeltaLocal(
              tablePath(p.name, f.name, "tsvectors"),
              Seq("document_id" -> "string", "chunk_index" -> "int",
                "terms" -> "strings"),
              rows.map { case (d, i, c) =>
                Seq(d, i, TsRank.stemTokens(
                  org.apache.spark.unsafe.types.UTF8String.fromString(c))
                  .map(_.toString).toSeq)
              }, idSeq, docCol = "document_id")
            case None =>
              val newTs = newChunks.select(col("document_id"), col("chunk_index"),
                TsRank.tsVector(col("chunk")).as("terms"))
              DeltaTable.appendDelta(ms, tablePath(p.name, f.name, "tsvectors"),
                newTs, changedIds, sortCols = Seq("document_id", "chunk_index"),
                coalesceTo = smallBatch, knownIds = localIds)
          })
          ()
        }
      }
      // await ALL chains before rethrowing any failure: returning while a
      // sibling future still writes would let a caller's retry race the
      // orphan writer on the same table (allocSeg hands them distinct
      // segment numbers, but the orphan's segment would still commit
      // unsupervised after "failure")
      val (chunksR, embR, tsR) = traced("sync:chains-await")((
        scala.util.Try(Await.result(chunksF, Duration.Inf)),
        scala.util.Try(Await.result(embF, Duration.Inf)),
        scala.util.Try(Await.result(tsF, Duration.Inf))))
      chunksR.get
      tsR.get
      embR.get.foreach(n => staleDelta += f.name -> n)
      }
    }
    val prev = state.get
    val stale = (prev.stale.keySet ++ staleDelta.keySet).map(k =>
      k -> (prev.stale.getOrElse(k, 0L) + staleDelta.getOrElse(k, 0L))).toMap
    writeState(p.name, SyncState(maxB, prev.deltaSyncs + 1, stale))
  }

  /** Drop changelog batches every pipeline has already consumed — the
    * retention policy that keeps the upsert log bounded. "Every pipeline"
    * = every sync-state file on disk (synced pipelines, registered or
    * not), and a REGISTERED pipeline that has never synced blocks pruning
    * entirely (it still needs the whole log). */
  private def pruneChangelog(): Unit = {
    val collDir = new java.io.File(s"$warehouseDir/$name")
    val stateWatermarks = Option(collDir.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory)
      .flatMap(d => readState(d.getName).map(_.watermark))
    if (pipelines.keySet.exists(n => readState(n).isEmpty)) return
    // with no consumers at all (no synced pipeline, empty registry) nothing
    // will ever read old batches — a pipeline created later starts with a
    // full sync, not a changelog replay
    val minConsumed =
      if (stateWatermarks.nonEmpty) stateWatermarks.min else Long.MaxValue
    // never prune the NEWEST batch dir: batch numbering derives from the
    // max existing dir, and emptying the log would restart it below the
    // watermarks (a later batch would then be silently skipped)
    val safe = math.min(minConsumed, maxChangelogBatch - 1)
    if (safe < 0) return
    Option(new java.io.File(changelogPath).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("batch=")
        && f.getName.stripPrefix("batch=").toLong <= safe)
      .foreach(deleteRec)
    // retire the pruned batches' alloc/burn markers with them — numbering
    // stays monotonic off the surviving (≥ safe+1) markers and dirs
    DeltaTable.pruneLogMarkers(changelogPath, safe)
  }

  /** Segment-merge policy: past [[mergeEvery]] delta syncs (or a stale-row
    * budget breach) compact every derived table back to one segment and
    * rebuild the ANN indexes from the compacted embeddings. Bounds manifest
    * size, small files, stale graph nodes, and IVF centroid drift — the
    * delta path's only unbounded quantities. The O(corpus) work runs on the
    * background merge thread ([[runStagedMerge]]); the sync that trips the
    * policy returns in O(batch) time, and syncs keep landing against the
    * old segments until the staged replacement publishes. */
  private def mergeIfDue(p: Pipeline): Unit = readState(p.name).foreach { st =>
    if (st.deltaSyncs >= mergeEvery || st.stale.values.sum > maxStaleIndexRows)
      scheduleMerge(p)
  }

  private def scheduleMerge(p: Pipeline): Unit = {
    val key = pipelineKey(p.name)
    val done = scala.concurrent.Promise[Unit]()
    // putIfAbsent is the one-merge-per-pipeline guard; the future lands in
    // the map BEFORE the task can run, so a concurrent sync cannot
    // double-schedule through the gap
    if (Collection.pendingMerges.putIfAbsent(key, done.future).isEmpty) {
      Collection.mergeEc.execute { () =>
        try { runStagedMerge(p); done.success(()); () }
        catch { case e: Throwable => done.failure(e); () }
        finally { Collection.pendingMerges.remove(key); () }
      }
    }
  }

  /** Block until every background merge scheduled for this collection has
    * finished — benches and specs that assert post-merge state (segment
    * counts, rebuilt indexes) call this; serving paths never need to. A
    * failed merge rethrows here instead of vanishing on the merge thread. */
  def awaitMaintenance(): Unit = {
    val prefix = new java.io.File(s"$warehouseDir/$name").getAbsolutePath +
      java.io.File.separator
    Collection.pendingMerges.snapshot().collect {
      case (k, f) if k.startsWith(prefix) => f
    }.foreach(f => scala.concurrent.Await.result(
      f, scala.concurrent.duration.Duration.Inf))
  }

  /** The staged background merge — three phases (see DeltaTable's staged-
    * compaction protocol):
    *
    *  1. SNAPSHOT (exclusive lock, pure listings): record every derived
    *     table's and index home's segment/manifest/marker names plus the
    *     sync state. Appenders hold the shared lock for their whole batch,
    *     so the snapshot always cuts at a segment boundary.
    *  2. BUILD (no lock — the O(corpus) work): compact each table from
    *     EXACTLY the snapshot's committed segments into a `*_mergestage`
    *     sibling, and rebuild IVF/HNSW/binsig from the staged embeddings.
    *     Syncs keep appending to the live homes meanwhile.
    *  3. PUBLISH (exclusive lock, renames only): hard-link segments,
    *     manifest files, and markers that appended after the snapshot into
    *     the staged homes — their higher segment numbers supersede the
    *     compacted seg-0 base under the ordinary manifest rule — swap the
    *     staged dirs into place, and subtract the snapshot's counters from
    *     the sync state so late syncs keep theirs.
    *
    * Content-keyed hids (see [[contentHid]]) keep HNSW node ids identical
    * across the swap, so a query racing the publish resolves correctly
    * whichever side of each home's swap it reads. A full sync, delete
    * cascade, or removePipeline that lands mid-build bumps the pipeline
    * generation and the publish aborts — that rewrite already superseded
    * everything this merge staged. */
  private[store] def runStagedMerge(
      p: Pipeline,
      // test seam: runs after the snapshot, before the build — what a
      // sync/delete/full-rebuild landing mid-merge looks like,
      // deterministically
      afterSnapshot: () => Unit = () => ()): Unit = {
    val key = pipelineKey(p.name)
    val gen0 = Collection.generationOf(key).get()
    val tableKinds = Seq("chunks", "embeddings", "tsvectors")
    // --- phase 1: snapshot
    val (snaps, snapState) = withExclusiveLock(p.name) {
      val tables = (for {
        f <- p.fields
        kind <- tableKinds :+ "binsig"
        path = tablePath(p.name, f.name, kind)
        if DeltaTable.exists(path)
      } yield path -> DeltaTable.snapshotNames(path)).toMap
      val homes = (for {
        f <- p.fields
        home <- Seq(tablePath(p.name, f.name, "ivf"), tablePath(p.name, f.name, "hnsw"))
        if new java.io.File(home).isDirectory
      } yield home -> DeltaTable.snapshotNames(home, segParent = s"$home/delta")).toMap
      (tables ++ homes, readState(p.name))
    }
    // an earlier merge may have already compacted what this one was
    // scheduled for
    val due = snapState.exists(st =>
      st.deltaSyncs >= mergeEvery || st.stale.values.sum > maxStaleIndexRows)
    if (!due) return
    afterSnapshot()

    // --- phase 2: build — the per-table compactions (and the index
    // rebuilds once the staged embeddings exist on disk) are independent
    // Spark jobs over different tables, so they run CONCURRENTLY on the
    // merge's own small pool (guide §2.6 — overlap independent jobs;
    // NOT maintenanceEc, whose threads the foreground micro-batches
    // need while this build runs). A shorter build shrinks the window
    // where merge work competes with serving batches.
    val staged = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def stagePath(live: String): String = staged.synchronized {
      val st = live + "_mergestage"
      deleteRec(new java.io.File(st)) // a crashed prior merge's leftover
      staged(live) = st
      st
    }
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: scala.concurrent.ExecutionContext = Collection.mergeBuildEc
      val buildFuts: Seq[Future[Unit]] = p.fields.flatMap { f =>
        val kindFuts: Map[String, Future[Unit]] = tableKinds.flatMap { kind =>
          val path = tablePath(p.name, f.name, kind)
          snaps.get(path).map { snap =>
            kind -> Future {
              DeltaTable.stageBase(DeltaTable.readSnapshot(spark, path, snap),
                stagePath(path), sortCols = Seq("document_id", "chunk_index"))
            }
          }
        }.toMap
        val embP = tablePath(p.name, f.name, "embeddings")
        // index rebuilds read the STAGED embeddings from disk, so they
        // start when that table's compaction lands; the three families
        // are themselves independent
        val idxF: Future[Unit] =
          if (f.semanticSearch.isEmpty || !kindFuts.contains("embeddings"))
            Future.unit
          else kindFuts("embeddings").flatMap { _ =>
            val stagedEmb = staged.synchronized(staged(embP))
            def embRows = spark.read.parquet(stagedEmb)
            def vecs = embRows.drop("seg", "hid")
            val ivfF = Future {
              f.vectorIndex.foreach { nlist =>
                val ivfP = tablePath(p.name, f.name, "ivf")
                if (snaps.contains(ivfP)) {
                  graft.operators.IvfIndex.loadOrBuild(
                    spark, stagePath(ivfP), vecs, "embedding", nlist)
                  ()
                }
              }
            }
            val hnswF = Future {
              f.hnswIndex.foreach { case (m, efc) =>
                val hp = tablePath(p.name, f.name, "hnsw")
                if (snaps.contains(hp)) {
                  // stored content hids; legacy (pre-hid) tables derive from
                  // the staged seg column (all 0) — same ids the old inline
                  // rebuild would have produced post-compaction
                  val keyed =
                    if (embRows.columns.contains("hid")) embRows.drop("seg")
                    else embRows.withColumn("hid", hidCol(col("seg"))).drop("seg")
                  val idx = graft.operators.HnswIndex.build(
                    spark, keyed, "embedding", "hid", m, efc)
                  idx.save(stagePath(hp))
                  idx.graphs.unpersist()
                  ()
                }
              }
            }
            val binF = Future {
              if (f.binaryIndex) {
                val bp = tablePath(p.name, f.name, "binsig")
                if (snaps.contains(bp)) {
                  val sigs = vecs.select(col("document_id"), col("chunk_index"),
                    graft.functions.VecFunctions.vecSignPack(col("embedding")).as("sig"))
                  DeltaTable.stageBase(sigs, stagePath(bp),
                    sortCols = Seq("document_id", "chunk_index"))
                }
              }
            }
            Future.sequence(Seq(ivfF, hnswF, binF)).map(_ => ())
          }
        // a binsig table whose field no longer wants it still compacts
        val binOrphanF: Future[Unit] =
          if (f.binaryIndex) Future.unit
          else Future {
            val bp = tablePath(p.name, f.name, "binsig")
            snaps.get(bp).foreach { snap =>
              DeltaTable.stageBase(DeltaTable.readSnapshot(spark, bp, snap),
                stagePath(bp), sortCols = Seq("document_id", "chunk_index"))
            }
          }
        kindFuts.values.toSeq :+ idxF :+ binOrphanF
      }
      // surface the FIRST failure after all builds settle: a still-running
      // sibling writing into a just-deleted stage dir would resurrect it
      val settled = buildFuts.map(fut => scala.util.Try(Await.result(fut, Duration.Inf)))
      settled.collectFirst { case scala.util.Failure(e) => e }.foreach(throw _)
    } catch {
      case e: Throwable =>
        staged.synchronized(staged.values.toSeq)
          .foreach(st => deleteRec(new java.io.File(st)))
        // a full rewrite landing mid-build deletes the snapshot's files out
        // from under the build's readers — that IS the abort path (the
        // rewrite already produced the compacted state), not an error
        if (Collection.generationOf(key).get() != gen0) return
        throw e
    }

    // --- phase 3: publish
    val aborted = withExclusiveLock(p.name) {
      if (Collection.generationOf(key).get() != gen0) true
      else {
        staged.foreach { case (live, st) =>
          val isHome = live.endsWith("_ivf") || live.endsWith("_hnsw")
          DeltaTable.carryLate(live, st, snaps(live),
            segSubdir = if (isHome) "delta" else "")
          if (live.endsWith("_hnsw")) {
            // delete drops every cache layer while the old files still
            // resolve; the carried links survive it (distinct dir entries
            // to the same inodes)
            graft.operators.HnswIndex.delete(spark, live)
            if (!new java.io.File(st).renameTo(new java.io.File(live)))
              throw new java.io.IOException(s"could not publish merged index at $live")
          } else if (live.endsWith("_ivf")) {
            graft.operators.IvfIndex.delete(spark, live)
            if (!new java.io.File(st).renameTo(new java.io.File(live)))
              throw new java.io.IOException(s"could not publish merged index at $live")
          } else DeltaTable.publishStaged(st, live)
        }
        // late syncs keep their counters; the snapshot's are absorbed
        readState(p.name).foreach { cur =>
          val base = snapState.getOrElse(SyncState(cur.watermark, 0, Map.empty))
          val stale = cur.stale.map { case (k2, v) =>
            k2 -> math.max(0L, v - base.stale.getOrElse(k2, 0L))
          }.filter(_._2 > 0L)
          writeState(p.name, SyncState(cur.watermark,
            math.max(0, cur.deltaSyncs - base.deltaSyncs), stale))
        }
        false
      }
    }
    if (aborted) staged.values.foreach(st => deleteRec(new java.io.File(st)))
    // re-prime the published tables' read caches on THIS thread: the next
    // micro-batch sync otherwise pays one manifest re-collect + schema
    // re-infer per table on its latency-critical path
    else staged.keys
      .filterNot(p => p.endsWith("_ivf") || p.endsWith("_hnsw"))
      .foreach(DeltaTable.warmReadCaches(spark, _))
  }

  /** Sync-time HNSW forest rebuild for a field configured with
    * `hnswIndex` (the reference's per-field hnsw build at sync,
    * pipeline.rs:526-543): the embeddings just changed, so the old forest
    * is stale — drop (invalidates executor graph caches) and rebuild. */
  private def rebuildHnsw(p: Pipeline, f: PipelineField): Unit =
    f.hnswIndex.foreach { case (m, efc) =>
      val hp = tablePath(p.name, f.name, "hnsw")
      graft.operators.HnswIndex.delete(spark, hp)
      val keyed = hnswKeyed(p, f.name)
      // Driver-sized corpora build the base graph IN-PROCESS — the
      // full-sync twin of the zero-job micro-batch appends (r15 #4's
      // machinery generalized to the first sync). Gate: one
      // partitionBudget of rows (where the distributed build is a single
      // partition anyway, so the local blob is bit-identical), a bounded
      // vector collect (<= 32 MB), and a java.io-visible home. A 100 TB
      // corpus fails the gate and takes the distributed build below.
      val localRows: Option[Seq[(Long, Array[Float])]] =
        f.semanticSearch match {
          case Some(emb) if graft.store.DeltaTable.isLocal(hp) =>
            // ONE bounded job sizes the corpus AND fetches it: collect up
            // to cap+1 rows — cap+1 back means too big (fall through to
            // the distributed build), <= cap back means we already hold
            // every row (a bounded read, <= 32 MB by construction)
            val cap = math.min(
              graft.operators.HnswIndex.DefaultPartitionBudget.toLong,
              (32L << 20) / (emb.dim.toLong * 4 + 8)).toInt
            import spark.implicits._
            val probe = traced("hnsw:probe-collect")(
              keyed.select(col("hid").cast("long"), col("embedding"))
                .limit(cap + 1).as[(Long, Array[Float])].collect())
            if (probe.nonEmpty && probe.length <= cap) Some(probe.toSeq)
            else None
          case _ => None
        }
      localRows match {
        case Some(rows) =>
          traced("hnsw:local-base")(
            graft.operators.HnswIndex.buildLocalBase(spark, hp, rows, m, efc))
          ()
        case None =>
          graft.operators.HnswIndex.loadOrBuild(
            spark, hp, keyed, "embedding", "hid", m, efc)
          ()
      }
    }

  /** The 64-bit surrogate node id HNSW graphs store for a row: keyed on
    * (document_id, chunk_index, chunk CONTENT) and stored in the
    * embeddings table at sync time, so a re-embedded chunk's new node
    * NEVER aliases its stale predecessor (the stale node's hit resolves to
    * no live row and drops out, no tombstone list needed) while an
    * UNCHANGED row keeps its id across segment merges — which is what lets
    * a background compaction swap tables and graphs independently without
    * a window where ids disagree. */
  private def contentHid: Column =
    xxhash64(col("document_id"), col("chunk_index"), col("chunk"))

  /** [[contentHid]] for one driver-held row: evaluates the SAME Catalyst
    * expression over literals, so local and distributed syncs mint
    * bit-identical node ids by construction (no hand-rolled hash twin to
    * drift). Event-sized batches only — a few expression builds per row. */
  private def contentHidOf(doc: String, idx: Int, chunk: String): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    new XxHash64(Seq(Literal.create(doc), Literal.create(idx),
      Literal.create(chunk))).eval(null).asInstanceOf[Long]
  }

  /** Legacy derivation for pre-hid warehouses (node ids keyed on the
    * owning segment); [[syncPipelineIncremental]] migrates such tables
    * with a full field rebuild before appending to them. */
  private def hidCol(seg: Column): Column =
    xxhash64(col("document_id"), col("chunk_index"), seg)

  /** Embeddings with the surrogate node id the HNSW graph stores —
    * composite (document_id, chunk_index) keys don't fit a graph node, so
    * hits resolve back through this frame. */
  private def hnswKeyed(p: Pipeline, field: String): DataFrame = {
    val t = DeltaTable.readWithSeg(spark, tablePath(p.name, field, "embeddings"))
    if (t.columns.contains("hid")) t.drop("seg")
    else t.withColumn("hid", hidCol(col("seg"))).drop("seg")
  }

  /** The prepared reads `vectorSearch` and `search` resolve, score and
    * fetch through, resident per (table, projection) while the table's
    * listing holds ([[SnapshotRead]]): hid → chunk key, document payloads,
    * chunk text, chunk vectors, chunk terms. */
  private[store] def hidKeys(p: Pipeline, field: String): SnapshotRead =
    SnapshotRead(tablePath(p.name, field, "embeddings"),
      Seq("hid", "document_id", "chunk_index"))(hnswKeyed(p, field))
  private[store] def docPayloads: SnapshotRead =
    SnapshotRead(docsPath, Seq("source_uuid", "document"))(documents)
  private[store] def chunkTexts(p: Pipeline, field: String): SnapshotRead =
    SnapshotRead(tablePath(p.name, field, "chunks"),
      Seq("document_id", "chunk_index", "chunk"))(chunks(p, field))
  private[store] def chunkVectors(p: Pipeline, field: String): SnapshotRead =
    SnapshotRead(tablePath(p.name, field, "embeddings"),
      Seq("document_id", "chunk_index", "embedding"))(embeddings(p, field))
  private[store] def chunkTerms(p: Pipeline, field: String): SnapshotRead =
    SnapshotRead(tablePath(p.name, field, "tsvectors"),
      Seq("document_id", "chunk_index", "terms"))(tsvectors(p, field))

  /** Sync-time signature-table rebuild for a field with `binaryIndex`:
    * (document_id, chunk_index, sig) — the natural keys ride along so
    * cascade deletes tombstone it like any derived table and candidates
    * resolve without a surrogate. 1/32 of the embedding bytes. */
  private def rebuildBinary(p: Pipeline, f: PipelineField): Unit =
    if (f.binaryIndex) {
      val sigs = embeddings(p, f.name)
        .select(col("document_id"), col("chunk_index"),
          graft.functions.VecFunctions.vecSignPack(col("embedding")).as("sig"))
      DeltaTable.writeBase(sigs, tablePath(p.name, f.name, "binsig"),
        sortCols = Seq("document_id", "chunk_index"))
    }

  /** Binary-prefilter ANN chunk search (requires `binaryIndex` on the
    * field): Hamming-ordered candidates from the skinny signature table
    * (TakeOrdered, total order ham → keys), exact cosine re-rank of the
    * `rerank`-row shortlist fetched by a broadcast key join — the
    * full-vector scan only ever touches shortlist rows' vectors. */
  def binarySearch(p: Pipeline, field: String, query: Array[Float], k: Int,
      rerank: Int = 0): DataFrame = {
    val f = p.fields.find(_.name == field)
      .getOrElse(throw new IllegalArgumentException(s"field $field not in pipeline"))
    require(f.binaryIndex,
      s"field $field has no binaryIndex configured; set PipelineField.binaryIndex")
    val r = math.max(if (rerank > 0) rerank else 10 * k, k)
    val qSig = typedLit(graft.operators.Quantized.packQuery(query))
    val cand = DeltaTable.read(spark, tablePath(p.name, field, "binsig"))
      .withColumn("__ham", graft.functions.VecFunctions.vecHamming(col("sig"), qSig))
      .orderBy(col("__ham").asc, col("document_id").asc, col("chunk_index").asc)
      .limit(r)
      .select("document_id", "chunk_index")
    // composite key → fetchShortlist always picks the broadcast-join regime
    graft.operators.VectorSearch
      .fetchShortlist(embeddings(p, field), Seq("document_id", "chunk_index"), cand, r)
      .withColumn("score", cosineSimilarity(col("embedding"),
        graft.functions.VecFunctions.floatVec(query.toIndexedSeq)))
      .select(col("document_id"), col("chunk_index"), col("score"))
      .orderBy(col("score").desc, col("document_id"), col("chunk_index"))
      .limit(k)
  }

  /** The persisted HNSW forest a sync built for `field` (requires
    * `hnswIndex` on the field — an unmanaged build would serve stale after
    * re-sync, so refuse without the config, like [[ivfIndex]]). The handle
    * is resident: loaded once, then reused by every search until a writer
    * rebuilds or appends to the home or its files change
    * ([[graft.operators.HnswIndex.serveFixed]]). */
  def hnswIndex(p: Pipeline, field: String): graft.operators.HnswIndex = {
    val f = p.fields.find(_.name == field)
      .getOrElse(throw new IllegalArgumentException(s"field $field not in pipeline"))
    val (m, efc) = f.hnswIndex.getOrElse(throw new IllegalArgumentException(
      s"field $field has no hnswIndex configured; set PipelineField.hnswIndex"))
    graft.operators.HnswIndex.serveFixed(
      spark, tablePath(p.name, field, "hnsw"),
      hnswKeyed(p, field), "embedding", "hid", m, efc)
  }

  /** ANN chunk search over the per-field HNSW forest: (document_id,
    * chunk_index, score), best first — see [[hnswHits]]. The result frame
    * is [[vectorSearch]]'s kind: its `collect()` plans nothing, a frame
    * derived from it plans as before. */
  def hnswSearch(p: Pipeline, field: String, query: Array[Float], k: Int,
      ef: Int = 0): DataFrame =
    ColumnBridge.resultFrame(spark, Collection.chunkHitShape, hnswHits(p, field, query, k, ef)
        .map(h => InternalRow(UTF8String.fromString(h.docId), h.chunkIndex, h.score)))

  /** Graph top-k, then the surrogate hits resolve back to (document_id,
    * chunk_index) through one key lookup on the embeddings table's
    * prepared read ([[hidKeys]]: three narrow columns, never vectors).
    * Between delta syncs and the next merge, graphs hold up to
    * `stale[field]` superseded nodes whose hits resolve to nothing; the
    * fetch widens by exactly that count so a top-k can never under-fill. */
  private def hnswHits(p: Pipeline, field: String, query: Array[Float], k: Int,
      ef: Int): Seq[Collection.Hit] = {
    // Since merges went background, delta syncs keep landing while a
    // merge is in flight, so stale can exceed maxStaleIndexRows for the
    // merge's duration — capping the slack there would let stale nodes
    // crowd live rows out of the top-kk and silently under-fill results.
    // Correctness pays the wider fetch up to a BOUNDED ceiling; past it
    // (a bulk re-ingest racing a slow merge) the graph probe would devolve
    // into a full-graph scan plus an unbounded resolve, so serve the
    // exact scan instead — same results, bounded cost, and the next
    // publish restores the index path.
    val stale = readState(p.name).flatMap(_.stale.get(field)).getOrElse(0L)
    val slackCeiling = math.max(maxStaleIndexRows, 16L * k)
    if (stale > slackCeiling) return exactHits(p, field, query, k)
    val kk = k + stale.toInt
    // prepared probe (HnswIndex.serveDistributed): one RDD job over the
    // resident handle's blob rows, zero per-query Catalyst work —
    // spec-pinned bit-identical to the plan-based search()
    val hitRows = hnswIndex(p, field).serveDistributed(query, kk,
      if (ef > 0) math.max(ef, kk) else 0)
    if (hitRows.isEmpty) return Nil
    val keys = hidKeys(p, field)
      .lookup(Seq("hid"), hitRows.map(h => Seq(h._1)).distinct.toSeq)
      .groupBy(_.getLong(0))
    // a stale node's hid resolves to no live row and drops out
    hitRows.toSeq
      .flatMap { case (hid, s) =>
        keys.getOrElse(hid, Array.empty[org.apache.spark.sql.catalyst.InternalRow])
          .map(r => Collection.Hit(field, r.getUTF8String(1).toString, r.getInt(2), s))
      }
      .sorted(Collection.hitOrder)
      .distinctBy(h => (h.docId, h.chunkIndex))
      .take(k)
  }

  /** Exact top-`k` chunks of `field` by cosine × `boost`, collected — the
    * scan every index family falls back to. `docIds` gates documents (the
    * metadata filter's survivors) before the limit; `textFilter` is the
    * full-text chunk filter, which needs chunk text before the limit. */
  private def exactHits(p: Pipeline, field: String, query: Array[Float], k: Int,
      boost: Double = 1.0, docIds: Option[DataFrame] = None,
      textFilter: Option[String] = None): Seq[Collection.Hit] = {
    var scored = embeddings(p, field).withColumn("score",
      cosineSimilarity(col("embedding"), floatVec(query.toIndexedSeq)) * boost)
    // join just the chunk column for this field and drop it after filtering
    textFilter.foreach { t =>
      scored = scored
        .join(chunks(p, field), Seq("document_id", "chunk_index"))
        .where(col("chunk").contains(t)).drop("chunk")
    }
    docIds.foreach(ids => scored = scored.join(ids, Seq("document_id"), "left_semi"))
    collectHits(field,
      scored.orderBy(col("score").desc, col("document_id"), col("chunk_index")).limit(k))
  }

  private def collectHits(field: String, df: DataFrame): Seq[Collection.Hit] =
    df.select(col("document_id"), col("chunk_index"), col("score")).collect()
      .map(r => Collection.Hit(field, r.getString(0), r.getInt(1), r.getDouble(2)))
      .toSeq

  /** ANN chunk search over the per-field IVF home (requires `vectorIndex`
    * on the field). `nprobe` 0 → ⌈√nlist⌉, the standard accuracy/cost
    * default; nprobe = nlist sweeps every cluster (exact). */
  def ivfSearch(p: Pipeline, field: String, query: Array[Float], k: Int,
      nprobe: Int = 0): DataFrame = {
    val nlist = p.fields.find(_.name == field).flatMap(_.vectorIndex)
      .getOrElse(throw new IllegalArgumentException(
        s"field $field has no vectorIndex configured"))
    val np = if (nprobe > 0) nprobe.min(nlist)
      else math.max(1, math.ceil(math.sqrt(nlist)).toInt)
    ivfIndex(p, field).search(query, k, np, Seq("document_id", "chunk_index"))
  }

  /** The persisted IVF index a sync built for `field` (requires
    * `vectorIndex` on the field). Loads from the warehouse — partition
    * pruning serves probes across sessions with no rebuild — and stays
    * resident like [[hnswIndex]]. */
  def ivfIndex(p: Pipeline, field: String): graft.operators.IvfIndex = {
    val f = p.fields.find(_.name == field)
      .getOrElse(throw new IllegalArgumentException(s"field $field not in pipeline"))
    // a field without vectorIndex has no sync path invalidating a persisted
    // index — building one here would guarantee stale serving after any
    // re-sync, so refuse instead of defaulting
    val nlist = f.vectorIndex.getOrElse(throw new IllegalArgumentException(
      s"field $field has no vectorIndex configured; set PipelineField.vectorIndex"))
    graft.operators.IvfIndex.serveFixed(
      spark, tablePath(p.name, field, "ivf"),
      embeddings(p, field), "embedding", nlist)
  }

  def chunks(p: Pipeline, field: String): DataFrame =
    DeltaTable.read(spark, tablePath(p.name, field, "chunks"))
  def embeddings(p: Pipeline, field: String): DataFrame = {
    // the stored hid is index plumbing (see contentHid) — serving paths
    // and index builds over raw vectors never see it
    val t = DeltaTable.read(spark, tablePath(p.name, field, "embeddings"))
    if (t.columns.contains("hid")) t.drop("hid") else t
  }
  def tsvectors(p: Pipeline, field: String): DataFrame =
    DeltaTable.read(spark, tablePath(p.name, field, "tsvectors"))

  /** Chunk-level KNN search across fields — `collection.vector_search`
    * (vector_search_query_builder.rs:77-401). Per field: embed the query
    * driver-side and collect the field's top-k (cosine × boost) under the
    * optional metadata filter and full-text chunk filter; one driver merge
    * takes the global top-k; one key lookup per table fetches the payloads;
    * optional deterministic rerank stand-in.
    *
    * Returns (document_id, document, chunk, score [, rerank_score]),
    * ordered by score desc, document_id, chunk_index (by rerank_score
    * first under rerank). The result is MATERIALIZED at call time — a
    * local relation holding one consistent snapshot of the rows — so
    * consuming it later never re-runs the search against tables or index
    * homes a sync or background merge has since swapped.
    *
    * No Catalyst rule runs and no closure is cleaned in a warm call over an
    * HNSW field: the graph probe is one job of a named task on the
    * resident index handle, and the hid → chunk-key resolve, the
    * documents payload and the chunk text are key lookups on each table's
    * prepared read ([[SnapshotRead]]) — one physical plan per table,
    * planned once and kept while the table home's file listing
    * ([[graft.operators.IndexStore.listingFingerprint]]) is unchanged, so
    * every call reads the snapshot the home holds when the call starts.
    * The plan's rows stay resident in Spark's memory store, so a warm
    * lookup scans decoded rows and opens no file; a partition evicted from
    * storage memory is read from the planned files again. A
    * metadata filter is the same compiled filter as `where(filter)`,
    * analyzed once per filter shape on the documents read's plan and
    * evaluated on the fetched documents rows on the driver.
    *
    * The result is a result frame ([[ColumnBridge.resultFrame]]): its
    * plans are fixed when the call builds it and its row deserializer is
    * bound once for every call of the kind, so the caller's `collect()`
    * runs no optimizer, planner or Analyzer rule. A frame derived from it
    * (`where`, `join`, `count`) plans its own query as before. Under
    * rerank the scorer's query still runs in the call, and the frame's
    * schema is the call's own, so its first collect binds.
    *
    * Spark jobs per call over one HNSW field: 4 unfiltered (graph probe,
    * hid → chunk-key resolve, documents payload, chunk text); with a
    * metadata filter the same 4 when the first over-fetch fills the top-k,
    * plus 3 (probe, resolve, documents) per refill round. The index handle
    * and each prepared read add their planning and load jobs only on the
    * first call after a write changed their home.
    */
  def vectorSearch(
      p: Pipeline,
      fieldQueries: Seq[VectorSearchField],
      limit: Int = 10,
      filterJson: Option[String] = None,
      rerank: Option[Int] = None,
      reranker: graft.functions.Reranker = graft.functions.TokenOverlapReranker): DataFrame = {
    val kGlobal = math.max(limit, rerank.getOrElse(0))
    val docFilter = filterJson.map(f =>
      FilterCompiler.compile(f, FilterCompiler.jsonStringResolver(col("document"))))
    // payloads of the documents looked up so far that pass the filter
    // (every one found, when there is none): one key lookup per batch of
    // new ids on the documents' prepared read fetches the payloads, and
    // the filter, bound to that read's rows, gives the verdict
    val payload = scala.collection.mutable.HashMap.empty[String, String]
    val looked = scala.collection.mutable.HashSet.empty[String]
    lazy val passes = docFilter.map(docPayloads.predicate(spark, _))
    def fetchDocs(ids: Seq[String]): Unit = {
      val fresh = ids.filterNot(looked).distinct
      if (fresh.nonEmpty) {
        docPayloads.lookup(Seq("source_uuid"), fresh.map(Seq(_)))
          .filter(r => passes.forall(_(r)))
          .foreach(r => payload.put(r.getUTF8String(0).toString, SnapshotRead.string(r, 1)))
        looked ++= fresh
      }
    }
    // the exact scan's pre-limit gate: top-k of the FILTERED set (planned
    // only when a field takes the exact scan)
    lazy val filteredIds = docFilter.map(f =>
      documents.where(f).select(col("source_uuid").as("document_id")))
    val perField = fieldQueries.map { fq =>
      val fieldDef = p.fields.find(_.name == fq.field)
        .getOrElse(throw new IllegalArgumentException(s"field ${fq.field} not in pipeline"))
      val emb = fieldDef.semanticSearch
        .getOrElse(throw new IllegalArgumentException(s"field ${fq.field} has no semantic_search"))
      val qv = emb.embedOne(fq.query)
      // Index-accelerated candidate generation when the field carries a
      // sync-built ANN index (the reference's planner picks the pgvector
      // index scan the same way). Per-field top-kGlobal is lossless for the
      // global top-k of the union ONLY under a positive boost — a zero or
      // negative boost wants the OTHER end of the ranking, so it keeps the
      // exact scan. Precedence: HNSW, then binary signatures, then IVF
      // (pgvector's hnsw-over-ivfflat preference), then exact. The
      // full-text chunk filter stays on the exact path (it needs chunk
      // text pre-limit); a metadata filter is served THROUGH the index by
      // over-fetch + post-filter + refill.
      val hasIndex = fieldDef.hnswIndex.isDefined || fieldDef.binaryIndex ||
        fieldDef.vectorIndex.isDefined
      val indexable = hasIndex && fq.fullTextFilter.isEmpty && fq.boost > 0
      // 0 knobs flow through to the per-index defaults, which already
      // widen with the fetch size (hnsw ef ← max(4k, efc); binary rerank ←
      // 10k; ivf nprobe grows with the fetch below) — a configured knob is
      // floored at the fetch so refill loops can still widen past it
      val fetch0 = math.max(4 * kGlobal, 64)
      // Returns the shortlist plus whether "shorter than requested" proves
      // exhaustion: true for HNSW/binary (their scans cover the whole
      // index), and for IVF only once nprobe has widened to every cluster —
      // a partial-probe shortlist coming up short just means the probed
      // clusters ran dry, not that the index did.
      def indexServe(fetch: Int): (Seq[Collection.Hit], Boolean) =
        if (fieldDef.hnswIndex.isDefined)
          (hnswHits(p, fq.field, qv, fetch,
            ef = if (fieldDef.annEf > 0) math.max(fieldDef.annEf, fetch) else 0), true)
        else if (fieldDef.binaryIndex)
          (collectHits(fq.field,
            binarySearch(p, fq.field, qv, fetch, rerank = fieldDef.annRerank)), true)
        else {
          val nlist = fieldDef.vectorIndex.get
          val np0 = math.max(1, math.ceil(math.sqrt(nlist)).toInt)
          val np = math.min(nlist.toLong, np0.toLong * math.max(1, fetch / fetch0)).toInt
          (collectHits(fq.field, ivfSearch(p, fq.field, qv, fetch, np)), np >= nlist)
        }
      def boosted(hs: Seq[Collection.Hit]): Seq[Collection.Hit] =
        hs.map(h => h.copy(score = h.score * fq.boost))
      if (indexable && docFilter.isEmpty) boosted(indexServe(kGlobal)._1)
      else if (indexable) {
        // Filtered ANN (vector_search_query_builder.rs:163-232 applies the
        // filter inside the index-ordered scan): fetch an over-widened
        // shortlist, keep rows whose documents pass the metadata filter,
        // and refill by quadrupling the fetch until k survivors or the
        // index is exhausted — detected by the shortlist coming back
        // SHORTER than requested, so no corpus-sized count sits on the
        // serving path. Each round's shortlist is already on the driver,
        // so the exit decision and the returned rows come from the same
        // evaluation. Rounds are CAPPED: a filter selecting almost nothing
        // stops widening after maxRounds (fetch ≈ 4^6·fetch0 by then) and
        // degrades to the exact filtered scan — the reference's single
        // filtered-scan cost, instead of log4(N) ever-larger index probes.
        var fetch = fetch0
        var rounds = 0
        val maxRounds = 6
        var out: Seq[Collection.Hit] = null
        while (out == null) {
          val (served, covers) = indexServe(fetch)
          fetchDocs(served.map(_.docId))
          val kept = served.filter(h => payload.contains(h.docId))
          rounds += 1
          if ((covers && served.size < fetch) || kept.size >= kGlobal) out = kept
          else if (rounds >= maxRounds)
            out = exactHits(p, fq.field, qv, kGlobal, docIds = filteredIds)
          else fetch = (fetch * 4L).min(Int.MaxValue.toLong).toInt
        }
        boosted(out.sorted(Collection.hitOrder).take(kGlobal))
      } else
        exactHits(p, fq.field, qv, kGlobal, fq.boost, filteredIds, fq.fullTextFilter)
    }
    val top = perField.flatten.sorted(Collection.hitOrder).take(kGlobal)

    // payloads for the k winners only: documents by id (already on the
    // driver for filtered index hits), chunk text by key per field
    fetchDocs(top.map(_.docId))
    val text: Map[(String, String, Int), String] =
      top.groupBy(_.field).toSeq.flatMap { case (fn, hs) =>
        chunkTexts(p, fn)
          .lookup(Seq("document_id", "chunk_index"),
            hs.map(h => Seq(h.docId, h.chunkIndex)).distinct)
          .map(r => (fn, r.getUTF8String(0).toString, r.getInt(1)) -> SnapshotRead.string(r, 2))
      }.toMap
    val joined = top.flatMap { h =>
      for {
        doc <- payload.get(h.docId)
        chunk <- text.get((h.field, h.docId, h.chunkIndex))
      } yield (h, doc, chunk)
    }
    import org.apache.spark.sql.Row
    def utf(s: String) = UTF8String.fromString(s)
    rerank match {
      case None =>
        ColumnBridge.resultFrame(spark, Collection.vectorSearchShape,
          joined.map { case (h, d, c) => InternalRow(utf(h.docId), utf(d), utf(c), h.score) })
      case Some(_) =>
        // cross-scorer seam for pgml.rank (api.rs:612-625) — default is the
        // deterministic token-overlap stand-in; a BiEncoderReranker over a
        // trained embedder (or a production cross-encoder) drops in through
        // the same (query, chunk) → score contract. The scorer's column
        // runs over the k rows as a local relation, which Catalyst folds
        // on the driver (no job). chunk_index is the final tie-break:
        // overlapping chunks of one document can share a score.
        val queryText = fieldQueries.map(_.query).mkString(" ")
        val scored = ColumnBridge.resultFrame(spark, Collection.rerankInputShape,
            joined.map { case (h, d, c) =>
              InternalRow(utf(h.docId), utf(d), utf(c), h.score, h.chunkIndex) })
          .withColumn("rerank_score", reranker.scoreCol(queryText, col("chunk")))
        val rsType = scored.schema("rerank_score").dataType
        val ranked = scored.withColumn("__rs", col("rerank_score").cast("double"))
          .collect().toSeq
          .sorted(Collection.rerankOrder)
          .take(limit)
          .map(r => Row(r.get(0), r.get(1), r.get(2), r.get(3), r.get(5)))
        // the scorer's column picks the rerank_score type, so this shape is
        // the call's own
        val out = Collection.vectorSearchShape.schema.add("rerank_score", rsType)
        val toCatalyst = org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToCatalystConverter(out)
        ColumnBridge.resultFrame(spark, new ColumnBridge.ResultShape(out),
          ranked.map(toCatalyst(_).asInstanceOf[InternalRow]))
    }
  }

  /** Document-level hybrid search — `collection.search`
    * (search_query_builder.rs:60-536): per arm, each document's best chunk
    * (cosine × boost for a semantic field, ts_rank × boost gated on > 0 for
    * a full-text field; ties on chunk_index), the arms' scores summed with
    * a missing arm counting 0 (the reference's FULL OUTER JOIN + COALESCE
    * fusion), then the top `limit` documents that pass the metadata filter,
    * by score desc, document_id. Returns (document_id, document, score),
    * MATERIALIZED at call time as a local relation, like [[vectorSearch]].
    *
    * Exact: every chunk is scored, O(rows) per call, and the rows and score
    * bits are those of the window → full-outer-join → sort plan this
    * replaces. Each arm's score is its Column bound to the arm's prepared
    * read ([[SnapshotRead.value]]) and evaluated in the scan's tasks, the
    * fused sum is `((s₀ + s₁) + …)` in argument order, semantic arms first,
    * and the order is SQL's. No Catalyst query runs on a warm call.
    *
    * The metadata filter is evaluated first, in one scan of the documents'
    * prepared read; the arms then score only the documents it passes. A
    * round reports, per partition of every arm's read, the
    * `max(4·limit, 64)` best documents and the score bounding the rest
    * (see [[HybridSearch]]). It stops once `limit` documents survive with
    * the last one's score above anything an unreported document could sum
    * to, or once every partition reported every document; otherwise the
    * per-partition count doubles and a new round runs.
    *
    * Spark jobs per warm call: one filter scan when filtered; per round,
    * one scan of all arms and one more scan when documents known exactly
    * in one arm need their score in another; rounds number at most one
    * plus log₂ of a partition's documents over the first round's count.
    * Payloads come from documents lookups in score order, each fetching
    * twice the ids of the one before (the first, the `limit` still
    * missing), so candidates without a documents row add O(log n)
    * lookups. A call that one round decides runs 2–3 jobs unfiltered and
    * 3–4 filtered; a filter that passes nothing stops after its scan.
    * All jobs of a call read one snapshot: a publish that moves the files
    * mid-call restarts it on fresh plans.
    * Each prepared read adds its planning, and the decode of its table's
    * files, only on the first call after a write changed its table; warm
    * calls scan the read's resident rows.
    *
    * The returned frame is [[vectorSearch]]'s kind of result frame: the
    * caller's `collect()` plans nothing and binds no deserializer, while a
    * frame derived from it plans as before.
    */
  def search(
      p: Pipeline,
      semantic: Seq[VectorSearchField] = Nil,
      fullText: Seq[FullTextField] = Nil,
      limit: Int = 10,
      filterJson: Option[String] = None): DataFrame =
    search(p, semantic, fullText, limit, filterJson, math.max(4 * limit, 64))

  /** [[search]] with the first round reporting `m0` documents per
    * partition: a small `m0` forces refill rounds and cross-arm lookups. */
  private[store] def search(
      p: Pipeline,
      semantic: Seq[VectorSearchField],
      fullText: Seq[FullTextField],
      limit: Int,
      filterJson: Option[String],
      m0: Int): DataFrame = {
    require(semantic.nonEmpty || fullText.nonEmpty,
      "search needs a semantic or a fullText field; both are empty")
    val semArms = semantic.map { fq =>
      val emb = p.fields.find(_.name == fq.field).flatMap(_.semanticSearch)
        .getOrElse(throw new IllegalArgumentException(s"no semantic_search on ${fq.field}"))
      val read = chunkVectors(p, fq.field)
      HybridSearch.Arm(read, read.value(spark, cosineSimilarity(col("embedding"),
        floatVec(emb.embedOne(fq.query).toIndexedSeq)) * fq.boost), positive = false)
    }
    // the reference gates the fts arm on `tsvector @@ query` BEFORE
    // ranking (search_query_builder.rs:328-344): non-matching documents
    // don't enter the fusion at all, rather than joining with score 0
    val ftsArms = fullText.map { fq =>
      val read = chunkTerms(p, fq.field)
      HybridSearch.Arm(read, read.value(spark,
        TsRank.rank(col("terms"), fq.query) * fq.boost), positive = true)
    }
    val docs = docPayloads
    val filter = filterJson.map(f => docs.value(spark,
      FilterCompiler.compile(f, FilterCompiler.jsonStringResolver(col("document")))))
    val top = HybridSearch.topK((semArms ++ ftsArms).toIndexedSeq, docs, filter, limit, m0)
    ColumnBridge.resultFrame(spark, Collection.searchShape,
      top.map { case (d, doc, s) => InternalRow(UTF8String.fromString(d), UTF8String.fromString(doc), s) })
  }

  /** RAG composition (rag_query_builder.rs:162-373): run named vector
    * searches, aggregate each context with `array_join(collect_list)`,
    * substitute `{VAR}` into the prompt, generate. Returns (rag, sources).
    */
  private def composeRagPrompt(
      p: Pipeline,
      vars: Map[String, (Seq[VectorSearchField], Int)],
      promptTemplate: String,
      joinSep: String): (String, Map[String, Seq[String]]) = {
    val sources = vars.map { case (name, (fqs, k)) =>
      name -> vectorSearch(p, fqs, limit = k).select("chunk").as[String].collect().toSeq
    }
    val prompt = sources.foldLeft(promptTemplate) { case (acc, (name, chunks)) =>
      acc.replace(s"{$name}", chunks.mkString(joinSep))
    }
    (prompt, sources)
  }

  def rag(
      p: Pipeline,
      vars: Map[String, (Seq[VectorSearchField], Int)],
      promptTemplate: String,
      joinSep: String = "\n",
      generator: Generator = new EchoGenerator): RagResult = {
    val (prompt, sources) = composeRagPrompt(p, vars, promptTemplate, joinSep)
    RagResult(generator.generate(prompt), sources)
  }

  /** Streaming RAG — `rag_stream` (rag_query_builder.rs:375-432): same
    * retrieval + prompt composition as [[rag]], but the generation arrives
    * as a driver-side token iterator (the same documented per-token gap as
    * transform_stream: token streaming is anti-Spark, the capability is the
    * iterator contract). Sources are available eagerly, tokens lazily.
    */
  def ragStream(
      p: Pipeline,
      vars: Map[String, (Seq[VectorSearchField], Int)],
      promptTemplate: String,
      joinSep: String = "\n",
      generator: Generator = new EchoGenerator): (Iterator[String], Map[String, Seq[String]]) = {
    val (prompt, sources) = composeRagPrompt(p, vars, promptTemplate, joinSep)
    // lazy: generation runs on first token pull, like the reference's stream
    val tokens = Iterator(()).flatMap { _ =>
      generator.generate(prompt).split("\\s+").iterator.filter(_.nonEmpty)
    }
    (tokens, sources)
  }

  /** Filesystem ingestion (collection.rs:1413, 1662): every file under
    * `dir` becomes a document {"id": relativePath, "text": contents}. */
  def upsertDirectory(dir: String): Unit = {
    val docs = spark.read.option("wholetext", "true").text(dir)
      .withColumn("path", input_file_name())
      .select(to_json(struct(col("path").as("id"), col("value").as("text"))).as("document"))
    upsertDocuments(docs)
  }

  def upsertFile(path: String): Unit = upsertDirectory(path)

  // ---- search logging (queries.rs:78-103 searches/search_results/search_events)

  private def searchesPath = s"$warehouseDir/$name/searches"
  private def searchResultsPath = s"$warehouseDir/$name/search_results"
  private def searchEventsPath = s"$warehouseDir/$name/search_events"

  /** Run [[search]] and log the query + ranked results in the same pass
    * (the reference logs via data-modifying CTEs,
    * search_query_builder.rs:476-518). Returns (searchId, results).
    */
  def searchAndLog(
      p: Pipeline,
      semantic: Seq[VectorSearchField] = Nil,
      fullText: Seq[FullTextField] = Nil,
      limit: Int = 10,
      filterJson: Option[String] = None): (Long, DataFrame) = {
    val searchId = System.nanoTime()
    val queryJson = s"""{"semantic": [${semantic.map(f => s""""${f.field}:${f.query}"""").mkString(",")}],""" +
      s""" "full_text": [${fullText.map(f => s""""${f.field}:${f.query}"""").mkString(",")}]}"""
    val results = search(p, semantic, fullText, limit, filterJson)
    // search logging is concurrent BY NATURE (the reference logs inside
    // every search statement) — stage-then-rename appends, never
    // SaveMode.Append's shared _temporary dir. Both logs write
    // driver-side: the results frame is a local relation, top-`limit` by
    // contract, and its (score desc, document_id) order IS the rank.
    DeltaTable.appendLogFilesLocal(searchesPath,
      Seq("search_id" -> "long", "query" -> "string", "created_at" -> "string"),
      Seq(Seq(searchId, queryJson, java.time.Instant.now().toString)))
    DeltaTable.appendLogFilesLocal(searchResultsPath,
      Seq("search_id" -> "long", "document_id" -> "string",
        "rank" -> "int", "score" -> "double"),
      results.select(col("document_id"), col("score")).collect()
        .zipWithIndex.map { case (r, i) =>
          Seq(searchId, r.getString(0), i + 1, r.getDouble(1)) }.toSeq)
    (searchId, results)
  }

  /** Clickthrough feedback (INSERT_SEARCH_EVENT, queries.rs:131-133). */
  def addSearchEvent(searchId: Long, documentId: String, eventJson: String): Unit = {
    // the local writer's columns are parquet `required` — reject null
    // loudly here rather than NPE inside the writer
    require(documentId != null && eventJson != null,
      "addSearchEvent needs non-null documentId and eventJson")
    DeltaTable.appendLogFilesLocal(searchEventsPath,
      Seq("search_id" -> "long", "document_id" -> "string",
        "event" -> "string", "created_at" -> "string"),
      Seq(Seq(searchId, documentId, eventJson, java.time.Instant.now().toString)))
  }

  def searches: DataFrame = spark.read.parquet(searchesPath)
  def searchResults: DataFrame = spark.read.parquet(searchResultsPath)
  def searchEvents: DataFrame = spark.read.parquet(searchEventsPath)

  /** Deprecated fluent façade (query_builder.rs:1-113). */
  def query(): QueryBuilder = new QueryBuilder(this)

  // ---- admin surfaces (collection.rs:332-498, 1264-1302): the
  // collection.pipelines registry (name → active) plus archive. The SDK
  // passes the Pipeline object into add/enable/remove, so the registry only
  // persists (name, active) — embedder instances never serialize.

  private def pipelinesRegistryPath = s"$warehouseDir/$name/pipelines.json"

  /** Registered pipelines and their active flag (collection.rs get_pipelines
    * reads `WHERE active = TRUE`; we expose the full map). */
  def pipelines: Map[String, Boolean] = {
    val f = new java.io.File(pipelinesRegistryPath)
    if (!f.exists()) Map.empty
    else {
      implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
      org.json4s.jackson.JsonMethods.parse(
        java.nio.file.Files.readString(f.toPath)).extract[Map[String, Boolean]]
    }
  }

  private def writePipelines(m: Map[String, Boolean]): Unit = {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val dir = new java.io.File(s"$warehouseDir/$name")
    if (!dir.exists()) dir.mkdirs()
    val tmp = java.nio.file.Paths.get(pipelinesRegistryPath + "_tmp")
    java.nio.file.Files.writeString(tmp, org.json4s.jackson.Serialization.write(m))
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(pipelinesRegistryPath),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Register + sync a pipeline (collection.rs:332-394): no-op warn if the
    * name is already active, else mark active and full-sync. */
  def addPipeline(p: Pipeline): Unit = {
    if (pipelines.getOrElse(p.name, false)) ()
    else {
      writePipelines(pipelines + (p.name -> true))
      syncPipeline(p)
    }
  }

  /** Drop the pipeline's derived tables and deregister it
    * (collection.rs:396-421: DROP SCHEMA CASCADE + DELETE row). */
  def removePipeline(p: Pipeline): Unit = {
    checkPipelineName(p.name)
    withExclusiveLock(p.name) {
      Collection.generationOf(pipelineKey(p.name)).incrementAndGet()
      graft.operators.IndexStore.invalidateUnder(s"$warehouseDir/$name/${p.name}")
      deleteRec(new java.io.File(s"$warehouseDir/$name/${p.name}"))
    }
    writePipelines(pipelines - p.name)
  }

  /** Mark inactive (collection.rs:487-498) — derived tables stay on disk,
    * but [[syncActive]] skips the pipeline until re-enabled. */
  def disablePipeline(name: String): Unit =
    writePipelines(pipelines + (name -> false))

  /** Re-activate + resync so tables catch up on documents upserted while
    * disabled (collection.rs:445-463 enables then resyncs). */
  def enablePipeline(p: Pipeline): Unit = {
    writePipelines(pipelines + (p.name -> true))
    syncPipelineIncremental(p)
  }

  /** Sync every ACTIVE pipeline — the reference's upsert path syncs all
    * active pipelines after a document write (collection.rs:649-719). */
  def syncActive(ps: Seq[Pipeline]): Unit = {
    val reg = pipelines
    ps.filter(p => reg.getOrElse(p.name, false)).foreach(syncPipelineIncremental)
  }

  /** Continuous ingest: a document stream drives the same upsert →
    * incremental-sync flow as batch writes (SURVEY.md §3.4 — the
    * reference's transactional upsert-then-sync, collection.rs:649-719,
    * re-expressed as a Structured Streaming `foreachBatch` sink). Each
    * micro-batch is one upsert plus a changed-chunk re-sync, so chunk and
    * embed work stays proportional to the batch, never the corpus; the
    * checkpoint makes restarts resume-where-left-off, and replayed batches
    * are safe because upsert is idempotent by document identity.
    * `stream` must carry a `document` JSON column like [[upsertDocuments]].
    */
  def syncStream(
      stream: DataFrame,
      pipelines: Seq[Pipeline],
      checkpoint: String,
      merge: Boolean = false): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          upsertDocuments(batch, merge)
          pipelines.foreach(syncPipelineIncremental)
        }
      }
      .start()

  /** Archive the collection (collection.rs:1264-1302): rename the on-disk
    * home to `<name>_archive_<epoch-seconds>` so the name frees up for a
    * fresh collection. Returns the archive name; this instance's paths no
    * longer resolve afterwards (the reference likewise leaves the handle
    * dead after archive).
    */
  def archive(): String = {
    // drain background merges first: renaming the collection home out from
    // under an in-flight merge would fail its build mid-job
    awaitMaintenance()
    val ts = System.currentTimeMillis()
    val src = new java.io.File(s"$warehouseDir/$name")
    // millisecond stamp, then probe _2, _3... so re-archiving a recreated
    // same-named collection in the same instant still succeeds
    val base = s"${name}_archive_$ts"
    val archiveName = (Iterator(base) ++ Iterator.from(2).map(i => s"${base}_$i"))
      .find(n => !new java.io.File(s"$warehouseDir/$n").exists())
      .get
    val dst = new java.io.File(s"$warehouseDir/$archiveName")
    graft.operators.IndexStore.invalidateUnder(s"$warehouseDir/$name")
    require(src.renameTo(dst), s"failed to archive $src -> $dst")
    archiveName
  }

  // write-then-swap so a failed job never truncates the live table; one
  // shared implementation with the delta layout (DeltaTable.writeSnapshot)
  private def writeSnapshot(df: DataFrame, path: String): Unit =
    DeltaTable.writeSnapshot(df, path)
  private def deleteRec(f: java.io.File): Unit = DeltaTable.deleteRecursively(f)
}

object Collection {
  /** One ranked chunk candidate of [[Collection.vectorSearch]]. */
  private[store] final case class Hit(
      field: String, docId: String, chunkIndex: Int, score: Double)

  /** Catalyst's `score DESC, document_id, chunk_index` order on the
    * driver: doubles compare as SQL does (NaN largest, -0.0 = 0.0) and
    * strings by UTF-8 bytes. */
  private[store] val hitOrder: Ordering[Hit] = (a, b) => {
    val s = org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(b.score, a.score)
    if (s != 0) s
    else {
      val d = utf8Compare(a.docId, b.docId)
      if (d != 0) d else Integer.compare(a.chunkIndex, b.chunkIndex)
    }
  }

  /** `rerank_score DESC NULLS LAST, document_id, chunk_index` over rerank
    * rows (document_id 0, chunk_index 4, rerank score as double 6). */
  private[store] val rerankOrder: Ordering[org.apache.spark.sql.Row] = (a, b) => {
    val s = (a.isNullAt(6), b.isNullAt(6)) match {
      case (true, true) => 0
      case (true, false) => 1
      case (false, true) => -1
      case _ => org.apache.spark.sql.catalyst.util.SQLOrderingUtil
        .compareDoubles(b.getDouble(6), a.getDouble(6))
    }
    if (s != 0) s
    else {
      val d = utf8Compare(a.getString(0), b.getString(0))
      if (d != 0) d else Integer.compare(a.getInt(4), b.getInt(4))
    }
  }

  // The result frames of each serve kind, one shape per kind: a shape
  // binds its Row deserializer on its first collect and keeps that copy
  // for every later frame ([[ColumnBridge.ResultShape]]).
  /** [[Collection.hnswSearch]]'s chunk hits. */
  private[store] val chunkHitShape = new ColumnBridge.ResultShape(StructType(Seq(
    StructField("document_id", StringType), StructField("chunk_index", IntegerType, nullable = false),
    StructField("score", DoubleType, nullable = false))))
  /** [[Collection.vectorSearch]]'s chunks, without rerank. */
  private[store] val vectorSearchShape = new ColumnBridge.ResultShape(StructType(
    Seq("document_id", "document", "chunk").map(StructField(_, StringType)) :+
      StructField("score", DoubleType)))
  /** The rows [[Collection.vectorSearch]]'s reranker scores. */
  private[store] val rerankInputShape = new ColumnBridge.ResultShape(
    vectorSearchShape.schema.add("chunk_index", IntegerType))
  /** Hybrid [[Collection.search]]'s documents. */
  private[store] val searchShape = new ColumnBridge.ResultShape(StructType(Seq(
    StructField("document_id", StringType), StructField("document", StringType),
    StructField("score", DoubleType, nullable = false))))

  private def utf8Compare(a: String, b: String): Int =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))

  /** AQE-off session clones for the micro-batch paths, keyed by
    * (SparkContext, reduce width) — see [[Collection.microSpark]]. */
  private[store] val microSessions =
    scala.collection.concurrent.TrieMap.empty[String, org.apache.spark.sql.SparkSession]

  /** Embeddings tables confirmed to carry the content-keyed `hid` column
    * — the once-true-always-true legacy-migration verdict, cached so the
    * per-batch sync path never re-resolves the schema. */
  private[store] val nonLegacyEmb =
    scala.collection.concurrent.TrieMap.empty[String, Boolean]

  /** Fixed daemon pool for the concurrent maintenance chains of a sync
    * micro-batch (three independent table appends per field). Small on
    * purpose: these threads only SUBMIT Spark jobs and wait — the
    * executor cores do the work — so a handful is enough to overlap the
    * driver-side fixed costs without flooding the scheduler. */
  private[store] lazy val maintenanceEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newFixedThreadPool(4,
        new java.util.concurrent.ThreadFactory {
          private val n = new java.util.concurrent.atomic.AtomicInteger(0)
          override def newThread(r: Runnable): Thread = {
            val t = new Thread(r, s"graft-maintenance-${n.getAndIncrement()}")
            t.setDaemon(true)
            t
          }
        }))

  /** Small pool for the INTERNAL parallelism of one merge's build phase
    * (per-table compactions + index rebuilds are independent Spark jobs).
    * Deliberately separate from [[maintenanceEc]]: a multi-second merge
    * build occupying the maintenance threads would starve the foreground
    * micro-batch chains that pool exists for, inverting the
    * background-merge latency contract. */
  private[store] lazy val mergeBuildEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newFixedThreadPool(4,
        new java.util.concurrent.ThreadFactory {
          private val n = new java.util.concurrent.atomic.AtomicInteger(0)
          override def newThread(r: Runnable): Thread = {
            val t = new Thread(r, s"graft-merge-build-${n.getAndIncrement()}")
            t.setDaemon(true)
            t
          }
        }))

  /** Single background thread for segment merges (staged compaction +
    * index rebuilds). One on purpose: a merge is O(corpus) executor work,
    * and running two pipelines' merges concurrently would contend for the
    * same cores without finishing either sooner. */
  private[store] lazy val mergeEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newSingleThreadExecutor(
        (r: Runnable) => {
          val t = new Thread(r, "graft-merge")
          t.setDaemon(true)
          t
        }))

  // Per-pipeline-directory writer coordination, keyed by absolute path so
  // two Collection instances over one warehouse share locks. Syncs and
  // cascade deletes hold the READ side (they may append concurrently —
  // the segment protocol keeps them apart); a merge's snapshot and publish
  // phases, full syncs, and pipeline removal hold the WRITE side.
  private val pipelineLocks = scala.collection.concurrent.TrieMap
    .empty[String, java.util.concurrent.locks.ReentrantReadWriteLock]
  private[store] def lockFor(key: String): java.util.concurrent.locks.ReentrantReadWriteLock =
    pipelineLocks.getOrElseUpdate(key, new java.util.concurrent.locks.ReentrantReadWriteLock())

  // Pipeline generation: bumped by every operation that REWRITES or
  // removes the pipeline's homes wholesale (full sync, delete cascade,
  // removePipeline). An in-flight background merge re-checks it under the
  // publish lock and aborts when it moved — the rewrite already
  // superseded everything the merge staged.
  private val generations = scala.collection.concurrent.TrieMap
    .empty[String, java.util.concurrent.atomic.AtomicLong]
  private[store] def generationOf(key: String): java.util.concurrent.atomic.AtomicLong =
    generations.getOrElseUpdate(key, new java.util.concurrent.atomic.AtomicLong(0L))

  /** In-flight background merges by pipeline key — the schedule guard
    * (one merge per pipeline) and what [[Collection.awaitMaintenance]]
    * drains. */
  private[store] val pendingMerges = scala.collection.concurrent.TrieMap
    .empty[String, scala.concurrent.Future[Unit]]
}

final case class VectorSearchField(
    field: String,
    query: String,
    boost: Double = 1.0,
    fullTextFilter: Option[String] = None)

final case class FullTextField(field: String, query: String, boost: Double = 1.0)

final case class RagResult(rag: String, sources: Map[String, Seq[String]])

/** Text-generation boundary. The reference runs HF pipelines in-process
  * (pgml.transform); offline stand-in echoes a deterministic digest so RAG
  * plumbing is testable. */
trait Generator extends Serializable {
  def generate(prompt: String): String
}
final class EchoGenerator extends Generator {
  override def generate(prompt: String): String = {
    val toks = prompt.split("\\s+").take(32)
    s"[generated] ${toks.mkString(" ")}"
  }
}
