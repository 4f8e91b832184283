package graft.store

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.IndexStore

/** Segmented append+tombstone parquet table with document-granularity
  * supersession — the storage shape that makes Collection's incremental
  * sync O(changed docs) instead of O(corpus) per batch.
  *
  * The reference mutates its derived tables row-wise in Postgres
  * (chunk/embedding/tsvector upserts per changed key,
  * pgml-sdks/pgml/src/queries.rs:217-339). A Spark warehouse can't mutate
  * parquet in place, and the previous design paid for that by rewriting
  * every derived table in full on every sync. This table instead:
  *
  *   - stores rows in numbered segments `<path>/seg=N/…` (a parquet
  *     partition column, so readers prune by segment for free);
  *   - keeps a skinny manifest `<path>/_manifest/` of (doc key → seg)
  *     recording, for every document REWRITTEN since the last compaction,
  *     the single segment that now owns all of its rows (the underscore
  *     prefix hides it from the data read's file listing, like _SUCCESS);
  *   - resolves reads as "a row survives iff its document was never
  *     rewritten, or the row sits in the document's latest segment" — one
  *     broadcast hash join against the aggregated manifest, zero when the
  *     manifest is empty (the common compacted state);
  *   - deletes documents by appending a manifest entry whose segment has
  *     no rows (a tombstone);
  *   - compacts back to a single segment + empty manifest past a segment
  *     threshold, bounding both the manifest size (what the resolution
  *     join broadcasts) and small-file count.
  *
  * Writes are append-only between compactions, so a 1-document re-sync
  * writes O(1 document) bytes. Atomicity: every append/tombstone COMMITS
  * by creating a `_commits/seg-N` marker as its last step; readers ignore
  * data and manifest rows of unmarked segments, so a crash mid-append
  * rolls back cleanly (the half-written segment is invisible and the
  * retried operation takes a fresh number) instead of duplicating or
  * hiding rows. A production deployment would sit this layout on a
  * transactional table format (Delta/Iceberg MERGE), which is exactly the
  * migration seam the single write/read entry points below define.
  */
object DeltaTable {

  private val ManifestDir = "_manifest"
  private val CommitsDir = "_commits"

  // shared heuristics for callers feeding delta tables (kept here so the
  // two write sites — upsert and incremental sync — can never drift):
  // In-literal pushdown only below this many ids (wider In costs planner
  // time without pruning more; broadcast-semi-join instead) …
  val InPushdownMaxIds = 1000
  // … and small batches coalesce to ~this many rows per written file
  val RowsPerDeltaFile = 2000
  val CoalesceBatchMax = 20000

  /** file:-scheme URIs fold to plain local paths for every java.io.File
    * touch (probes, markers, swaps) — Spark accepts both spellings, the
    * JDK only the latter, and treating `file:///x` as a relative path
    * would silently skip manifest resolution and no-op the publish swap.
    * Genuinely remote schemes (hdfs://, s3a://) pass through unchanged
    * and take the Spark-side resolve branch. */
  private def ioPath(path: String): String =
    if (!path.startsWith("file:")) path
    else "/" + path.stripPrefix("file:").dropWhile(_ == '/')

  /** True if the path holds any table this object can read. */
  def exists(path: String): Boolean = {
    val d = new java.io.File(ioPath(path))
    d.isDirectory && segDirs(path).nonEmpty
  }

  private def segDirs(path: String): Seq[java.io.File] =
    Option(new java.io.File(ioPath(path)).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("seg=")).toSeq

  private def maxSeg(path: String): Int =
    segDirs(path).map(_.getName.stripPrefix("seg=").toInt)
      .foldLeft(-1)(math.max)

  def segmentCount(path: String): Int = segDirs(path).length

  private def manifestPath(path: String) = s"${ioPath(path)}/$ManifestDir"

  private def commitsPath(path: String) = s"${ioPath(path)}/$CommitsDir"

  /** None = pre-marker layout (treat every segment as committed). */
  private def committedSegs(path: String): Option[Set[Int]] = {
    val d = new java.io.File(commitsPath(path))
    if (!d.isDirectory) None
    else Some(Option(d.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("seg-"))
      .map(_.getName.stripPrefix("seg-").toInt).toSet)
  }

  private def commitSeg(path: String, seg: Int): Unit = {
    val d = new java.io.File(commitsPath(path))
    d.mkdirs()
    new java.io.File(d, s"seg-$seg").createNewFile()
    ()
  }

  /** Allocate the next segment number WRITE-AHEAD: an `alloc-N` marker is
    * created (atomically — createNewFile) before any data or manifest row
    * is written under N, and a crashed operation's number is burned, never
    * reused. Without this, a crashed (pre-commit-marker) tombstone or
    * zero-row append leaves an orphan manifest row under N, and the NEXT
    * operation to take N would commit it retroactively — silently deleting
    * the document the crashed call was supposed to leave untouched. The
    * createNewFile race also hands concurrent writers distinct numbers. */
  private def allocSeg(path: String): Int = {
    val d = new java.io.File(commitsPath(path))
    d.mkdirs()
    var seg = math.max(maxSeg(path), markerMax(path)) + 1
    while (!new java.io.File(d, s"alloc-$seg").createNewFile()) seg += 1
    seg
  }

  private def markerMax(path: String): Int =
    Option(new java.io.File(commitsPath(path)).listFiles())
      .getOrElse(Array.empty)
      .flatMap(f => f.getName.split("-") match {
        case Array("seg" | "alloc", n) => Some(n.toInt)
        case _ => None
      }).foldLeft(-1)(math.max)

  private def hasManifest(path: String): Boolean = {
    val d = new java.io.File(manifestPath(path))
    d.isDirectory && Option(d.listFiles()).exists(_.exists(f =>
      f.getName.endsWith(".parquet")))
  }

  /** Full rewrite: a single seg=0 with an empty manifest, published with
    * the same write-then-swap as the old snapshot path. The slate-clean
    * state every full sync and every compaction produces. */
  def writeBase(df: DataFrame, path: String, sortCols: Seq[String] = Nil): Unit = {
    IndexStore.invalidateSource(path)
    requireLocalWrites(path, "writeBase")
    manifestCache.remove(path)
    invalidateSchemas(path)
    // per-file sort (not a global orderBy): tight row-group stats for key
    // pushdown without the range partitioner's extra sampling pass, which
    // would evaluate upstream expressions (e.g. the embedder) twice
    val sorted = if (sortCols.nonEmpty) df.sortWithinPartitions(sortCols.map(col): _*) else df
    val tmp = path + "_tmp"
    sorted.withColumn("seg", lit(0))
      .write.mode(SaveMode.Overwrite).partitionBy("seg").parquet(tmp)
    commitSeg(tmp, 0) // marker rides the staged dir through the swap
    swap(tmp, path)
  }

  /** Append one delta segment owning the FULL current row set of `docIds`'
    * documents (rows for other documents must not appear in `df`). Every
    * id in `docIds` gets a manifest entry even when `df` carries no rows
    * for it — that is how a document shrinks to zero rows. Data and
    * manifest land BEFORE the commit marker, so a crash mid-way leaves an
    * unmarked (invisible) segment, never a half-visible one. Returns the
    * new segment's number. */
  def appendDelta(
      spark: SparkSession,
      path: String,
      df: DataFrame,
      docIds: DataFrame,
      docCol: String = "document_id",
      sortCols: Seq[String] = Nil,
      // micro-batch deltas are tiny: writing them through the session's
      // full partition count costs a parquet file + commit per partition
      // for one-row payloads. Callers that know the batch is small pass a
      // low target (usually 1); 0 leaves the partitioning alone.
      coalesceTo: Int = 0,
      // the batch's ids when the caller already holds them on the driver
      // (the incremental-sync path collects them for the In-pushdown
      // anyway): the manifest then writes driver-side with ZERO Spark jobs
      // instead of a coalesce(1) job per table-touch — on a micro-batch,
      // scheduling fixed costs dwarf the one-row payloads
      knownIds: Option[Seq[String]] = None): Int = {
    IndexStore.invalidateSource(path)
    requireLocalWrites(path, "appendDelta")
    val seg = allocSeg(path)
    val sized = if (coalesceTo > 0) df.coalesce(coalesceTo) else df
    val sorted = if (sortCols.nonEmpty) sized.sortWithinPartitions(sortCols.map(col): _*) else sized
    // stage-then-rename, NOT SaveMode.Append: concurrent appenders to one
    // table would clobber each other's shared _temporary staging dir, so
    // distinct segment numbers alone don't make appends concurrent-safe.
    // Each writer stages under its own (seg-unique) underscore dir INSIDE
    // the table — invisible to Spark's listing, swept by compaction's dir
    // swap if a crash orphans it — then renames into place, which also
    // skips Append-mode's full listing of the table. The seg value comes
    // from the directory name (partition discovery), exactly as
    // partitionBy wrote it. The Spark write keeps the caller's scheme
    // (file: homes); only the java.io rename goes through ioPath.
    val stage = s"$path/_stage-seg$seg"
    sorted.write.mode(SaveMode.Overwrite).parquet(stage)
    // a 0-row batch publishes NO data dir — the pre-rename layout wrote
    // none either, and Collection's changelog guard keys on that. The
    // manifest entries below still land: that is how a document shrinks
    // to zero rows.
    if (stageRowCount(stage) == 0L) deleteRec(new java.io.File(ioPath(stage)))
    else if (!new java.io.File(ioPath(stage)).renameTo(
        new java.io.File(s"${ioPath(path)}/seg=$seg")))
      throw new java.io.IOException(s"could not publish segment $seg under $path")
    // manifest publish + commit + cache advance under a per-path mutex:
    // the cached doc→latest-seg literal map can then move FORWARD with
    // the append instead of being invalidated by it — without this,
    // every table an append touches pays a full manifest re-collect
    // (a ~0.3 s driver job) on its next read, once per micro-batch.
    // Cross-process appenders can't touch this JVM's cache; their files
    // change the fingerprint, which lands on the re-collect path.
    manifestLock(path).synchronized {
      val preFp = manifestFingerprint(path)
      val written = knownIds match {
        case Some(ids) if ids.nonEmpty =>
          Some(appendManifestLocal(path, ids, docCol, seg))
        case _ =>
          appendManifest(path, docIds, docCol, seg)
          None
      }
      commitSeg(path, seg)
      (knownIds, written) match {
        case (Some(ids), Some(file)) if ids.nonEmpty =>
          manifestCacheApply(path, preFp, file, ids, seg)
        case _ =>
          manifestCache.remove(path)
          ()
      }
    }
    seg
  }

  /** Driver-side parquet write of a small driver-held row batch — the
    * [[appendManifestLocal]] machinery generalized to arbitrary flat
    * schemas: one file, zero Spark jobs. Column kinds: `string` (binary
    * UTF8), `long`, `int`, `ts` (INT64 TIMESTAMP micros, UTC — Spark
    * reads it as TimestampType alongside Spark-written INT96 files).
    * Values must be pre-converted ((String, Long, Int, Long-micros)). */
  private[graft] def writeParquetLocal(
      file: java.io.File,
      cols: Seq[(String, String)],
      rows: Seq[Seq[Any]]): Unit = {
    val fields = cols.map {
      case (n, "string") => s"required binary $n (UTF8);"
      case (n, "long") => s"required int64 $n;"
      case (n, "int") => s"required int32 $n;"
      case (n, "double") => s"required double $n;"
      case (n, "ts") => s"required int64 $n (TIMESTAMP(MICROS,true));"
      case (n, "bytes") => s"required binary $n;"
      // the standard 3-level LIST shape Spark writes and reads natively
      case (n, "strings") =>
        s"required group $n (LIST) { repeated group list { required binary element (UTF8); } }"
      case (n, "floats") =>
        s"required group $n (LIST) { repeated group list { required float element; } }"
      case (n, "longs") =>
        s"required group $n (LIST) { repeated group list { required int64 element; } }"
      case (n, k) => throw new IllegalArgumentException(s"unknown local column kind $k for $n")
    }.mkString(" ")
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      s"message local { $fields }")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.parquet.io.LocalOutputFile(file.toPath))
      .withType(schema)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    val factory = new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
    try rows.foreach { r =>
      val g = factory.newGroup()
      cols.zip(r).foreach {
        case ((n, "string"), v) => g.add(n, v.asInstanceOf[String])
        case ((n, "int"), v) => g.add(n, v.asInstanceOf[Int])
        case ((n, "double"), v) => g.add(n, v.asInstanceOf[Double])
        case ((n, "strings"), v) =>
          val lst = g.addGroup(n)
          v.asInstanceOf[Seq[String]].foreach(s =>
            lst.addGroup("list").add("element", s))
        case ((n, "bytes"), v) =>
          g.add(n, org.apache.parquet.io.api.Binary
            .fromConstantByteArray(v.asInstanceOf[Array[Byte]]))
        case ((n, "floats"), v) =>
          val lst = g.addGroup(n)
          v.asInstanceOf[Array[Float]].foreach(x =>
            lst.addGroup("list").add("element", x))
        case ((n, "longs"), v) =>
          val lst = g.addGroup(n)
          v.asInstanceOf[Array[Long]].foreach(x =>
            lst.addGroup("list").add("element", x))
        case ((n, _), v) => g.add(n, v.asInstanceOf[Long]) // long + ts-micros
      }
      writer.write(g)
    } finally writer.close()
  }

  /** Driver-side read of ONE parquet file (local-writer or Spark-written):
    * rows as value sequences in `cols` order (the [[writeParquetLocal]]
    * kind vocabulary: string/int/long/double/ts/bytes + strings/floats/
    * longs lists), with an optional `docCol IN ids` filter pushed to
    * row-group stats AND record level (segments are written sorted on the
    * doc column, so the stats prune exactly like the distributed
    * In-pushdown). NULL fields surface as null. */
  private def readParquetLocalFile(
      file: java.io.File,
      cols: Seq[(String, String)],
      filter: Option[(String, Set[String])]): Seq[Seq[Any]] = {
    import org.apache.parquet.filter2.compat.FilterCompat
    import org.apache.parquet.filter2.predicate.FilterApi
    val builder = org.apache.parquet.hadoop.ParquetReader
      .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
        new org.apache.hadoop.fs.Path(file.getAbsolutePath))
      .withConf(new org.apache.hadoop.conf.Configuration(false))
    val withF = filter match {
      case Some((c, ids)) =>
        import scala.jdk.CollectionConverters._
        val set: java.util.Set[org.apache.parquet.io.api.Binary] =
          ids.map(org.apache.parquet.io.api.Binary.fromString).asJava
        builder.withFilter(FilterCompat.get(
          FilterApi.in(FilterApi.binaryColumn(c), new java.util.HashSet(set))))
      case None => builder
    }
    val reader = withF.build()
    val out = Seq.newBuilder[Seq[Any]]
    try {
      var g = reader.read()
      while (g != null) {
        out += cols.map { case (n, kind) =>
          if (g.getType.containsField(n) && g.getFieldRepetitionCount(n) > 0) kind match {
            case "string" => g.getString(n, 0)
            case "int" => g.getInteger(n, 0)
            case "double" => g.getDouble(n, 0)
            case "bytes" => g.getBinary(n, 0).getBytes
            case "strings" =>
              val lst = g.getGroup(n, 0)
              (0 until lst.getFieldRepetitionCount(0))
                .map(i => lst.getGroup(0, i).getString(0, 0))
            case "floats" =>
              val lst = g.getGroup(n, 0)
              Array.tabulate(lst.getFieldRepetitionCount(0))(i =>
                lst.getGroup(0, i).getFloat(0, 0))
            case "longs" =>
              val lst = g.getGroup(n, 0)
              Array.tabulate(lst.getFieldRepetitionCount(0))(i =>
                lst.getGroup(0, i).getLong(0, 0))
            case _ => g.getLong(n, 0) // long + ts-micros
          } else null
        }
        g = reader.read()
      }
    } finally reader.close()
    out.result()
  }

  /** Whether a parquet file's layout matches the requested kinds — a
    * column absent (pre-hid layout) or at a different physical type (e.g.
    * Spark's default INT96 timestamps in distributed-written segments vs
    * the local writer's INT64 micros) means the local fast path must not
    * read it; callers fall back to the distributed read, which handles
    * any layout. */
  private def schemaCompatibleLocal(
      f: java.io.File, cols: Seq[(String, String)]): Boolean = {
    val fileSchema = org.apache.parquet.hadoop.ParquetFileReader
      .readFooter(new org.apache.hadoop.conf.Configuration(false),
        new org.apache.hadoop.fs.Path(f.getAbsolutePath))
      .getFileMetaData.getSchema
    cols.forall { case (n, kind) =>
      fileSchema.containsField(n) && {
        val t = fileSchema.getType(fileSchema.getFieldIndex(n))
        kind match {
          case "strings" | "floats" | "longs" => !t.isPrimitive
          case _ => t.isPrimitive && {
            val p = t.asPrimitiveType().getPrimitiveTypeName.name()
            kind match {
              case "string" | "bytes" => p == "BINARY"
              case "int" => p == "INT32"
              case "long" | "ts" => p == "INT64"
              case "double" => p == "DOUBLE"
              case _ => false
            }
          }
        }
      }
    }
  }

  /** [[readParquetLocalFile]] over a fixed file list with the schema
    * compatibility gate — None when any file's layout diverges from the
    * requested kinds (caller falls back to the distributed read). */
  private[graft] def readFilesLocal(
      files: Seq[java.io.File],
      cols: Seq[(String, String)]): Option[Seq[Seq[Any]]] = {
    val out = Seq.newBuilder[Seq[Any]]
    for (f <- files) {
      if (!schemaCompatibleLocal(f, cols)) return None
      out ++= readParquetLocalFile(f, cols, None)
    }
    Some(out.result())
  }

  /** Driver-side equivalent of `read(path).where(docCol isin docIds)` —
    * the CURRENT rows of `docIds`' documents, resolved through the SAME
    * supersession rule as [[resolve]]: a doc in the (committed) manifest
    * reads only its latest segment; a doc absent from the manifest has
    * rows only in the base seg=0 (appendDelta claims every doc it writes).
    * Returns None when the local fast path does not apply (non-local
    * store, legacy flat layout, manifest past the literal budget, or a
    * requested column missing from a file's schema — pre-hid tables) —
    * callers then take the distributed read. Zero Spark jobs when the
    * manifest literal cache is warm (appendDeltaLocal keeps it warm).
    *
    * Concurrency: callers must hold the pipeline sync (read) lock, which
    * excludes the background merge's publish — the exact guarantee the
    * distributed path's pre-append file listings rely on. */
  private[graft] def readDocsLocal(
      spark: SparkSession, path: String, docIds: Seq[String],
      cols: Seq[(String, String)], docCol: String): Option[Seq[Seq[Any]]] = {
    if (!isLocal(path)) return None
    val dir = new java.io.File(ioPath(path))
    if (!dir.isDirectory) return None
    // legacy flat-snapshot layout (parquet files at the root, no seg dirs):
    // the distributed path migrates it — don't reimplement that here
    val hasSegDirs = Option(dir.listFiles()).getOrElse(Array.empty)
      .exists(f => f.isDirectory && f.getName.startsWith("seg="))
    val hasRootParquet = Option(dir.listFiles()).getOrElse(Array.empty)
      .exists(f => f.isFile && f.getName.endsWith(".parquet"))
    if (!hasSegDirs || hasRootParquet) return None
    if (hasManifest(path) && manifestBytes(path) > LiteralManifestMaxBytes) return None
    if (docIds.isEmpty) return Some(Nil)
    val latest =
      if (hasManifest(path)) cachedLatest(spark, path, docCol)
      else new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Integer]()
    val bySeg = docIds.groupBy { d =>
      Option(latest.get(org.apache.spark.unsafe.types.UTF8String.fromString(d)))
        .map(_.intValue).getOrElse(0)
    }
    val out = Seq.newBuilder[Seq[Any]]
    for ((seg, ids) <- bySeg) {
      val segDir = new java.io.File(dir, s"seg=$seg")
      if (segDir.isDirectory) {
        val files = Option(segDir.listFiles()).getOrElse(Array.empty)
          .filter(f => f.isFile && f.getName.endsWith(".parquet")).sortBy(_.getName)
        val idSet = ids.toSet
        for (f <- files) {
          if (!schemaCompatibleLocal(f, cols)) return None
          out ++= readParquetLocalFile(f, cols, Some(docCol -> idSet))
        }
      }
    }
    Some(out.result())
  }

  /** [[appendDelta]] for a batch the driver already holds: the segment
    * file, manifest rows, and commit marker all write driver-side — an
    * event-sized append schedules ZERO Spark jobs. Same protocol as the
    * distributed path (seg allocation, stage-then-rename, manifest +
    * commit + cache advance under the per-path mutex); rows should
    * arrive pre-sorted on the pruning column so row-group stats prune
    * reads exactly like the sorted distributed segments. */
  private[graft] def appendDeltaLocal(
      path: String,
      cols: Seq[(String, String)],
      rows: Seq[Seq[Any]],
      ids: Seq[String],
      docCol: String): Int = {
    IndexStore.invalidateSource(path)
    requireLocalWrites(path, "appendDeltaLocal")
    require(ids.nonEmpty, "appendDeltaLocal needs the batch's document ids")
    val seg = allocSeg(path)
    if (rows.nonEmpty) {
      val stage = new java.io.File(ioPath(s"$path/_stage-seg$seg"))
      stage.mkdirs()
      writeParquetLocal(new java.io.File(stage, "part-local-0.parquet"), cols, rows)
      if (!stage.renameTo(new java.io.File(s"${ioPath(path)}/seg=$seg")))
        throw new java.io.IOException(s"could not publish segment $seg under $path")
    }
    manifestLock(path).synchronized {
      val preFp = manifestFingerprint(path)
      val written = appendManifestLocal(path, ids, docCol, seg)
      commitSeg(path, seg)
      manifestCacheApply(path, preFp, written, ids, seg)
    }
    seg
  }

  /** [[stagePublishSegment]] for rows the driver already holds: write the
    * segment file with the local writer and rename it into place — used by
    * index homes whose event-sized delta is built in-process (the HNSW
    * local append). Caller handles 0-row batches and commit markers. */
  private[graft] def publishSegmentLocal(
      segParent: String, seg: Int,
      cols: Seq[(String, String)], rows: Seq[Seq[Any]]): Unit = {
    requireLocalWrites(segParent, "publishSegmentLocal")
    val stage = new java.io.File(ioPath(s"$segParent/_stage-seg$seg"))
    stage.mkdirs()
    writeParquetLocal(new java.io.File(stage, "part-local-0.parquet"), cols, rows)
    new java.io.File(ioPath(segParent)).mkdirs()
    if (!stage.renameTo(new java.io.File(s"${ioPath(segParent)}/seg=$seg")))
      throw new java.io.IOException(s"could not publish segment $seg under $segParent")
  }

  /** The just-published segment as a lineage-free frame: read the seg=N
    * files back with the caller's schema (explicit — no inference job).
    * This is the checkpoint-free way for index consumers to reuse an
    * appended delta: the append's write already materialized the rows, so
    * re-reading its files costs no recompute and no extra barrier job. A
    * 0-row append published no data dir → an empty frame of the schema. */
  private[graft] def segmentFrame(spark: SparkSession, path: String, seg: Int,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val dir = new java.io.File(s"${ioPath(path)}/seg=$seg")
    if (dir.isDirectory) spark.read.schema(schema).parquet(s"$path/seg=$seg")
    else spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
  }

  private val manifestLocks =
    scala.collection.concurrent.TrieMap.empty[String, Object]
  private def manifestLock(path: String): Object =
    manifestLocks.getOrElseUpdate(path, new Object)

  /** Advance the cached literal map for a committed local append. Applied
    * only when the cached fingerprint equals the pre-append state (the
    * caller holds [[manifestLock]], so no same-JVM appender can slip a
    * manifest change between the capture and this update) AND the
    * post-append fingerprint differs from the pre state by EXACTLY this
    * append's manifest file and commit marker — a cross-process append
    * (or prune) landing in the commit→fingerprint window would otherwise
    * be absorbed into the stored fingerprint while the map lacks its
    * entries, serving that process's documents from their old segments.
    * Any unexplained delta drops the entry so the next read re-collects
    * — never wrong, just slower. */
  private def manifestCacheApply(
      path: String, preFp: String, ownFile: String, ids: Seq[String], seg: Int): Unit =
    manifestCache.get(path) match {
      case Some((`preFp`, m)) =>
        val postFp = manifestFingerprint(path)
        // reconstruct what the post fingerprint SHOULD be if this append
        // was the only change: preFp with our file spliced into the
        // sorted name order and our seg added to the committed set
        val expected = expectedPostFingerprint(path, preFp, ownFile, seg)
        if (expected.contains(postFp)) {
          val m2 = new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Integer](m)
          ids.distinct.foreach { id =>
            val k = org.apache.spark.unsafe.types.UTF8String.fromString(id)
            val prev = m2.get(k)
            if (prev == null || prev.intValue() < seg) m2.put(k, Integer.valueOf(seg))
          }
          manifestCache.put(path, (postFp, m2))
        } else manifestCache.remove(path)
        ()
      case Some(_) =>
        manifestCache.remove(path)
        ()
      case None =>
    }

  /** The fingerprint this JVM's append alone would produce from `preFp`:
    * the own manifest file's entry inserted in sorted-name order and the
    * new seg in the committed list. None when the file is unlistable
    * (caller then invalidates). */
  private def expectedPostFingerprint(
      path: String, preFp: String, ownFile: String, seg: Int): Option[String] = {
    val f = new java.io.File(manifestPath(path), ownFile)
    if (!f.isFile) return None
    val entry = s"$ownFile:${f.length}:${f.lastModified}"
    val Array(filesPart, committedPart) = {
      val i = preFp.lastIndexOf('#')
      Array(preFp.substring(0, i), preFp.substring(i + 1))
    }
    val files = (if (filesPart.isEmpty) Seq(entry)
      else (filesPart.split("\\|").toSeq :+ entry).sortBy(_.takeWhile(_ != ':')))
      .mkString("|")
    val committed =
      if (committedPart == "ALL") "ALL" // pre-marker layout: commitSeg created the dir…
      else (committedPart.split(",").filter(_.nonEmpty).map(_.toInt).toSeq :+ seg)
        .distinct.sorted.mkString(",")
    Some(files + "#" + committed)
  }

  /** Driver-side manifest append for a batch whose ids are already on the
    * driver: one parquet file written via parquet-hadoop directly — no
    * Spark job — staged as a hidden sibling and renamed in, same publish
    * contract as [[appendManifest]]. Readers cannot tell the two writers
    * apart (same (docCol UTF8, seg int32) schema). Returns the published
    * file name (the cache-advance check keys on it). */
  private def appendManifestLocal(
      path: String, ids: Seq[String], docCol: String, seg: Int): String = {
    val mdir = new java.io.File(manifestPath(path))
    mdir.mkdirs()
    val name = s"part-local-$seg-${java.util.UUID.randomUUID()}.parquet"
    val stage = new java.io.File(mdir.getParentFile, s"_mstage-$name")
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      s"message manifest { required binary $docCol (UTF8); required int32 seg; }")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.parquet.io.LocalOutputFile(stage.toPath))
      .withType(schema)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    val factory = new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
    try ids.distinct.foreach { id =>
      val g = factory.newGroup()
      g.add(docCol, id)
      g.add("seg", seg)
      writer.write(g)
    } finally writer.close()
    if (!stage.renameTo(new java.io.File(mdir, name)))
      throw new java.io.IOException(
        s"could not publish manifest rows for segment $seg under $path")
    name
  }

  /** Writers need java.io-visible homes (plain local or file: paths): the
    * marker protocol, stage renames, and publish swaps have no remote
    * implementation — failing loudly beats the silent no-op publish a
    * scheme'd path would hit. Remote deployments sit this layout on a
    * transactional table format (see the class doc); [[resolve]] still
    * READS remote homes Spark-side. */
  private[graft] def requireLocalWrites(path: String, op: String): Unit =
    require(isLocal(path),
      s"DeltaTable.$op writes need a local filesystem home, got: $path " +
        "(remote stores should use a transactional table format)")

  /** Staged row count straight from the parquet footers — no Spark job.
    * ZERO staged files is not a 0-row batch: even an empty Spark write
    * leaves one (empty) part file, so an unlistable stage means the
    * write landed somewhere java.io can't see — treating that as "no
    * rows" would publish manifest entries that silently wipe the batch's
    * documents. Throw instead (same contract as appendManifest). */
  private def stageRowCount(stage: String): Long = {
    val conf = new org.apache.hadoop.conf.Configuration()
    val files = Option(new java.io.File(ioPath(stage)).listFiles())
      .getOrElse(Array.empty).filter(_.getName.endsWith(".parquet"))
    if (files.isEmpty)
      throw new java.io.IOException(s"no staged data files under $stage")
    files.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** Manifest rows land by staging one parquet file per writer and moving
    * it into `_manifest/` — part filenames carry a job UUID, so movers
    * never collide, where a SaveMode.Append from two writers would race
    * on the shared `_temporary` dir. */
  private def appendManifest(path: String, docIds: DataFrame, docCol: String, seg: Int): Unit = {
    val stage = s"${manifestPath(path)}_stage$seg"
    docIds.select(col(docCol).cast("string").as(docCol), lit(seg).as("seg"))
      .distinct().coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(stage)
    val mdir = new java.io.File(manifestPath(path))
    mdir.mkdirs()
    val staged = Option(new java.io.File(stage).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet"))
    // a 0-row manifest batch still writes exactly one (empty) part file —
    // zero staged files means the write landed somewhere we can't see,
    // and committing without manifest rows would silently no-op the
    // tombstone/supersession this segment exists to record
    if (staged.isEmpty)
      throw new java.io.IOException(s"no staged manifest files for segment $seg under $path")
    staged.foreach { f =>
      if (!f.renameTo(new java.io.File(mdir, f.getName)))
        throw new java.io.IOException(s"could not publish manifest rows for segment $seg")
    }
    deleteRec(new java.io.File(stage))
  }

  // ---------------------------------------------------------------------
  // Segment protocol for EXTERNAL segmented homes (the ANN index stores).
  //
  // HnswIndex/IvfIndex keep their own layouts (base under `data/`, delta
  // segments under `delta/seg=N`, manifest under `_manifest`) but their
  // appends need exactly the hardening this table implements: write-ahead
  // segment allocation (concurrent writers get distinct numbers, crashed
  // numbers burn), stage-then-rename publication (two appenders under
  // SaveMode.Append clobber the shared `_temporary` dir — proved by the
  // round-9 probe), and commit markers written last (a crash mid-append
  // leaves an invisible segment, never a half-applied one). Exposing the
  // primitives here keeps one copy of the crash-window reasoning.
  // ---------------------------------------------------------------------

  /** Write-ahead segment allocation for an external home. `minSeg` lets
    * index homes reserve low numbers (IvfIndex's base rows read as seg 0,
    * so its deltas start at 1); `segParent` is where the home's seg dirs
    * actually live (IvfIndex keeps them under `delta/`), consulted so a
    * pre-marker layout's existing segments are never re-allocated. */
  private[graft] def allocSegment(
      home: String, minSeg: Int = 0, segParent: String = ""): Int = {
    requireLocalWrites(home, "allocSegment")
    val d = new java.io.File(commitsPath(home))
    d.mkdirs()
    val existing = maxSeg(if (segParent.nonEmpty) segParent else home)
    var seg = math.max(math.max(existing, markerMax(home)) + 1, minSeg)
    while (!new java.io.File(d, s"alloc-$seg").createNewFile()) seg += 1
    seg
  }

  /** Stage `df` under a hidden sibling of `segParent` and rename it into
    * place as `segParent/seg=N`. Returns false (publishing nothing) for a
    * 0-row batch — the caller's manifest entries are how a document
    * shrinks to zero rows. Partitioned stages (IVF's cluster_id dirs) are
    * judged empty by their recursive footer count. */
  private[graft] def stagePublishSegment(
      df: DataFrame, segParent: String, seg: Int,
      partitionCols: Seq[String] = Nil): Boolean = {
    requireLocalWrites(segParent, "stagePublishSegment")
    val stage = s"$segParent/_stage-seg$seg"
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(stage)
    val rows = stageRowCountRec(stage, tolerateEmpty = partitionCols.nonEmpty)
    if (rows == 0L) { deleteRec(new java.io.File(ioPath(stage))); false }
    else {
      new java.io.File(ioPath(segParent)).mkdirs()
      if (!new java.io.File(ioPath(stage)).renameTo(
          new java.io.File(s"${ioPath(segParent)}/seg=$seg")))
        throw new java.io.IOException(
          s"could not publish segment $seg under $segParent")
      true
    }
  }

  /** Manifest append for an external home (same stage-and-move protocol as
    * [[appendManifest]]; driver-known ids take the job-free local writer). */
  private[graft] def appendManifestFor(
      home: String, docIds: DataFrame, docCol: String, seg: Int,
      knownIds: Option[Seq[String]] = None): Unit = {
    requireLocalWrites(home, "appendManifestFor")
    knownIds match {
      case Some(ids) if ids.nonEmpty => appendManifestLocal(home, ids, docCol, seg)
      case _ => appendManifest(home, docIds, docCol, seg)
    }
  }

  /** Commit marker — the last step of an external append. */
  private[graft] def commitSegment(home: String, seg: Int): Unit =
    commitSeg(home, seg)

  /** Committed segments of an external home; None = pre-marker layout
    * (every segment counts). */
  private[graft] def committedSegments(home: String): Option[Set[Int]] =
    if (!isLocal(home)) None else committedSegs(home)

  /** Recursive footer row count of a staged write. A non-partitioned stage
    * always leaves at least one part file, so zero files means the write
    * landed somewhere java.io can't see (throw, same contract as
    * [[stageRowCount]]); a PARTITIONED 0-row stage legitimately writes no
    * part files at all, which `tolerateEmpty` accepts as 0 rows provided
    * the Spark commit marker (_SUCCESS) proves the job ran here. */
  private def stageRowCountRec(stage: String, tolerateEmpty: Boolean): Long = {
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(files)
      else if (f.getName.endsWith(".parquet")) Seq(f)
      else Nil
    val parts = files(new java.io.File(ioPath(stage)))
    if (parts.isEmpty) {
      if (tolerateEmpty && new java.io.File(ioPath(stage), "_SUCCESS").exists()) 0L
      else throw new java.io.IOException(s"no staged data files under $stage")
    } else {
      val conf = new org.apache.hadoop.conf.Configuration()
      parts.map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum
    }
  }

  // ---------------------------------------------------------------------
  // Concurrent-append LOG sinks. The upsert changelog, search logging
  // tables, and registry appends are append-only logs with INHERENTLY
  // concurrent writers (the reference logs every search inside the query
  // statement, search_query_builder.rs:476-518, and upserts may land from
  // many sessions). Raw SaveMode.Append is unsafe there for the same
  // reason it was unsafe for data segments: two writers share one
  // `_temporary` staging dir and clobber each other (the round-9 probe).
  // These helpers give the logs the same two guarantees the tables got —
  // write-ahead numbering (for the batch-partitioned changelog) and
  // stage-then-rename publication (atomic visibility, no shared staging).
  //
  // The changelog adds an ORDERING contract the other sinks don't need:
  // consumers advance a watermark, so a later-numbered batch publishing
  // BEFORE an earlier in-flight one must not let the watermark skip the
  // straggler. [[settledLogBatch]] is the consumer-side bound: the largest
  // batch below which no allocated batch is still unaccounted for. A
  // writer that fails burns its number (burn marker, try/catch in
  // [[publishLogBatch]]); a writer that dies without burning (JVM kill)
  // stalls the watermark only until its alloc marker ages past
  // [[logAllocGraceMs]].
  // ---------------------------------------------------------------------

  /** Grace period before an allocated-but-unpublished log batch is
    * presumed crashed and stops blocking [[settledLogBatch]]. Var so
    * concurrency specs can compress the window. */
  private[graft] var logAllocGraceMs: Long = 10L * 60L * 1000L

  private def logBatchDirs(path: String): Seq[Long] =
    Option(new java.io.File(ioPath(path)).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .map(_.getName.stripPrefix("batch=").toLong).toSeq

  private def logMarkers(path: String, prefix: String): Map[Long, Long] =
    Option(new java.io.File(commitsPath(path)).listFiles())
      .getOrElse(Array.empty)
      .flatMap { f =>
        val n = f.getName
        if (n.startsWith(prefix)) Some(n.stripPrefix(prefix).toLong -> f.lastModified())
        else None
      }.toMap

  /** Write-ahead batch allocation for a `batch=N`-partitioned log: the
    * `alloc-N` marker lands (atomically, createNewFile) before any data,
    * so concurrent writers get distinct numbers and a crashed writer's
    * number burns instead of being re-issued — the read-then-append
    * `max+1` it replaces could hand two upserts the same batch. */
  private[graft] def allocLogBatch(path: String): Long = {
    requireLocalWrites(path, "allocLogBatch")
    val d = new java.io.File(commitsPath(path))
    d.mkdirs()
    val floor = (logBatchDirs(path) ++ logMarkers(path, "alloc-").keys)
      .foldLeft(-1L)(math.max)
    var b = floor + 1
    while (!new java.io.File(d, s"alloc-$b").createNewFile()) b += 1
    b
  }

  /** Publish `df` as `path/batch=N`: stage under a hidden sibling (each
    * writer its own dir — no shared `_temporary`), rename into place
    * (atomic visibility: readers see the whole batch or none of it). On
    * failure the batch number is burned so consumers don't wait out the
    * grace period for it. The on-disk layout is identical to what
    * `partitionBy("batch")` wrote — files carry the data columns only,
    * `batch` comes from the dir name via partition discovery.
    *
    * SLOW-BUT-ALIVE writer guard: a publish whose Spark write outlives
    * half of [[logAllocGraceMs]] must NOT land under its original number
    * — a consumer past the full grace window has presumed that number
    * dead and advanced its watermark over it, so the late batch would sit
    * below every watermark forever (silently lost rows). The staging
    * write is the slow part; once it finishes, the writer checks its own
    * alloc marker's age and, past the half-grace margin, burns the stale
    * number and renames the already-staged data under a FRESH allocation
    * (whose marker is seconds old — no consumer can have advanced past
    * it). The half-grace margin is what makes the race-free argument:
    * consumers skip only after the FULL grace, writers re-alloc at half,
    * and the remaining check-to-rename window is a local syscall, not a
    * Spark job. Returns the batch number the data actually landed under. */
  private[graft] def publishLogBatch(df: DataFrame, path: String, batch: Long): Long =
    publishLogBatchWith(path, batch)(stage =>
      df.write.mode(SaveMode.Overwrite).parquet(stage))

  /** [[publishLogBatch]] for a driver-held (source_uuid, document) batch:
    * the batch file writes driver-side — zero Spark jobs — under the
    * identical alloc/burn/rename commit protocol. */
  private[graft] def publishLogBatchLocal(
      rows: Seq[(String, String)], path: String, batch: Long): Long =
    publishLogBatchWith(path, batch) { stage =>
      val dir = new java.io.File(ioPath(stage))
      dir.mkdirs()
      writeParquetLocal(new java.io.File(dir, "part-local-0.parquet"),
        Seq("source_uuid" -> "string", "document" -> "string"),
        rows.map { case (u, d) => Seq(u, d) })
    }

  private def publishLogBatchWith(path: String, batch: Long)(
      write: String => Unit): Long = {
    requireLocalWrites(path, "publishLogBatch")
    val stage = s"$path/_stage-batch$batch"
    // tracks the number the data is currently HEADED FOR: after a
    // slow-writer re-allocation this is the FRESH number, whose pending
    // alloc marker would otherwise hold settledLogBatch (and every
    // consumer watermark) back for the full grace window if the final
    // rename failed — the catch must burn the current target, not just
    // the original batch
    var target = batch
    try {
      write(stage)
      val alloc = new java.io.File(commitsPath(path), s"alloc-$batch")
      val staleAlloc = !alloc.exists() ||
        System.currentTimeMillis() - alloc.lastModified() > logAllocGraceMs / 2
      if (staleAlloc) {
        new java.io.File(commitsPath(path), s"burn-$batch").createNewFile()
        target = allocLogBatch(path)
      }
      new java.io.File(ioPath(path)).mkdirs()
      if (!new java.io.File(ioPath(stage)).renameTo(
          new java.io.File(s"${ioPath(path)}/batch=$target")))
        throw new java.io.IOException(s"could not publish log batch $target under $path")
      target
    } catch {
      case e: Throwable =>
        new java.io.File(commitsPath(path), s"burn-$target").createNewFile()
        if (target != batch)
          new java.io.File(commitsPath(path), s"burn-$batch").createNewFile()
        deleteRec(new java.io.File(ioPath(stage)))
        throw e
    }
  }

  /** The largest batch number a log CONSUMER may advance its watermark to:
    * every allocated batch at or below it is settled — published, burned,
    * or stale past [[logAllocGraceMs]] (presumed-dead writer). An
    * in-flight lower batch holds the bound back so a later batch that
    * published first is consumed only once the straggler lands (it stays
    * readable above the watermark until then). Pre-protocol logs (batch
    * dirs, no markers) settle at their max published dir. */
  private[graft] def settledLogBatch(path: String): Long = {
    val published = logBatchDirs(path).toSet
    val allocs = logMarkers(path, "alloc-")
    val burned = logMarkers(path, "burn-").keySet
    val top = (published ++ allocs.keys).foldLeft(-1L)(math.max)
    val now = System.currentTimeMillis()
    val pending = allocs.collect {
      case (b, mtime) if !published(b) && !burned(b)
        && now - mtime <= logAllocGraceMs => b
    }
    if (pending.isEmpty) top else pending.min - 1L
  }

  /** Drop a log's bookkeeping markers for pruned batches (numbers at or
    * below `upTo`); numbering stays monotonic off the surviving markers
    * and dirs. Also sweeps `_stage-*` dirs a crashed writer orphaned,
    * once the NEWEST mtime in the whole subtree ages past
    * [[logAllocGraceMs]] — the top dir's own mtime does NOT refresh
    * while Spark lands part files under `_temporary/...`, so judging age
    * from it alone could delete a live bulk writer's stage mid-write. A
    * live writer's deepest files are always younger than the window
    * (once the write finishes, the rename-away is a local syscall), so
    * a subtree quiet for the full window belongs to a dead writer. */
  private[graft] def pruneLogMarkers(path: String, upTo: Long): Unit = {
    val d = new java.io.File(commitsPath(path))
    Option(d.listFiles()).getOrElse(Array.empty).foreach { f =>
      val n = f.getName
      val num = n.split("-") match {
        case Array("alloc" | "burn", v) => v.toLong
        case _ => Long.MaxValue
      }
      if (num <= upTo) f.delete()
    }
    val now = System.currentTimeMillis()
    def newestMtime(f: java.io.File): Long = {
      val own = f.lastModified()
      Option(f.listFiles()).getOrElse(Array.empty)
        .foldLeft(own)((m, c) => math.max(m, newestMtime(c)))
    }
    Option(new java.io.File(ioPath(path)).listFiles()).getOrElse(Array.empty)
      .foreach { f =>
        if (f.isDirectory && f.getName.startsWith("_stage-") &&
            now - newestMtime(f) > logAllocGraceMs)
          deleteRec(f)
      }
  }

  /** [[appendLogFiles]] for a driver-held batch over an arbitrary flat
    * schema (see [[writeParquetLocal]] column kinds): the file stages
    * under an underscore name — readers skip it — and renames in
    * atomically, ZERO Spark jobs. The registry's one-row model/deployment
    * appends were each paying a coalesce(1) job plus its scheduling gap
    * on every train/tune/deploy. */
  private[graft] def appendLogFilesLocal(
      path: String, cols: Seq[(String, String)], rows: Seq[Seq[Any]]): Unit = {
    requireLocalWrites(path, "appendLogFilesLocal")
    val dir = new java.io.File(ioPath(path))
    dir.mkdirs()
    val stage = new java.io.File(dir, s"_stage-${java.util.UUID.randomUUID()}.parquet")
    try {
      writeParquetLocal(stage, cols, rows)
      val dest = new java.io.File(dir, s"part-${java.util.UUID.randomUUID()}-local.parquet")
      if (!stage.renameTo(dest))
        throw new java.io.IOException(
          s"could not publish log file ${dest.getName} under $path")
    } finally if (stage.exists()) stage.delete()
  }

  /** Concurrency-safe append of a DISTRIBUTED frame to an unpartitioned
    * log table: the batch stages under a per-writer hidden dir and its
    * part file renames in; readers listing mid-rename see whole appends
    * only, and UUID part names mean movers never collide. The row-scale
    * producers (registry models/deployments, search logs) all moved to
    * [[appendLogFilesLocal]] — this is the path for a log batch too big
    * to hold on the driver. */
  private[graft] def appendLogFiles(df: DataFrame, path: String): Unit = {
    requireLocalWrites(path, "appendLogFiles")
    val stage = s"$path/_stage-${java.util.UUID.randomUUID()}"
    // finally, not success-only: a failed rename (or write) must not leave
    // the _stage dir as permanent litter — readers ignore underscore
    // dirs, but the garbage would otherwise grow unboundedly across
    // sessions (a crash can still orphan one; pruneLogMarkers sweeps
    // those past the grace window)
    try {
      df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(stage)
      val staged = Option(new java.io.File(ioPath(stage)).listFiles())
        .getOrElse(Array.empty).filter(_.getName.endsWith(".parquet"))
      if (staged.isEmpty)
        throw new java.io.IOException(s"no staged log files under $stage")
      val dir = new java.io.File(ioPath(path))
      dir.mkdirs()
      staged.foreach { f =>
        if (!f.renameTo(new java.io.File(dir, f.getName)))
          throw new java.io.IOException(s"could not publish log file ${f.getName} under $path")
      }
    } finally deleteRec(new java.io.File(ioPath(stage)))
  }

  // ---------------------------------------------------------------------
  // Staged (background) compaction. The O(corpus) half of a segment merge
  // — resolving every live row and rewriting it as one segment, plus
  // rebuilding ANN indexes over it — must not stall the sync micro-batch
  // that happens to trip the merge policy. The protocol:
  //
  //   1. SNAPSHOT (caller holds the home's writer lock; pure listings):
  //      record the names of every segment dir, manifest file, and commit
  //      marker. No append is mid-flight under the lock, so the name sets
  //      cut the home at a segment boundary.
  //   2. BUILD (lock-free): [[readSnapshot]] resolves rows from EXACTLY
  //      the snapshot's committed segments and manifest files — appends
  //      that land meanwhile never leak in — and [[stageBase]] writes the
  //      compacted replacement into a sibling `*_mergestage` dir.
  //   3. PUBLISH (writer lock again; renames only): [[carryLate]] hard-
  //      links everything that appended after the snapshot into the
  //      staged home — late segments keep their (higher) numbers, so the
  //      ordinary manifest rule makes them supersede the compacted seg-0
  //      base — then [[publishStaged]] swaps the staged dir into place.
  //      Links, not moves: the live home stays fully intact up to the one
  //      atomic swap, so a crash mid-carry orphans the staged dir and
  //      loses nothing.
  // ---------------------------------------------------------------------

  /** Name listing of a segmented home at one instant — the carry-over
    * ledger for staged compaction. `segParent` points where the seg dirs
    * live when it is not the home itself (IVF keeps them under `delta/`). */
  private[graft] final case class HomeSnapshot(
      segs: Set[String], manifests: Set[String], markers: Set[String],
      hasCommitsDir: Boolean)

  private[graft] def snapshotNames(home: String, segParent: String = ""): HomeSnapshot = {
    val sp = ioPath(if (segParent.nonEmpty) segParent else home)
    val segs = Option(new java.io.File(sp).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("seg=")).map(_.getName).toSet
    val manifests = Option(new java.io.File(manifestPath(home)).listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    val commits = new java.io.File(commitsPath(home))
    val markers = Option(commits.listFiles()).getOrElse(Array.empty)
      .map(_.getName).toSet
    HomeSnapshot(segs, manifests, markers, commits.isDirectory)
  }

  /** Resolved rows as of `snap`: reads ONLY the snapshot's committed
    * segments and manifest files, so segments appended after the snapshot
    * never half-leak into a staged compaction (carry-over republishes them
    * whole instead). */
  private[graft] def readSnapshot(
      spark: SparkSession, path: String, snap: HomeSnapshot,
      docCol: String = "document_id"): DataFrame = {
    val segNums = snap.segs.map(_.stripPrefix("seg=").toInt)
    val committed =
      if (!snap.hasCommitsDir) segNums // pre-marker layout: all committed
      else segNums.filter(n => snap.markers.contains(s"seg-$n"))
    val raw = spark.read.parquet(path)
      .where(col("seg").isin(committed.toSeq.map(Integer.valueOf): _*))
    val mfiles = snap.manifests.toSeq.sorted.map(n => s"${manifestPath(path)}/$n")
    if (mfiles.isEmpty) raw
    else joinResolve(raw,
      spark.read.parquet(mfiles: _*)
        .where(col("seg").isin(committed.toSeq.map(Integer.valueOf): _*)),
      docCol)
  }

  /** Write `df` as a fresh single-segment committed table at `staged` (a
    * sibling of the live home, same filesystem) without touching the live
    * home — the build half of staged compaction. */
  private[graft] def stageBase(df: DataFrame, staged: String, sortCols: Seq[String] = Nil): Unit = {
    requireLocalWrites(staged, "stageBase")
    val sorted = if (sortCols.nonEmpty) df.sortWithinPartitions(sortCols.map(col): _*) else df
    sorted.withColumn("seg", lit(0))
      .write.mode(SaveMode.Overwrite).partitionBy("seg").parquet(staged)
    commitSeg(staged, 0)
  }

  /** Hard-link into `staged` every segment dir, manifest file, and commit
    * marker that appeared under `home` after `snap` (name-difference).
    * Caller must hold the home's writer lock so no append is in flight. */
  private[graft] def carryLate(
      home: String, staged: String, snap: HomeSnapshot, segSubdir: String = ""): Unit = {
    val liveSegs = if (segSubdir.nonEmpty) s"${ioPath(home)}/$segSubdir" else ioPath(home)
    val stagedSegs = if (segSubdir.nonEmpty) s"${ioPath(staged)}/$segSubdir" else ioPath(staged)
    Option(new java.io.File(liveSegs).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("seg=") && !snap.segs(f.getName))
      .foreach(d => linkTree(d, new java.io.File(stagedSegs, d.getName)))
    Option(new java.io.File(manifestPath(home)).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".parquet") && !snap.manifests(f.getName))
      .foreach(f => linkTree(f, new java.io.File(manifestPath(staged), f.getName)))
    val stagedCommits = new java.io.File(commitsPath(staged))
    Option(new java.io.File(commitsPath(home)).listFiles()).getOrElse(Array.empty)
      .filter(f => !snap.markers(f.getName))
      .foreach { f =>
        stagedCommits.mkdirs()
        new java.io.File(stagedCommits, f.getName).createNewFile()
      }
  }

  /** Swap a staged home into place (cache-coherent twin of the swap inside
    * [[writeBase]]). Caller must hold the home's writer lock. */
  private[graft] def publishStaged(staged: String, home: String): Unit = {
    IndexStore.invalidateSource(home)
    manifestCache.remove(home)
    invalidateSchemas(home)
    swap(staged, home)
  }

  private def linkTree(src: java.io.File, dst: java.io.File): Unit = {
    if (src.isDirectory) {
      dst.mkdirs()
      Option(src.listFiles()).getOrElse(Array.empty)
        .foreach(c => linkTree(c, new java.io.File(dst, c.getName)))
    } else {
      dst.getParentFile.mkdirs()
      java.nio.file.Files.createLink(dst.toPath, src.toPath)
      ()
    }
  }

  /** Tombstone: `docIds`' documents lose all rows (a manifest entry whose
    * segment holds nothing for them). O(batch), no table rewrite — the
    * cascade-delete path. */
  def tombstone(
      spark: SparkSession,
      path: String,
      docIds: DataFrame,
      docCol: String = "document_id"): Unit = {
    IndexStore.invalidateSource(path)
    requireLocalWrites(path, "tombstone")
    val seg = allocSeg(path)
    appendManifest(path, docIds, docCol, seg)
    commitSeg(path, seg)
  }

  // ---------------------------------------------------------------------
  // Schema-cached parquet reads. Every `spark.read.parquet(path)` pays a
  // schema-inference Spark job (parallel footer reads) at plan time; on
  // the sync path that is a handful of sub-100 ms jobs PER MICRO-BATCH
  // against tables whose schemas never change between full rewrites.
  // Supplying the schema skips the job entirely. Cache keyed by path (or
  // an explicit stable key for per-segment dirs); invalidated on the
  // rewrite paths (writeBase / publishStaged) — delta appends share the
  // base's layout by construction.
  private val schemaCache = scala.collection.concurrent.TrieMap
    .empty[String, org.apache.spark.sql.types.StructType]
  private val SchemaCacheMaxPaths = 256

  private[graft] def readParquetCached(
      spark: SparkSession, path: String, schemaKey: String = ""): DataFrame = {
    val key = if (schemaKey.nonEmpty) schemaKey else path
    schemaCache.get(key) match {
      case Some(sc) => spark.read.schema(sc).parquet(path)
      case None =>
        if (sys.env.get("SPARK_GRAFT_TRACE").contains("1"))
          println(s"    [trace] schema-infer $path")
        val df = spark.read.parquet(path)
        if (schemaCache.size >= SchemaCacheMaxPaths)
          schemaCache.keys.headOption.foreach(schemaCache.remove)
        schemaCache.put(key, df.schema)
        df
    }
  }

  private[graft] def invalidateSchemas(path: String): Unit = {
    schemaCache.keys.filter(_.startsWith(path)).foreach(schemaCache.remove)
    ()
  }

  /** Resolved view without internal columns. */
  def read(spark: SparkSession, path: String, docCol: String = "document_id"): DataFrame =
    readWithSeg(spark, path, docCol).drop("seg")

  /** Resolved view keeping the `seg` column (index builders key graph node
    * ids on (doc, chunk, seg) so a re-synced row never aliases its stale
    * predecessor's node). */
  def readWithSeg(spark: SparkSession, path: String, docCol: String = "document_id"): DataFrame = {
    val raw0 = readParquetCached(spark, path)
    // hide uncommitted (crashed mid-append) segments; the filter is on the
    // partition column, so it prunes at planning time and is skipped
    // entirely in the common every-segment-committed state
    val raw = committedSegs(path) match {
      case Some(c) if !segDirs(path).forall(d =>
          c(d.getName.stripPrefix("seg=").toInt)) =>
        raw0.where(col("seg").isin(c.toSeq: _*))
      case _ => raw0
    }
    resolve(spark, raw, path, docCol)
  }

  /** Apply manifest resolution to `raw` (which must carry `seg` and
    * `docCol`). Shared with index homes that co-partition their data by
    * additional columns (IvfIndex) but reuse the same supersession rule.
    * Fast path: no manifest → `raw` unchanged, plans identical to a plain
    * parquet read.
    *
    * The aggregated manifest is bounded by "documents rewritten since the
    * last compaction" — [[forcedByManifest]]'s byte budget compacts past
    * 4 MB, so the steady state fits the LITERAL path: the doc→latest-seg
    * map is collected once per manifest version (cached by file
    * fingerprint) and applied as a map-literal filter, which adds ZERO
    * jobs per read and stays inside whole-stage codegen — where the old
    * broadcast-join shape paid a manifest scan plus a broadcast build per
    * read (dozens of driver-side jobs per micro-batch across the derived
    * tables). A manifest past the literal budget (only reachable between
    * a burst of appends and the compaction that follows) falls back to
    * the broadcast join. Manifest rows of uncommitted segments (a crash
    * between manifest write and marker) are ignored on both paths. */
  def resolve(spark: SparkSession, raw: DataFrame, path: String, docCol: String): DataFrame = {
    if (!isLocal(path)) {
      // non-local home (IvfIndex routes hdfs/s3a delta homes through
      // here): the java.io probes above cannot see the directory, so the
      // manifest is read Spark-side and joined; the commit-marker filter
      // degrades to pre-marker semantics (every segment committed) on
      // such stores — their writers are expected to sit on a
      // transactional table format anyway (see the class doc's
      // Delta/Iceberg migration seam)
      scala.util.Try(spark.read.parquet(manifestPath(path))).toOption match {
        case None => raw
        case Some(manifest) => joinResolve(raw, manifest, docCol)
      }
    } else if (!hasManifest(path)) raw
    else if (manifestBytes(path) <= LiteralManifestMaxBytes) {
      val latest = cachedLatest(spark, path, docCol)
      if (latest.isEmpty) raw
      else {
        // O(1) hash probe per row via a reference-object expression — a
        // map LITERAL here (element_at) would scan its keys linearly per
        // row, turning reads O(rows × manifest entries) near the budget
        val lookup = org.apache.spark.sql.graftbridge.ColumnBridge.column(
          LatestSegLookup(org.apache.spark.sql.graftbridge.ColumnBridge
            .expression(raw(docCol).cast("string")), latest))
        raw.where(coalesce(lookup === col("seg"), lit(true)))
      }
    } else joinResolve(raw, committedManifest(spark, path), docCol)
  }

  private def committedManifest(spark: SparkSession, path: String): DataFrame = {
    val manifest0 = readParquetCached(spark, manifestPath(path))
    committedSegs(path) match {
      case Some(c) => manifest0.where(col("seg").isin(c.toSeq: _*))
      case None => manifest0
    }
  }

  private def joinResolve(raw: DataFrame, manifest: DataFrame, docCol: String): DataFrame = {
    val latest = manifest
      .groupBy(col(docCol)).agg(max(col("seg")).as("__latest"))
    raw.join(broadcast(latest),
        raw(docCol).cast("string") === latest(docCol), "left")
      .where(col("__latest").isNull || col("seg") === col("__latest"))
      .drop(latest(docCol)).drop("__latest")
  }

  private[graft] def isLocal(path: String): Boolean =
    !ioPath(path).contains("://")

  // the forced-compaction budget is 4 MB of manifest files, so this bound
  // makes the literal path the steady state; beyond it (mid-burst) the
  // broadcast join takes over until compaction catches up
  private val LiteralManifestMaxBytes = 4L * 1024 * 1024

  private def manifestBytes(path: String): Long =
    Option(new java.io.File(manifestPath(path)).listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum

  // doc→latest-committed-seg, cached per manifest version. The fingerprint
  // covers manifest file identity AND the committed-marker set, so a crash
  // cleanup or late-landing marker invalidates naturally. Bounded: a
  // writeBase (compaction / full sync) evicts its path, and the whole
  // cache clears past a size cap so deleted tables cannot leak maps for
  // the JVM lifetime.
  private val manifestCache = scala.collection.concurrent.TrieMap
    .empty[String, (String, java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Integer])]
  private val ManifestCacheMaxPaths = 64

  private def manifestFingerprint(path: String): String = {
    val files = Option(new java.io.File(manifestPath(path)).listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}").mkString("|")
    files + "#" + committedSegs(path).map(_.toSeq.sorted.mkString(",")).getOrElse("ALL")
  }

  private def cachedLatest(spark: SparkSession, path: String, docCol: String)
      : java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Integer] = {
    val fp = manifestFingerprint(path)
    manifestCache.get(path) match {
      case Some((`fp`, m)) => m
      case _ =>
        if (sys.env.get("SPARK_GRAFT_TRACE").contains("1"))
          println(s"    [trace] manifest-recollect $path")
        val rows = committedManifest(spark, path)
          .groupBy(col(docCol)).agg(max(col("seg")).as("__latest"))
          .select(col(docCol).cast("string"), col("__latest").cast("int"))
          .collect()
        val m = new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Integer](
          rows.length * 2)
        rows.foreach(r => m.put(
          org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(0)),
          Integer.valueOf(r.getInt(1))))
        // evict ONE entry at the cap, not the whole map: >64 live tables
        // (a few collections × pipelines × 4 derived tables) would
        // otherwise thrash the cache and re-collect every manifest on
        // every read — the per-read driver job this path exists to avoid
        if (manifestCache.size >= ManifestCacheMaxPaths)
          manifestCache.keys.headOption.foreach(manifestCache.remove)
        manifestCache.put(path, (fp, m))
        m
    }
  }

  /** Re-prime the read-path caches a staged publish just invalidated
    * (schema + doc→latest-seg manifest literal map) so the NEXT reader —
    * typically a latency-bound micro-batch sync — finds them warm instead
    * of paying the re-infer + manifest re-collect on its critical path.
    * Advisory: runs on the merge thread after publish; a racing reader
    * that gets there first simply pays the collect itself, as before. */
  private[graft] def warmReadCaches(
      spark: SparkSession, path: String, docCol: String = "document_id"): Unit =
    try if (exists(path)) {
      readParquetCached(spark, path)
      if (hasManifest(path)) { cachedLatest(spark, path, docCol); () }
    } catch { case _: Throwable => () }

  /** The [[compactIfNeeded]] trigger condition alone (pure listings, no
    * job) — for callers that run the compaction itself on a background
    * thread instead of the write path. */
  def compactionDue(path: String, maxSegments: Int = 8): Boolean =
    exists(path) && (segmentCount(path) > maxSegments || forcedByManifest(path))

  /** Rewrite to a single fresh segment when the table has fragmented past
    * `maxSegments`. Returns true when a compaction ran (callers must then
    * rebuild anything keyed on (doc, chunk, seg)). */
  def compactIfNeeded(
      spark: SparkSession,
      path: String,
      docCol: String = "document_id",
      maxSegments: Int = 8,
      sortCols: Seq[String] = Nil): Boolean = {
    if (!exists(path) || (segmentCount(path) <= maxSegments && !forcedByManifest(path)))
      false
    else {
      // Materialize the resolved rows OUTSIDE the live dir before swapping:
      // writeBase's staging write would otherwise read the very files it is
      // replacing mid-job.
      val stage = path + "_compact_stage"
      read(spark, path, docCol).write.mode(SaveMode.Overwrite).parquet(stage)
      writeBase(spark.read.parquet(stage), path, sortCols)
      deleteRec(new java.io.File(ioPath(stage)))
      true
    }
  }

  // a pile of tombstones with few segments still bloats the resolution
  // broadcast; compact when the manifest outgrows a fixed byte budget —
  // judged from file sizes (a pure listing), not a count() job, since this
  // check sits on every upsert/sync
  private def forcedByManifest(path: String): Boolean =
    hasManifest(path) && {
      val files = Option(new java.io.File(manifestPath(path)).listFiles())
        .getOrElse(Array.empty)
      files.filter(_.getName.endsWith(".parquet")).map(_.length).sum > 4L * 1024 * 1024
    }

  /** Flat (non-segmented) write-then-swap publish — the documents table and
    * log sinks share this with the segmented layout's base writes, so the
    * crash-window semantics live in exactly one place. */
  private[graft] def writeSnapshot(df: DataFrame, path: String): Unit = {
    IndexStore.invalidateSource(path)
    requireLocalWrites(path, "writeSnapshot")
    val tmp = path + "_tmp"
    df.write.mode(SaveMode.Overwrite).parquet(tmp)
    swap(tmp, path)
  }

  private[graft] def deleteRecursively(f: java.io.File): Unit = deleteRec(f)

  private def swap(tmp: String, path: String): Unit = {
    val target = new java.io.File(ioPath(path))
    if (target.exists()) {
      val old = new java.io.File(ioPath(path) + "_old")
      deleteRec(old)
      if (!target.renameTo(old))
        throw new java.io.IOException(s"could not retire old table at $path")
    }
    // each rename checked: a silent failure here would report success while
    // the live table stays stale and the staged data orphans (appendDelta's
    // publish already throws; the base/compaction path must too)
    if (!new java.io.File(ioPath(tmp)).renameTo(target))
      throw new java.io.IOException(s"could not publish staged table at $path")
    deleteRec(new java.io.File(ioPath(path) + "_old"))
  }

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRec)
    if (f.exists()) f.delete()
  }
}

/** O(1) doc→latest-segment probe for [[DeltaTable.resolve]]'s literal
  * path: holds the driver-collected manifest map as a codegen reference
  * object and hash-probes it per row. NULL when the document was never
  * rewritten (the resolve filter then keeps the row unconditionally). */
private[store] case class LatestSegLookup(
    child: org.apache.spark.sql.catalyst.expressions.Expression,
    latest: java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Integer])
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}

  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "latest_seg_lookup"
  override def nullSafeEval(v: Any): Any = latest.get(v) // null when absent
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("latestSegMap", latest, "java.util.HashMap")
    // freshName: two instances fused into one codegen class must not
    // collide on the local
    val res = ctx.freshName("latestSeg")
    nullSafeCodeGen(ctx, ev, c => s"""
      Object $res = $ref.get($c);
      if ($res == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ((Integer) $res).intValue(); }""")
  }
  override protected def withNewChildInternal(
      c: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression = copy(child = c)
}
