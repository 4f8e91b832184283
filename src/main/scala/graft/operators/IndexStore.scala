package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Shared persistence plumbing for ANN index homes ([[IvfIndex]],
  * [[HnswIndex]]): Hadoop-FS IO (HDFS/S3A work like local disk),
  * stage-then-rename atomic publish, source-mtime-keyed home resolution,
  * and manifest-based pruning of stale sibling homes.
  */
private[operators] object IndexStore {

  val SourceManifest = "source.path"

  /** One instance per index family (IVF, HNSW, PQ, binary-signature,
    * IVF-PQ): owns the family's on-disk root (`GRAFT_INDEX_DIR/<name>`,
    * default `java.io.tmpdir/graft-<name>`), resolves mtime-keyed homes,
    * runs the session cache with serve-time manifest publish/prune, and
    * releases cached executor state on invalidation. The five families
    * previously hand-rolled copies of exactly this layer — and both
    * round-10 latent bugs (the cross-param sibling prune and the
    * unknown-metric fallthrough) lived in those duplicated copies, so the
    * resolution/prune/cache contract now exists ONCE.
    *
    * `release` runs when a cached entry is dropped (unpersist cached
    * frames so a rewritten source never serves evicted blocks against
    * swapped parquet). */
  final class Family[T](name: String, formatVersion: Int)(
      release: T => Unit) {
    // home → (listing fingerprint, served index); mtime-keyed homes carry
    // fingerprint 0 — their key already changes with the source
    private val cache = scala.collection.concurrent.TrieMap.empty[String, (Long, T)]
    private val loadLocks = scala.collection.concurrent.TrieMap.empty[String, Object]
    // home → source, recorded at serve time so writers can invalidate by
    // SOURCE path: homes are mtime-hashed, so a writer holding only the
    // table path could otherwise never name the cache key it must drop
    private val sourceOf = scala.collection.concurrent.TrieMap.empty[String, String]

    def root: String = sys.env.get("GRAFT_INDEX_DIR").map(_ + s"/$name")
      .getOrElse(s"${sys.props("java.io.tmpdir")}/graft-$name")

    /** Where the persisted home for (source, params) lives: keyed by the
      * source path, its latest mtime, the build params, and the family's
      * format version — regenerated source data or changed build params
      * resolve to a fresh home, so a stale or differently-built index is
      * never served. */
    def homeFor(spark: SparkSession, sourcePath: String, params: String): String = {
      val mtime = mtimeOf(spark, sourcePath)
      val p = if (params.isEmpty) "" else s"@$params"
      val key = java.lang.Long.toHexString(graft.functions.TextKernels.fnv1a64(
        s"$sourcePath@$mtime$p@v$formatVersion"))
      s"$root/$key"
    }

    /** The serve shape every family shares: session-cache hit on the
      * resolved home, else `loadOrBuild` + manifest publish (which prunes
      * stale-mtime sibling homes of the same source). The cache key IS the
      * resolved home, so a mid-session source rewrite resolves to a new
      * home and therefore a fresh entry — never stale data. */
    def serve(spark: SparkSession, home: String, sourcePath: String)(
        loadOrBuild: => T): T = {
      sourceOf.put(home, sourcePath)
      cache.getOrElseUpdate(home, {
        val t = loadOrBuild
        publishManifestAndPrune(spark, home, sourcePath)
        (0L, t)
      })._2
    }

    /** Serve a FIXED home: one path its writers rebuild and append to in
      * place (a Collection field's index), so the path alone cannot tell
      * a fresh build from a stale one. The entry stays resident across
      * calls and is checked against the home's [[listingFingerprint]] on
      * every serve: in-process writers drop it themselves (delete and
      * segment appends invalidate the home), and a rewrite this JVM did
      * not make changes the listing, so the next serve reloads. Concurrent
      * misses on one home load it once. */
    def serveFixed(home: String)(loadOrBuild: => T): T = {
      val fp = listingFingerprint(home)
      cache.get(home) match {
        case Some((`fp`, t)) => t
        case _ => loadLocks.getOrElseUpdate(home, new Object).synchronized {
          cache.get(home) match {
            case Some((`fp`, t)) => t
            case stale =>
              if (stale.isDefined) invalidate(home)
              val t = loadOrBuild
              cache.put(home, (fp, t))
              t
          }
        }
      }
    }

    def invalidate(home: String): Unit = cache.remove(home).foreach(e => release(e._2))

    /** Drop every cached home served for `sourcePath` (writers hold the
      * table path, not the mtime-hashed home). Returns the homes dropped so
      * callers can clear their own per-home side caches (executor graphs,
      * driver-local postings). */
    def invalidateSource(sourcePath: String): Seq[String] = {
      val homes = sourceOf.collect {
        case (h, s) if s == sourcePath => h
      }.toSeq
      homes.foreach { h => sourceOf.remove(h); invalidate(h) }
      homes
    }

    def invalidateAll(): Unit = { sourceOf.clear(); cache.keys.foreach(invalidate) }
  }

  /** Build-if-absent under the atomic-publish protocol: `sidecarName`'s
    * presence under `home` marks a completed build; absent → run `stage`
    * into a hidden temp sibling and rename-publish (a loser of a
    * concurrent build race discards its staging dir and reads the
    * winner's output). Returns the home's filesystem for follow-up
    * sidecar reads. */
  def ensureBuilt(spark: SparkSession, home: String, sidecarName: String)(
      stage: (FileSystem, Path) => Unit): FileSystem = {
    val fs = fsFor(spark, home)
    val target = fs.makeQualified(new Path(home))
    if (!fs.exists(new Path(target, sidecarName)))
      publishAtomic(fs, target)(tmp => stage(fs, tmp))
    fs
  }

  /** Read a home's sidecar (post-[[ensureBuilt]] — the build marker is the
    * sidecar itself, so this never races a partial publish). */
  def readSidecar(fs: FileSystem, home: String, sidecarName: String): String =
    readString(fs, new Path(fs.makeQualified(new Path(home)), sidecarName))

  /** The loud mismatched-metric refusal every metric-parameterized family
    * owes its callers (pgvector will not serve a vector_l2_ops plan from a
    * vector_cosine_ops index either). */
  def requireServedMetric(
      family: String, home: String, stored: String, requested: String): Unit =
    require(stored == requested,
      s"$family home at $home was built with metric '$stored', " +
        s"refusing to serve '$requested' — delete the home or query with its metric")

  def fsFor(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  def writeString(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  def readString(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
      java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Stage index contents under a hidden temp sibling (via `stage`), then
    * publish with one rename: concurrent savers race on the rename and
    * exactly one wins; losers discard their staging dir and read the
    * winner's output. */
  def publishAtomic(fs: FileSystem, target: Path)(stage: Path => Unit): Unit = {
    val tmp = new Path(target.getParent,
      s".${target.getName}.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    stage(tmp)
    fs.mkdirs(target.getParent)
    if (!fs.rename(tmp, target)) fs.delete(tmp, true) // lost the race: winner serves
    else {
      // HDFS-semantics filesystems rename INTO an existing target directory
      // and return true — the "loser deletes its staging dir" handling above
      // only fires on local FS. Detect the nested stray and drop it.
      val nested = new Path(target, tmp.getName)
      if (fs.exists(nested)) fs.delete(nested, true)
    }
  }

  /** Delta segments of an index home that are both present under
    * `home/delta` and committed per the home's `_commits` markers
    * ([[graft.store.DeltaTable]]'s protocol). A delta dir with seg dirs but
    * no markers is a pre-marker layout: all count. Crashed (unmarked)
    * appends stay invisible until their retry lands a fresh segment. */
  def committedDeltaSegs(spark: SparkSession, home: String): Seq[Int] = {
    val fs = fsFor(spark, home)
    val deltaDir = new Path(s"$home/delta")
    if (!fs.exists(deltaDir)) Nil
    else {
      val present = fs.listStatus(deltaDir).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("seg="))
        .map(_.getPath.getName.stripPrefix("seg=").toInt)
      graft.store.DeltaTable.committedSegments(home) match {
        case Some(c) => present.filter(c)
        case None => present
      }
    }
  }

  /** A java.io fingerprint of a local index home: (relative path, length,
    * mtime) of every file under its `data/`, `delta/` and `_commits/`
    * trees — what any build, segment append or commit changes. A
    * non-local home (hdfs://, s3a://) fingerprints as a constant; its
    * writers' invalidation is then the only freshness signal. */
  def listingFingerprint(home: String): Long = {
    val local =
      if (home.startsWith("file:")) "/" + home.stripPrefix("file:").dropWhile(_ == '/')
      else if (home.contains("://")) return 0L
      else home
    val sb = new StringBuilder
    def walk(f: java.io.File, rel: String): Unit =
      Option(f.listFiles()).getOrElse(Array.empty).sortBy(_.getName).foreach { k =>
        val r = s"$rel/${k.getName}"
        if (k.isDirectory) walk(k, r)
        else sb.append(r).append(':').append(k.length).append(':')
          .append(k.lastModified).append('|')
      }
    Seq("data", "delta", "_commits").foreach(d => walk(new java.io.File(local, d), d))
    graft.functions.TextKernels.fnv1a64(sb.toString)
  }

  /** Latest modification time under `path` (a file or one-level directory) —
    * the freshness component of a persisted home's key. */
  def mtimeOf(spark: SparkSession, path: String): Long = {
    val fs = fsFor(spark, path)
    val p = new Path(path)
    if (!fs.exists(p)) 0L
    else {
      val st = fs.getFileStatus(p)
      if (st.isDirectory)
        fs.listStatus(p).map(_.getModificationTime)
          .foldLeft(st.getModificationTime)(math.max)
      else st.getModificationTime
    }
  }

  /** Record which source (at which mtime) a home serves, and prune
    * sibling homes of the SAME source at a DIFFERENT mtime — those are
    * stale builds over rewritten data. Siblings at the SAME mtime are
    * legitimate parameter variants (another metric, by_residual, m, …)
    * of one live source and MUST survive: pruning them mid-session
    * leaves cached frames pointing at deleted parquet. (Manifests written
    * before the mtime line read as bare paths and prune once — they
    * rebuild on next access.) */
  def publishManifestAndPrune(
      spark: SparkSession, home: String, sourcePath: String): Unit = {
    val fs = fsFor(spark, home)
    val homeP = fs.makeQualified(new Path(home))
    val manifest = new Path(homeP, SourceManifest)
    val content = s"$sourcePath\n${mtimeOf(spark, sourcePath)}"
    // refresh on CONTENT MISMATCH, not just absence: a pre-upgrade home
    // carries a bare-path manifest, and leaving it in place would let the
    // next sibling publish prune this LIVE home (the exact mid-session
    // deletion this function guards against). The home is mtime-keyed, so
    // reaching here means it serves the current source — stamping the
    // current mtime is always correct.
    if (!fs.exists(manifest) || readString(fs, manifest) != content)
      writeString(fs, manifest, content)
    val root = homeP.getParent
    if (fs.exists(root)) fs.listStatus(root).foreach { sib =>
      if (sib.isDirectory && sib.getPath != homeP) {
        val m = new Path(sib.getPath, SourceManifest)
        if (fs.exists(m)) {
          val mc = readString(fs, m)
          if (mc.linesIterator.nextOption().contains(sourcePath) && mc != content)
            fs.delete(sib.getPath, true)
        }
      }
    }
  }
}
