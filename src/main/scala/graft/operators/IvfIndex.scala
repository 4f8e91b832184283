package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VecFunctions._

/** IVF (inverted-file) approximate nearest neighbour index — the engine's
  * counterpart of the reference's HNSW index (pgvector, pipeline.rs:526-543)
  * re-thought for a distributed column store (SURVEY.md §4.2: HNSW's
  * pointer-chasing graph doesn't fit executors; IVF partition pruning
  * does).
  *
  * Build: KMeans over a driver-side sample → `nlist` centroids; every
  * vector is assigned to its `nassign` nearest centroids (spill
  * assignment) and the table is repartitioned by `cluster_id` (persisted:
  * cluster_id-partitioned parquet → partition pruning serves queries).
  *
  * Query: rank centroids against the query vector on the driver (nlist is
  * small), scan only the `nprobe` closest clusters — a `cluster_id IN (…)`
  * predicate that prunes partitions — then exact cosine top-k inside them.
  * Recall follows the IVF literature: nprobe/nlist trades recall for a
  * ~nlist/nprobe scan reduction.
  */
class IvfIndex private[operators] (
    val data: DataFrame, // (…idCols, vecCol, cluster_id) partitioned by cluster_id
    val centroids: Array[Array[Float]],
    vecCol: String,
    val metric: String = IvfIndex.MetricCosine) extends Serializable {

  /** Persist as a cluster_id-partitioned parquet table + centroid sidecar —
    * the build-once analogue of the reference's persisted HNSW index
    * (pipeline.rs:526-543). Probes against the loaded index prune
    * cluster_id=… directories at the parquet-scan level, so a query reads
    * ~nprobe/nlist of the files across sessions with no rebuild.
    *
    * All IO goes through the Hadoop FileSystem resolved from `path`, so a
    * non-local warehouse (HDFS/S3A) works the same as local disk. The
    * write is staged under a temp sibling and published with one rename:
    * concurrent savers race on the rename and exactly one wins; losers
    * discard their staging dir and read the winner's output.
    */
  def save(path: String): Unit = {
    val spark = data.sparkSession
    val fs = IndexStore.fsFor(spark, path)
    val target = fs.makeQualified(new Path(path))
    IndexStore.publishAtomic(fs, target) { tmp =>
      data.write.mode(SaveMode.Overwrite)
        .partitionBy("cluster_id").parquet(new Path(tmp, "data").toString)
      val arr = centroids.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
      IndexStore.writeString(fs, new Path(tmp, IvfIndex.Sidecar),
        s"""{"metric":"$metric","centroids":$arr}""")
    }
  }

  /** Exact top-k within the nprobe nearest clusters. The `score` column is
    * "higher is closer" under every metric: cosine similarity, NEGATED L2
    * distance, raw inner product — so downstream fusion/limit logic is
    * metric-agnostic. */
  def search(query: Array[Float], k: Int, nprobe: Int, idCols: Seq[String]): DataFrame = {
    // rank centroids on the driver with the index's own metric (nlist is
    // small); probing with a different metric than the one that assigned
    // vectors to clusters would tank recall silently
    val ranked = IvfIndex.rankCentroids(centroids, query, metric, nprobe)

    data
      .where(col("cluster_id").isin(ranked: _*))
      .select(idCols.map(col) :+
        (IvfIndex.scoreExpr(metric, col(vecCol), query) as "score"): _*)
      // spill assignment stores each vector in nassign clusters; copies
      // carry identical scores, so any-one-wins dedup is exact
      .dropDuplicates(idCols)
      .orderBy(col("score").desc, col(idCols.head))
      .limit(k)
  }

  /** Driver-local serving tier (the IVF counterpart of
    * [[HnswIndex.searchLocal]]): the cluster→postings map collects
    * IN-PROCESS once, then every probe is pure driver compute — rank
    * centroids, scan the nprobe posting lists with the
    * [[graft.functions.VectorKernels]] Array[Float] twins of the codegen
    * scan kernels, dedup spill copies, top-k. Zero Spark jobs after the
    * first call, and results are identical to [[search]] (same probe
    * selection, same scoring arithmetic, same (score desc, id asc)
    * order — IvfSpec pins the equality). Residency: the postings hold
    * the probed corpus's vectors in driver memory — the "fits one
    * machine" tier, exactly like the HNSW graph cache; the distributed
    * [[search]] path remains the scale tier. */
  // per-cluster posting blobs: (ids, vectors as ONE flat n·dim float[]) —
  // 15M spill rows as individual Array[Float]s cost ~1.5 GB of object
  // headers and a pointer chase per scanned row at sf100; the flat blob
  // scans with stride (VectorKernels strided twins, bit-identical scores)
  @transient private lazy val localPostingsCache =
    scala.collection.concurrent.TrieMap.empty[String, (Int, Map[Int, (Array[Long], Array[Float])])]

  // residency-key base: a process-unique instance number, NOT
  // System.identityHashCode — identity hashes collide between live
  // instances, and a collision lets one index's register/release evict
  // or replace ANOTHER's accounting entry (ADVICE r17)
  @transient private lazy val resInstance: Long =
    IvfIndex.resInstanceCounter.incrementAndGet()
  private def resKeyFor(idCol: String): String = s"ivf-$resInstance/$idCol"

  def searchLocal(query: Array[Float], k: Int, nprobe: Int,
      idCol: String): Seq[(Long, Double)] = {
    val resKey = resKeyFor(idCol)
    if (localPostingsCache.contains(idCol)) LocalResidency.touch("ivf", resKey)
    val (dim, postings) = localPostingsCache.getOrElseUpdate(idCol, {
      val spark = data.sparkSession
      import spark.implicits._
      val rows = data
        .select(col(idCol).cast("long"), col(vecCol), col("cluster_id").cast("int"))
        .as[(Long, Array[Float], Int)].collect()
      val d = if (rows.isEmpty) query.length else rows(0)._2.length
      // cluster ids are centroid indices — two array passes: size each
      // cluster, then fill its (ids, flat) pair in collect order
      val k = centroids.length
      val counts = new Array[Int](k)
      rows.foreach(r => counts(r._3) += 1)
      val idArr = Array.tabulate(k)(c => new Array[Long](counts(c)))
      val flatArr = Array.tabulate(k)(c => new Array[Float](
        VectorSearch.flatFloats(counts(c), d, s"IVF local postings (cluster $c)")))
      val fill = new Array[Int](k)
      rows.foreach { case (id, v, c) =>
        val i = fill(c); fill(c) += 1
        idArr(c)(i) = id
        System.arraycopy(v, 0, flatArr(c), i * d, d)
      }
      val built = (d, (0 until k).filter(counts(_) > 0)
        .map(c => c -> (idArr(c), flatArr(c))).toMap)
      LocalResidency.register("ivf", resKey,
        built._2.valuesIterator
          .map { case (is, fl) => 8L * is.length + 4L * fl.length }.sum)(
        () => { localPostingsCache.remove(idCol); () })
      built
    })
    val ranked = IvfIndex.rankCentroids(centroids, query, metric, nprobe)
    import graft.functions.VectorKernels
    val scoreAt: (Array[Float], Int) => Double = metric match {
      case IvfIndex.MetricL2 => (f, o) => -VectorKernels.distL2FS(f, o, query)
      case IvfIndex.MetricIp => (f, o) => VectorKernels.dotFS(f, o, query)
      case _ => (f, o) => VectorKernels.cosineFS(f, o, query)
    }
    // spill copies carry identical scores — first occurrence wins (exact);
    // primitive accumulator + bounded selection, not a boxed map + full
    // sort: the probed posting lists hold ~nprobe/nlist of the corpus ×
    // nassign rows (sf100: ~650k per probe)
    val expected = ranked.iterator
      .map(c => postings.get(c).map(_._1.length).getOrElse(0)).sum
    val seen = new VectorSearch.LongDoubleAcc(expected)
    ranked.foreach { c =>
      postings.get(c).foreach { case (ids, flat) =>
        var j = 0
        while (j < ids.length) {
          seen.putIfAbsent(ids(j), scoreAt(flat, j * dim))
          j += 1
        }
      }
    }
    seen.topHits(k).toSeq
  }

  // prepared probe plumbing for [[serveDistributed]] (the IVF twin of
  // [[HnswIndex.serveDistributed]]'s): the postings re-keyed so RDD
  // partition index == cluster id, flattened to one (ids, flat vectors,
  // dim) blob per cluster, persisted deserialized. A query then runs a
  // PartitionPruningRDD job over exactly the nprobe ranked partitions —
  // the scheduler never even creates tasks for the other nlist−nprobe
  // clusters, which is the partition-pruning serving contract of the
  // persisted parquet layout with zero per-query Catalyst work. Keyed by
  // idCol like the local postings cache; released with the instance.
  @transient private lazy val probeRddCache =
    scala.collection.concurrent.TrieMap.empty[
      String, org.apache.spark.rdd.RDD[(Array[Long], Array[Float], Int)]]

  private def probeRdd(idCol: String)
      : org.apache.spark.rdd.RDD[(Array[Long], Array[Float], Int)] =
    probeRddCache.getOrElseUpdate(idCol, {
      val spark = data.sparkSession
      import spark.implicits._
      val n = centroids.length
      val rdd = data
        .select(col(idCol).cast("long"), col(vecCol), col("cluster_id").cast("int"))
        .as[(Long, Array[Float], Int)].rdd
        .map { case (id, v, c) => (c, (id, v)) }
        .partitionBy(new IvfIndex.ClusterPartitioner(n))
        .mapPartitions({ it =>
          val rows = it.toArray
          if (rows.isEmpty) Iterator.empty
          else {
            val d = rows(0)._2._2.length
            val ids = new Array[Long](rows.length)
            val flat = new Array[Float](
              VectorSearch.flatFloats(rows.length, d, "IVF prepared cluster blob"))
            var i = 0
            while (i < rows.length) {
              ids(i) = rows(i)._2._1
              System.arraycopy(rows(i)._2._2, 0, flat, i * d, d)
              i += 1
            }
            Iterator.single((ids, flat, d))
          }
        }, preservesPartitioning = true)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      rdd.count() // materialize: every later probe is cache-resident
      rdd
    })

  /** Drop the prepared probe RDDs (source rewrite / family eviction). */
  private[graft] def releaseProbe(): Unit = {
    probeRddCache.values.foreach { r =>
      try { r.unpersist(false); () } catch { case _: Throwable => () }
    }
    probeRddCache.clear()
  }

  /** Drop the driver-local postings tier + its residency entries
    * (source rewrite / family eviction). */
  private[graft] def releaseLocal(): Unit = {
    localPostingsCache.keys.foreach { idCol =>
      LocalResidency.release("ivf", resKeyFor(idCol))
    }
    localPostingsCache.clear()
  }

  /** Prepared single-query distributed probe: rank centroids on the
    * driver, then ONE partition-pruned RDD job over the nprobe cluster
    * partitions — per-partition exact scoring with the
    * [[graft.functions.VectorKernels]] strided twins of the codegen scan
    * kernels (bit-identical scores), spill-copy dedup and bounded top-k
    * per task, and a (nprobe × k)-row driver merge under [[search]]'s
    * (score desc, id asc) order. Per-partition top-k before the merge is
    * exact: a vector crowded out of some partition's top-k is beaten
    * there by k distinct ids, so it cannot be in the global top-k; spill
    * copies carry identical scores, so any-one-wins dedup is exact.
    * IvfSpec pins results identical to [[search]] and one pruned job per
    * probe. Scale: per-request distributed work is nprobe/nlist of the
    * corpus — more clusters means MORE pruning, not bigger tasks. */
  def serveDistributed(query: Array[Float], k: Int, nprobe: Int,
      idCol: String): Array[(Long, Double)] = {
    val ranked = IvfIndex.rankCentroids(centroids, query, metric, nprobe)
    val wanted = ranked.toSet
    val pruned = org.apache.spark.rdd.PartitionPruningRDD.create(
      probeRdd(idCol), wanted.contains)
    val mcode = metric
    val q = query
    val kk = k
    val partials = pruned.mapPartitions { it =>
      import graft.functions.VectorKernels
      val scoreAt: (Array[Float], Int) => Double = mcode match {
        case IvfIndex.MetricL2 => (f, o) => -VectorKernels.distL2FS(f, o, q)
        case IvfIndex.MetricIp => (f, o) => VectorKernels.dotFS(f, o, q)
        case _ => (f, o) => VectorKernels.cosineFS(f, o, q)
      }
      it.map { case (ids, flat, d) =>
        val acc = new VectorSearch.LongDoubleAcc(ids.length)
        var j = 0
        while (j < ids.length) {
          acc.putIfAbsent(ids(j), scoreAt(flat, j * d))
          j += 1
        }
        acc.topHits(kk)
      }
    }.collect()
    val merged = new VectorSearch.LongDoubleAcc(partials.iterator.map(_.length).sum)
    partials.foreach(_.foreach { case (id, s) => merged.putIfAbsent(id, s) })
    merged.topHits(k)
  }
}

object IvfIndex {

  /** Monotone instance numbers for [[IvfIndex.resKeyFor]] — never reused,
    * so two live indexes can never share a residency entry. */
  private[operators] val resInstanceCounter =
    new java.util.concurrent.atomic.AtomicLong(0)

  private val Sidecar = "centroids.json"
  // bump when the on-disk layout or assignment scheme changes: the format
  // version is part of the persisted-home key, so an old-format index is
  // never served to new code
  private val FormatVersion = 3

  /** pgvector's three operator classes (reference default vector_cosine_ops,
    * pipeline.rs:526-543). Assignment + probe + scoring all use the build
    * metric; a mismatched load is refused, never silently served. */
  val MetricCosine = "cosine"
  val MetricL2 = "l2"
  val MetricIp = "ip"
  private val Metrics = Set(MetricCosine, MetricL2, MetricIp)
  private[operators] def checkMetric(metric: String): Unit =
    require(Metrics(metric),
      s"unknown IVF metric '$metric' (expected cosine | l2 | ip)")

  /** "Higher is closer" scoring column for a metric (cosine similarity,
    * negated L2 distance, raw dot) — shared by search and assignment. */
  private[operators] def scoreExpr(
      metric: String, vec: org.apache.spark.sql.Column, query: Array[Float])
      : org.apache.spark.sql.Column = {
    val q = floatVec(query.toIndexedSeq)
    metric match {
      case MetricL2 => -vecDistanceL2(vec, q)
      case MetricIp => vecDot(vec, q)
      case _ => cosineSimilarity(vec, q)
    }
  }

  private def scoreExprC(
      metric: String, vec: org.apache.spark.sql.Column,
      centroid: Array[Float]): org.apache.spark.sql.Column =
    scoreExpr(metric, vec, centroid)
  /** Partition index == cluster id: what makes per-query partition
    * pruning possible on the prepared probe RDD. */
  private[operators] final class ClusterPartitioner(n: Int)
      extends org.apache.spark.Partitioner {
    def numPartitions: Int = n
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  // home resolution / session cache / manifest prune — shared layer
  private val family =
    new IndexStore.Family[IvfIndex]("ivf", FormatVersion)({ idx =>
      idx.data.unpersist(); idx.releaseProbe(); idx.releaseLocal()
    })

  /** The family's on-disk root (spec introspection). */
  def indexRoot: String = family.root

  /** The session-cached PERSISTED path: serve the index for `sourcePath`
    * from the session cache; on miss, load it from its on-disk home (keyed
    * by source path + mtime, so a rewritten source gets a fresh index) or
    * build-and-persist. This is what queries call — only the first session
    * ever pays the KMeans + assignment cost (the reference's build-once
    * HNSW contract, pipeline.rs:526-543).
    */
  def serveOrBuild(
      spark: SparkSession,
      sourcePath: String,
      df: => DataFrame,
      vecCol: String,
      nlist: Int = 0,
      metric: String = MetricCosine,
      nassign: Int = 3): IvfIndex = {
    val home = indexPathFor(spark, sourcePath, nlist, nassign, metric)
    family.serve(spark, home, sourcePath) {
      pruneLegacyRootHomes(spark, sourcePath)
      loadOrBuild(spark, home, df, vecCol, nlist, metric, nassign)
    }
  }

  /** The resident handle for a FIXED home its writers rebuild in place
    * (a Collection field's index): the [[HnswIndex.serveFixed]] twin —
    * loaded once, dropped by [[delete]] / [[appendSegment]] or by a
    * changed file listing. */
  def serveFixed(
      spark: SparkSession,
      path: String,
      df: => DataFrame,
      vecCol: String,
      nlist: Int): IvfIndex =
    family.serveFixed(path)(loadOrBuild(spark, path, df, vecCol, nlist))

  /** One-time migration sweep: pre-consolidation IVF homes lived at the
    * BARE `GRAFT_INDEX_DIR` root (every other family always used a
    * subdir); the Family layer resolves `GRAFT_INDEX_DIR/ivf` now, so
    * old-layout homes of this source would neither serve nor prune —
    * full index copies leaking forever. Delete root-level dirs whose
    * manifest names this source (family subdirs carry no manifest of
    * their own and are untouched). Runs on the serve cache-miss path —
    * once per session per source. */
  private def pruneLegacyRootHomes(spark: SparkSession, sourcePath: String): Unit =
    sys.env.get("GRAFT_INDEX_DIR").foreach { root =>
      val fs = IndexStore.fsFor(spark, root)
      val p = new Path(root)
      if (fs.exists(p)) fs.listStatus(p).foreach { sib =>
        if (sib.isDirectory) {
          val m = new Path(sib.getPath, IndexStore.SourceManifest)
          if (fs.exists(m) && IndexStore.readString(fs, m)
              .linesIterator.nextOption().contains(sourcePath))
            fs.delete(sib.getPath, true)
        }
      }
    }

  def indexPathFor(spark: SparkSession, sourcePath: String, nlist: Int = 0,
      nassign: Int = 3, metric: String = MetricCosine): String =
    family.homeFor(spark, sourcePath,
      s"nlist=$nlist@nassign=$nassign@mt=$metric")

  /** Drop a cached index after its underlying table is rewritten —
    * writers (Collection.writeSnapshot) call this so queries never serve a
    * stale index or recompute evicted blocks against swapped parquet. */
  def invalidate(key: String): Unit = family.invalidate(key)

  /** Drop every cached home served for a SOURCE path (what writers hold). */
  def invalidateSource(sourcePath: String): Unit = {
    family.invalidateSource(sourcePath); ()
  }

  def invalidateAll(): Unit = family.invalidateAll()

  /** Remove a persisted index (e.g. before a re-sync rebuilds it). */
  def delete(spark: SparkSession, path: String): Unit = {
    invalidate(path)
    IndexStore.fsFor(spark, path).delete(new Path(path), true); ()
  }

  def existsAt(spark: SparkSession, path: String): Boolean =
    IndexStore.fsFor(spark, path).exists(new Path(path, Sidecar))

  /** Load a persisted index. The partition column comes back as a real
    * `cluster_id` directory column, so `search`'s `isin` filter prunes
    * whole directories at planning time (asserted via PartitionFilters in
    * IvfSpec/ExplainCheck). No cache: cross-session serving reads only
    * probed files.
    *
    * A home that has received [[appendSegment]] deltas additionally unions
    * `delta/seg=N` directories (base rows count as seg 0) and resolves
    * document supersession through the home's `_manifest` — rows of a
    * re-synced document survive only in its latest segment, so stale
    * vectors are never scored. Homes without deltas skip all of that: the
    * plan is a plain partition-pruned parquet scan.
    */
  def load(spark: SparkSession, path: String, vecCol: String): IvfIndex = {
    val fs = IndexStore.fsFor(spark, path)
    val json = IndexStore.readString(fs, new Path(path, Sidecar))
    val (centroids, metric) = parseSidecar(json)
    val base = spark.read.parquet(s"$path/data")
    // all layout probes go through the Hadoop FileSystem like every other
    // IvfIndex IO — java.io.File would silently miss deltas on HDFS/S3A.
    // Committed delta SEGMENTS (crashed appends have no marker and stay
    // invisible; pre-marker layouts count everything) are unioned under the
    // base; the manifest is consulted whenever it exists — even with no
    // delta data at all, because an empty sync batch (a document clearing
    // an indexed field) appends ONLY manifest rows, and skipping resolution
    // then would keep serving the document's stale vectors.
    val deltaSegs = IndexStore.committedDeltaSegs(spark, path)
    val manifestExists = fs.exists(new Path(s"$path/_manifest")) &&
      fs.listStatus(new Path(s"$path/_manifest"))
        .exists(_.getPath.getName.endsWith(".parquet"))
    val data =
      if (deltaSegs.isEmpty && !manifestExists) base
      else {
        val withSeg = base.withColumn("seg", lit(0))
        val raw =
          if (deltaSegs.isEmpty) withSeg
          else withSeg.unionByName(
            spark.read.parquet(s"$path/delta")
              .where(col("seg").isin(deltaSegs.map(Integer.valueOf): _*)))
        graft.store.DeltaTable.resolve(spark, raw, path, DeltaDocCol).drop("seg")
      }
    new IvfIndex(data, centroids, vecCol, metric)
  }

  /** Sidecar parse: round-10 format `{"metric":…,"centroids":[…]}`; a bare
    * JSON array is a pre-metric home (cosine, its build-time semantics). */
  private def parseSidecar(json: String): (Array[Array[Float]], String) = {
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    org.json4s.jackson.JsonMethods.parse(json) match {
      case a: org.json4s.JArray => (a.extract[Array[Array[Float]]], MetricCosine)
      case o =>
        ((o \ "centroids").extract[Array[Array[Float]]],
          (o \ "metric").extractOpt[String].getOrElse(MetricCosine))
    }
  }

  /** The document-identity column delta-capable homes resolve supersession
    * on (Collection-managed indexes store (document_id, chunk_index) ids). */
  private val DeltaDocCol = "document_id"

  /** Append a sync batch's vectors as a DELTA SEGMENT: assign them to the
    * EXISTING centroids (classic IVF insert — centroid drift is tolerated
    * until the caller's merge policy triggers a full rebuild) and append
    * under `delta/seg=N/cluster_id=M`, recording each document's new owning
    * segment in the home's `_manifest` so [[load]] drops any stale rows the
    * documents had in earlier segments. O(batch) work and IO; existing
    * files are never rewritten.
    *
    * The append runs under [[graft.store.DeltaTable]]'s commit protocol —
    * write-ahead seg allocation (concurrent appenders take distinct
    * numbers; SaveMode.Append would have them clobber the shared
    * `_temporary` staging dir), stage-then-rename publication, manifest
    * rows staged and moved in, commit marker LAST — so a crash anywhere
    * mid-append leaves an uncommitted (invisible) segment that a retry
    * supersedes, never a half-applied one (e.g. data without its manifest
    * claim, which would serve a re-synced document's old AND new vectors).
    * A 0-row batch (a changed document with no chunks for this field)
    * publishes no data dir but still claims its documents in the manifest
    * — that is how their stale vectors drop out. */
  def appendSegment(
      spark: SparkSession,
      path: String,
      df: DataFrame,
      vecCol: String,
      docIds: DataFrame,
      nassign: Int = 3,
      // driver-known batch ids → job-free local manifest write
      knownIds: Option[Seq[String]] = None): Unit = {
    require(existsAt(spark, path), s"no persisted IVF index at $path to append to")
    val fs = IndexStore.fsFor(spark, path)
    val json = IndexStore.readString(fs, new Path(path, Sidecar))
    // delta rows must be assigned with the metric the base was built on
    val (centroids, metric) = parseSidecar(json)
    val deltaPath = s"$path/delta"
    // base rows read as seg 0, so deltas start at 1
    val seg = graft.store.DeltaTable.allocSegment(path, minSeg = 1,
      segParent = deltaPath)
    graft.store.DeltaTable.stagePublishSegment(
      assignClusters(df, centroids, vecCol, nassign, metric),
      deltaPath, seg, partitionCols = Seq("cluster_id"))
    graft.store.DeltaTable.appendManifestFor(path, docIds, DeltaDocCol, seg, knownIds)
    graft.store.DeltaTable.commitSegment(path, seg)
    invalidate(path)
  }

  /** Above this centroid count, assignment switches from the inlined
    * per-centroid expression to the broadcast-kernel path: one Catalyst
    * expression holding k centroid literals exceeds the generated-method
    * budget around this width, Spark disables whole-stage codegen for the
    * stage, and INTERPRETED expression-tree eval is ~50× a primitive loop
    * — at a production quantizer width (nlist ≈ √N ≈ 2,200 at 5M rows)
    * that turned the sf100 IVF build into the job that never ends. */
  private[graft] val AssignExprMaxCentroids = 64

  /** Spill assignment (IVF literature's redundancy trick): each vector is
    * stored in its `nassign` nearest clusters — ranked by
    * (score desc, centroid index desc), emitted best-first.
    *
    * Two mechanisms, one contract, chosen by quantizer width:
    * small quantizers inline the centroids as one codegen'd expression
    * (fuses into the scan stage — zero extra exchange, and the DuckDB
    * oracles replay it term for term); wide quantizers broadcast the
    * centroid matrix and run the SAME score kernels as a primitive loop
    * ([[graft.functions.VectorKernels]] — the very functions the
    * expressions' eval/codegen call), so the two paths are bit-identical
    * by construction (IvfSpec pins equality, planted score-ties included).
    */
  private[graft] def assignClusters(
      df: DataFrame, centroids: Array[Array[Float]], vecCol: String,
      nassign: Int, metric: String = MetricCosine): DataFrame = {
    val floatElems = df.schema(vecCol).dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    }
    // a NULL vector cannot rank in any probe (its scores null-propagate to
    // the bottom of every ordering), so it never surfaces from the index —
    // drop it HERE so both assignment mechanisms see the same rows: the
    // expression path would quietly store it with null scores while the
    // kernel path's UDF would NPE (review finding, this round)
    val rows = df.where(col(vecCol).isNotNull)
    if (centroids.length <= AssignExprMaxCentroids || !floatElems)
      assignClustersExpr(rows, centroids, vecCol, nassign, metric)
    else assignClustersKernel(rows, centroids, vecCol, nassign, metric)
  }

  /** Narrow-quantizer mechanism: sort the per-centroid score structs desc,
    * explode the top slice — one codegen'd expression over plan literals. */
  private[graft] def assignClustersExpr(
      df: DataFrame, centroids: Array[Array[Float]], vecCol: String,
      nassign: Int, metric: String = MetricCosine): DataFrame = {
    val k = centroids.length
    val centroidCols = centroids.zipWithIndex.map { case (c, i) =>
      struct(scoreExprC(metric, col(vecCol), c).as("s"), lit(i).as("i"))
    }
    val top = slice(
      sort_array(array(centroidCols.toIndexedSeq: _*), asc = false),
      1, math.max(1, math.min(nassign, k)))
    df.withColumn("cluster_id", explode(top.getField("i")))
  }

  /** Wide-quantizer mechanism: broadcast the centroid matrix once per
    * build, select each row's top-`nassign` clusters with a bounded
    * insertion pass over [[graft.functions.VectorKernels]] scores. Same
    * (s desc, i desc) rank order as the struct sort (an equal-score later
    * centroid outranks an earlier one), same best-first emission. */
  private[graft] def assignClustersKernel(
      df: DataFrame, centroids: Array[Array[Float]], vecCol: String,
      nassign: Int, metric: String = MetricCosine): DataFrame = {
    import graft.functions.VectorKernels
    val bc = df.sparkSession.sparkContext.broadcast(centroids)
    val score: (Array[Float], Array[Float]) => Double = metric match {
      case MetricL2 => (v, c) => -VectorKernels.distL2F(v, c)
      case MetricIp => (v, c) => VectorKernels.dotF(v, c)
      case _ => (v, c) => VectorKernels.cosineF(v, c)
    }
    val m0 = nassign
    val assign = udf { (vec: Seq[Float]) =>
      val cs = bc.value
      val v = vec.toArray
      val m = math.max(1, math.min(m0, cs.length))
      val topS = new Array[Double](m)
      val topI = new Array[Int](m)
      var filled = 0
      var i = 0
      while (i < cs.length) {
        val s = score(v, cs(i))
        // rank (s desc, i desc) under Catalyst's TOTAL double order
        // (-0.0 < 0.0, NaN greatest — java.lang.Double.compare, what the
        // struct sort_array uses): scanning i ascending, an equal score
        // DISPLACES the earlier holder, so compare >= 0 moves left
        var pos = filled
        while (pos > 0 && java.lang.Double.compare(s, topS(pos - 1)) >= 0) pos -= 1
        if (pos < m) {
          val last = math.min(filled, m - 1)
          var j = last
          while (j > pos) { topS(j) = topS(j - 1); topI(j) = topI(j - 1); j -= 1 }
          topS(pos) = s; topI(pos) = i
          if (filled < m) filled += 1
        }
        i += 1
      }
      java.util.Arrays.copyOf(topI, filled)
    }
    df.withColumn("cluster_id", explode(assign(col(vecCol))))
  }

  /** Load the index if `path` holds one, else build from `df` and persist —
    * the ingest-time contract: downstream sessions call this and only the
    * first ever pays the KMeans + assignment cost. A loaded index whose
    * centroid count contradicts the requested `nlist` (a fixed-path home,
    * e.g. a Collection's ivf table, rebuilt under a changed Pipeline
    * config) is discarded and rebuilt rather than silently served.
    */
  def loadOrBuild(
      spark: SparkSession,
      path: String,
      df: => DataFrame,
      vecCol: String,
      nlist: Int = 0,
      metric: String = MetricCosine,
      nassign: Int = 3): IvfIndex = {
    checkMetric(metric)
    if (existsAt(spark, path)) {
      val loaded = load(spark, path, vecCol)
      // metric mismatch is a caller bug — refuse loudly
      IndexStore.requireServedMetric("IVF", path, loaded.metric, metric)
      if (nlist <= 0 || loaded.centroids.length == nlist) return loaded
      delete(spark, path)
    }
    val idx = build(spark, df, vecCol, nlist, metric = metric, nassign = nassign)
    idx.save(path)
    idx.data.unpersist()
    load(spark, path, vecCol)
  }

  /** Build over `df(vecCol)`. `nlist` defaults to ~√N (the IVF rule of
    * thumb); KMeans fits on a bounded sample so build cost is independent
    * of table size.
    */
  /** Seeded coarse-quantizer fit shared by the flat IVF build and
    * [[IvfPq]]: KMeans over a content-independent random sample. */
  private[operators] def fitCentroids(
      spark: SparkSession,
      df: DataFrame,
      vecCol: String,
      nlist: Int,
      sampleSize: Int = 20000,
      seed: Long = 42L): Array[Array[Float]] = {
    val n = df.count()
    val k = if (nlist > 0) nlist else math.max(2, math.sqrt(n.toDouble).toInt)
    val toVec = udf((a: Seq[Float]) => Vectors.dense(a.map(_.toDouble).toArray))
    // Random sample, not limit(): limit() takes the first partitions, which
    // on sorted/clustered tables biases every centroid toward the head of
    // the table and degrades recall everywhere else.
    val fraction = if (n <= sampleSize) 1.0 else math.min(1.0, sampleSize * 1.2 / n)
    val sample = df.sample(withReplacement = false, fraction, seed)
      .limit(sampleSize).select(toVec(col(vecCol)).as("features"))
    val km = new KMeans().setK(k).setSeed(seed).setFeaturesCol("features").fit(sample)
    km.clusterCenters.map(_.toArray.map(_.toFloat))
  }

  /** Driver-side coarse probe selection: the `nprobe` centroids closest to
    * the query under `metric`, stable sort (ties keep the lower index).
    * Public to graft: the generated oracles replay probe selection. */
  private[graft] def rankCentroids(
      centroids: Array[Array[Float]], query: Array[Float],
      metric: String, nprobe: Int): Seq[Int] =
    centroids.zipWithIndex.map { case (c, i) =>
      var dot = 0.0; var nq = 0.0; var nc = 0.0
      var d = 0
      while (d < c.length) {
        dot += query(d).toDouble * c(d); nq += query(d).toDouble * query(d); nc += c(d).toDouble * c(d)
        d += 1
      }
      val affinity = metric match {
        case MetricL2 => -(nq + nc - 2.0 * dot)
        case MetricIp => dot
        case _ => if (nq == 0 || nc == 0) 0.0 else dot / math.sqrt(nq * nc)
      }
      (i, affinity)
    }.sortBy(-_._2).take(nprobe).map(_._1).toIndexedSeq

  def build(
      spark: SparkSession,
      df: DataFrame,
      vecCol: String,
      nlist: Int = 0,
      sampleSize: Int = 20000,
      seed: Long = 42L,
      nassign: Int = 3,
      metric: String = MetricCosine): IvfIndex = {
    checkMetric(metric)
    val centroids = fitCentroids(spark, df, vecCol, nlist, sampleSize, seed)
    val k = centroids.length

    // Storage ×nassign buys the recall that single-assignment IVF loses on
    // hard (near-uniform) distributions; `search` dedups by id, so results
    // are exact within the probed set.
    val assigned = assignClusters(df, centroids, vecCol, nassign, metric)
      // co-locate clusters: at scale this is a partitioned write; locally a
      // repartition so each probe scan touches few partitions
      .repartition(math.min(k, 64), col("cluster_id"))
      .cache()
    assigned.count() // materialize
    new IvfIndex(assigned, centroids, vecCol, metric)
  }
}
