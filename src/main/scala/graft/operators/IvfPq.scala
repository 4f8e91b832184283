package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** IVF-PQ composite index — the standard billion-scale ANN layout (Jégou
  * et al. 2011 §IV; FAISS's IVFPQ): a coarse quantizer prunes the search
  * to `nprobe` of `nlist` clusters, and within the probed clusters the
  * scan reads m-byte PQ CODES instead of full vectors. The two
  * compressions multiply: at 100 TB of float32 embeddings, a probe reads
  * `nprobe/nlist · dim·4/m` of the corpus bytes — nlist=1024, nprobe=8,
  * m=8 on 64-dim floats is ~1/4000 of a flat scan, while the exact
  * re-rank of the shortlist bounds the recall loss exactly like the flat
  * PQ path.
  *
  * Composition, not new machinery: the coarse quantizer is [[IvfIndex]]'s
  * seeded KMeans fit + spill assignment (same probe-selection tie rules,
  * so the v5 oracle replay carries over); the codes are [[Pq]]'s
  * deterministic codebooks + codegen encode/ADC expressions (the v16
  * replay). Codes encode either the RAW vectors (by_residual=false) or
  * each spill copy's residual v − c(copy) (by_residual=true, the FAISS
  * default — residuals are smaller than raw vectors, so the same code
  * bytes quantize finer; serving then adds the per-cluster ⟨q,c⟩
  * constant, or uses per-cluster LUTs under l2, and the best copy
  * wins).
  *
  * Layout: cluster_id=N-partitioned parquet of (id, pq) — partition pruning
  * serves the probe at the directory level (the v5 plan contract) and the
  * ADC scan merges through TakeOrderedAndProject (the v16 contract).
  */
object IvfPq {

  private val Sidecar = "meta.json"
  private val FormatVersion = 1

  final case class Home(
      centroids: Array[Array[Float]],
      model: Pq.PqModel,
      metric: String,
      nassign: Int,
      byResidual: Boolean,
      codes: DataFrame) {
    /** The driver-local tier: built by the first [[localProbe]] of this
      * home, dropped with it. */
    private[graft] val local = new IndexStore.Slot[Local]("ivfpq", Some(_.bytes))(_ => ())
  }

  /** [[localProbe]]'s snapshots of one home, both FLAT primitive layouts
    * (the quantized counterpart of HnswIndex's graph cache): per cluster
    * the ids and their m-strided codes, and every source vector as an
    * id → offset index over one dim-strided blob. Millions of 8-byte
    * Array[Byte]s / boxed map entries are mostly object header, and their
    * GC pressure starved the 24 GB sf100 heap. */
  private[graft] final case class Local(
      codes: Map[Int, (Array[Long], Array[Byte])],
      vecIdx: VectorSearch.LongIntIndex, vecDim: Int, vecFlat: Array[Float]) {
    def bytes: Long =
      codes.valuesIterator.map { case (is, cs) => 8L * is.length + cs.length.toLong }.sum +
        vecIdx.residentBytes + 4L * vecFlat.length
  }

  // codes frames are served uncached (partition pruning is the point), so
  // a dropped home releases only its driver-local tier
  private val family =
    new IndexStore.Family[Home]("ivfpq", FormatVersion)(_.local.release())

  def indexPathFor(spark: SparkSession, sourcePath: String,
      nlist: Int, m: Int, kCent: Int, nassign: Int = 3,
      metric: String = IvfIndex.MetricCosine, byResidual: Boolean = false,
      variant: String = ""): String =
    family.homeFor(spark, sourcePath,
      s"nlist=$nlist@m=$m@k=$kCent@na=$nassign@mt=$metric@res=$byResidual@var=$variant")

  /** Per-element residual v − centroid(cluster_id), in FLOAT32 (single
    * float rounding — what the SQL replay reproduces with FLOAT
    * arithmetic). The centroid table rides the plan as a map literal. */
  private def residualCol(vecCol: String, centroids: Array[Array[Float]]) = {
    val centMap = typedLit(
      centroids.zipWithIndex.map { case (c, i) => i -> c.toSeq }.toMap)
    zip_with(col(vecCol), element_at(centMap, col("cluster_id")), (a, b) => a - b)
  }

  /** Session-cached persisted home: fit coarse centroids + PQ codebooks,
    * encode + assign every vector, publish atomically; later sessions
    * load. Fit cost is constant (both quantizers fit on bounded samples);
    * the encode+assign pass is one linear scan of the corpus. */
  def serveOrBuild(
      spark: SparkSession, sourcePath: String,
      df: => DataFrame, idCol: String, vecCol: String,
      nlist: Int = 16, m: Int = 8, kCent: Int = 32, nassign: Int = 3,
      metric: String = IvfIndex.MetricCosine, byResidual: Boolean = false,
      variant: String = ""): Home = {
    // validate up front: an unknown metric would otherwise fall through
    // every `case _ => cosine` and build a silently mis-ranked home
    IvfIndex.checkMetric(metric)
    val home = indexPathFor(spark, sourcePath, nlist, m, kCent, nassign,
      metric, byResidual, variant)
    family.serve(spark, home, sourcePath) {
      val fs = IndexStore.ensureBuilt(spark, home, Sidecar) { (fs, tmp) =>
        val centroids = IvfIndex.fitCentroids(spark, df, vecCol, nlist)
        // by_residual (the FAISS default): codebooks fit on PRIMARY-
        // assignment residuals and each spill copy encodes v − c(copy) —
        // residuals are smaller than raw vectors, so the same code bytes
        // quantize finer. by_residual=false encodes raw vectors (one code
        // per vector regardless of copy).
        val model =
          if (byResidual) {
            // SAMPLE FIRST, then assign + residualize: Pq.fit only reads
            // its bounded (xxhash64(id), id)-ordered sample, and feeding
            // it the pre-drawn identical sample keeps the fit genuinely
            // constant-cost instead of assigning the whole corpus twice.
            // (Pq.fit re-draws the same ordering over the same rows, so
            // the fitted codebook is unchanged.)
            val sample = df.orderBy(xxhash64(col(idCol)), col(idCol))
              .limit(Pq.DefaultFitSampleSize)
            Pq.fit(IvfIndex.assignClusters(sample, centroids, vecCol, 1, metric)
                .withColumn("__res", residualCol(vecCol, centroids)),
              idCol, "__res", m, kCent)
          } else Pq.fit(df, idCol, vecCol, m, kCent)
        val assigned =
          IvfIndex.assignClusters(df, centroids, vecCol, nassign, metric)
        val encoded =
          if (byResidual)
            Pq.encodeFrame(
              assigned.withColumn("__res", residualCol(vecCol, centroids)),
              "__res", model)
          else Pq.encodeFrame(assigned, vecCol, model)
        encoded
          .select(col(idCol).as("id"), col("pq"), col("cluster_id"))
          .write.mode(SaveMode.Overwrite)
          .partitionBy("cluster_id")
          .parquet(new Path(tmp, "data").toString)
        val cents = centroids.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
        IndexStore.writeString(fs, new Path(tmp, Sidecar),
          s"""{"metric":"$metric","nassign":$nassign,"byResidual":$byResidual,""" +
            s""""centroids":$cents,"pq":${Pq.modelToJson(model)}}""")
      }
      val json = IndexStore.readSidecar(fs, home, Sidecar)
      implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
      val j = org.json4s.jackson.JsonMethods.parse(json)
      val storedMetric = (j \ "metric").extract[String]
      IndexStore.requireServedMetric("IVF-PQ", home, storedMetric, metric)
      val cents = (j \ "centroids").extract[Seq[Seq[Float]]].map(_.toArray).toArray
      val model = Pq.modelFromJson(
        org.json4s.jackson.JsonMethods.compact(j \ "pq"))
      // NOT cached: a cached relation hides the parquet partition pruning
      // that is this layout's whole point (same choice as IvfIndex.load)
      Home(cents, model, storedMetric, (j \ "nassign").extract[Int],
        (j \ "byResidual").extractOpt[Boolean].getOrElse(false),
        spark.read.parquet(s"$home/data"))
    }
  }

  /** The candidate stage on its own: driver-side probe selection → a
    * partition-pruned ADC scan of the probed clusters' codes → top-`r`
    * ids. Exposed so the probe PLAN (cluster_id PartitionFilters +
    * TakeOrdered merge) is assertable — [[knnIndexed]]'s eager fetch
    * executes this stage before the returned frame's plan forms. */
  def adcShortlist(
      spark: SparkSession, sourcePath: String,
      df: => DataFrame, idCol: String, vecCol: String,
      query: Array[Float], r: Int, nprobe: Int = 4,
      nlist: Int = 16, m: Int = 8, kCent: Int = 32, nassign: Int = 3,
      metric: String = IvfIndex.MetricCosine, byResidual: Boolean = false,
      variant: String = ""): DataFrame = {
    val h = serveOrBuild(spark, sourcePath, df, idCol, vecCol,
      nlist, m, kCent, nassign, metric, byResidual, variant)
    val probed = IvfIndex.rankCentroids(h.centroids, query, metric, nprobe)
    val pruned = h.codes.where(col("cluster_id").isin(probed: _*))
    if (!h.byResidual) {
      val lut = h.model.lutFor(query, metric)
      pruned
        .select(col("id"), Pq.adcCol(col("pq"), lut).as("qscore"))
        // spill copies carry identical codes → identical ADC scores: dedup exact
        .dropDuplicates("id")
        .orderBy(col("qscore").desc, col("id").asc)
        .limit(r)
        .select(col("id").as(idCol))
    } else {
      // residual scoring: v̂ = c + r̂, so
      //   ip/cosine: ⟨q, v̂⟩ = ⟨q, c⟩ (per-cluster constant) + Σ_g lut(q);
      //   l2: −‖q − v̂‖² = −‖(q−c) − r̂‖² — a per-cluster LUT over q−c.
      // Both ride as map literals keyed by cluster_id; copies now quantize
      // against different centroids, so the best copy wins (max — exact
      // for the copies' shared true vector).
      val qscore = metric match {
        case IvfIndex.MetricL2 =>
          val lutMap = typedLit(probed.map { ci =>
            val qc = query.indices.map(d => query(d) - h.centroids(ci)(d)).toArray
            ci -> h.model.lutFor(qc, metric).toSeq
          }.toMap)
          Pq.adcCol(col("pq"), element_at(lutMap, col("cluster_id")))
        case _ =>
          val lut = h.model.lut(query)
          val qcMap = typedLit(probed.map { ci =>
            var s = 0.0
            var d = 0
            while (d < query.length) { s += query(d).toDouble * h.centroids(ci)(d); d += 1 }
            ci -> s
          }.toMap)
          element_at(qcMap, col("cluster_id")) + Pq.adcCol(col("pq"), lut)
      }
      pruned
        .select(col("id"), qscore.as("qscore"))
        .groupBy(col("id")).agg(max(col("qscore")).as("qscore"))
        .orderBy(col("qscore").desc, col("id").asc)
        .limit(r)
        .select(col("id").as(idCol))
    }
  }

  // ---------------------------------------------------- driver-local tier

  /** Driver-local serving tier: probe selection → in-process ADC scan of
    * the probed clusters' cached codes → top-r shortlist → exact re-rank
    * against the cached vectors. Zero Spark jobs after the first call;
    * every stage mirrors [[knnIndexed]] exactly — same probe ranking,
    * same ADC arithmetic (raw and residual), same dedup/max-over-copies
    * rule, same (score desc, id asc) tie order — so results are
    * identical to the distributed path (IvfPqSpec pins the equality).
    * Residency: codes are m bytes/vector (tiny); the exact-re-rank
    * vector map is the same "fits one machine" class as the HNSW graph
    * cache. */
  def searchLocal(
      spark: SparkSession, sourcePath: String,
      df: => DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int, nprobe: Int = 4, rerank: Int = 0,
      nlist: Int = 16, m: Int = 8, kCent: Int = 32, nassign: Int = 3,
      metric: String = IvfIndex.MetricCosine, byResidual: Boolean = false,
      variant: String = ""): Seq[(Long, Double)] =
    localProbe(spark, sourcePath, df, idCol, vecCol, nprobe, rerank,
      nlist, m, kCent, nassign, metric, byResidual, variant)(query, k)

  /** Resolve-once probe factory: pays serveOrBuild + the mtime-hashed home
    * resolution ONCE and returns a closure that probes that home's
    * driver-local tier — the shape AnnServing.localProber hands a server
    * loop (searchLocal keeps the one-shot per-call-resolution contract by
    * delegating here). A tier the residency cap evicted is collected
    * again by the next probe. */
  def localProbe(
      spark: SparkSession, sourcePath: String,
      df: => DataFrame, idCol: String, vecCol: String,
      nprobe: Int = 4, rerank: Int = 0,
      nlist: Int = 16, m: Int = 8, kCent: Int = 32, nassign: Int = 3,
      metric: String = IvfIndex.MetricCosine, byResidual: Boolean = false,
      variant: String = ""): (Array[Float], Int) => Seq[(Long, Double)] = {
    val h = serveOrBuild(spark, sourcePath, df, idCol, vecCol,
      nlist, m, kCent, nassign, metric, byResidual, variant)
    def tier: Local = h.local {
      import spark.implicits._
      val rows = h.codes
        .select(col("id").cast("long"), col("pq"), col("cluster_id").cast("int"))
        .as[(Long, Array[Byte], Int)].collect()
      val mW = if (rows.isEmpty) m else rows(0)._2.length
      val k = h.centroids.length
      val counts = new Array[Int](k)
      rows.foreach(r => counts(r._3) += 1)
      val idArr = Array.tabulate(k)(c => new Array[Long](counts(c)))
      val codeArr = Array.tabulate(k)(c => new Array[Byte](counts(c) * mW))
      val fill = new Array[Int](k)
      rows.foreach { case (id, pq, c) =>
        val i = fill(c); fill(c) += 1
        idArr(c)(i) = id
        System.arraycopy(pq, 0, codeArr(c), i * mW, mW)
      }
      val vecRows = df.select(col(idCol).cast("long"), col(vecCol))
        .as[(Long, Array[Float])].collect()
      val d = if (vecRows.isEmpty) 1 else vecRows(0)._2.length
      val idx = new VectorSearch.LongIntIndex(vecRows.length)
      val flat = new Array[Float](
        VectorSearch.flatFloats(vecRows.length, d, "IVF-PQ local rerank snapshot"))
      var i = 0
      while (i < vecRows.length) {
        idx.put(vecRows(i)._1, i)
        System.arraycopy(vecRows(i)._2, 0, flat, i * d, d)
        i += 1
      }
      Local((0 until k).filter(counts(_) > 0)
        .map(c => c -> (idArr(c), codeArr(c))).toMap, idx, d, flat)
    }
    tier
    (query: Array[Float], k: Int) => {
    val Local(codes, vecIdx, vecDim, vecFlat) = tier
    val r = math.max(if (rerank > 0) rerank else 10 * k, k)
    val probed = IvfIndex.rankCentroids(h.centroids, query, metric, nprobe)
    // ADC shortlist: copies carry identical scores when codes encode raw
    // vectors (first wins); residual copies quantize against different
    // centroids (best copy wins — max, like the distributed groupBy max).
    // Primitive accumulator sized to the probed posting mass: a boxed
    // HashMap here WAS the probe at production widths (~650k candidates).
    val expected = probed.iterator
      .map(ci => codes.get(ci).map(_._1.length).getOrElse(0)).sum
    val best = new VectorSearch.LongDoubleAcc(expected)
    if (!h.byResidual) {
      val lut = h.model.lutFor(query, metric)
      probed.foreach { ci =>
        codes.get(ci).foreach { case (ids, blob) =>
          scanAdc(ids, blob, lut, 0.0, firstWins = true, best)
        }
      }
    } else {
      metric match {
        case IvfIndex.MetricL2 =>
          probed.foreach { ci =>
            val qc = query.indices.map(d => query(d) - h.centroids(ci)(d)).toArray
            val lutCi = h.model.lutFor(qc, metric)
            codes.get(ci).foreach { case (ids, blob) =>
              scanAdc(ids, blob, lutCi, 0.0, firstWins = false, best)
            }
          }
        case _ =>
          val lut = h.model.lut(query)
          probed.foreach { ci =>
            var qc = 0.0
            var d = 0
            while (d < query.length) { qc += query(d).toDouble * h.centroids(ci)(d); d += 1 }
            codes.get(ci).foreach { case (ids, blob) =>
              scanAdc(ids, blob, lut, qc, firstWins = false, best)
            }
          }
      }
    }
    // bounded selection, not a full sort: the ADC candidate set is
    // nprobe/nlist of the corpus × nassign — ~650k rows/probe at sf100
    val shortlist = best.topHits(r)
    // exact re-rank of the shortlist — VectorSearch.exactScoreCol's
    // arithmetic via the strided kernel twins over the flat snapshot
    import graft.functions.VectorKernels
    val exactAt: Int => Double = metric match {
      case IvfIndex.MetricL2 => o => -VectorKernels.distL2FS(vecFlat, o, query)
      case IvfIndex.MetricIp => o => VectorKernels.dotFS(vecFlat, o, query)
      case _ => o => VectorKernels.cosineFS(vecFlat, o, query)
    }
    // drop ids absent from the vector snapshot, like the distributed
    // fetchShortlist's inner join does for rows deleted under the index
    shortlist
      .flatMap { case (id, _) =>
        val row = vecIdx.get(id)
        if (row < 0) None else Some((id, exactAt(row * vecDim)))
      }
      .sortBy { case (id, s) => (-s, id) }
      .take(k)
      .toSeq
    }
  }

  /** One cluster's ADC scan over the flat (ids, m-strided code blob)
    * posting pair: the [[graft.functions.QuantKernels.pqAdcDot]] loop at
    * stride — identical accumulation order, so local ADC scores are
    * bit-identical to the codegen'd scan — with `base` added for the
    * residual-IP decomposition and first-wins vs best-copy dedup into the
    * primitive accumulator. */
  @inline private def scanAdc(
      ids: Array[Long], blob: Array[Byte], lut: Array[Double], base: Double,
      firstWins: Boolean, best: VectorSearch.LongDoubleAcc): Unit = {
    if (ids.length == 0) return
    val mW = blob.length / ids.length
    val k = lut.length / mW
    var j = 0
    while (j < ids.length) {
      var s = 0.0
      var g = 0
      val off = j * mW
      while (g < mW) { s += lut(g * k + (blob(off + g) & 0xFF)); g += 1 }
      if (firstWins) best.putIfAbsent(ids(j), base + s)
      else best.putMax(ids(j), base + s)
      j += 1
    }
  }

  /** Serving: driver-side probe selection → partition-pruned ADC scan of
    * the probed clusters' codes → exact re-rank of the R-row shortlist
    * fetched through the shared [[VectorSearch.fetchShortlist]] seam. */
  def knnIndexed(
      spark: SparkSession, sourcePath: String,
      df: => DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int, nprobe: Int = 4, rerank: Int = 0,
      nlist: Int = 16, m: Int = 8, kCent: Int = 32, nassign: Int = 3,
      inPushdownMax: Int = 8192,
      metric: String = IvfIndex.MetricCosine, byResidual: Boolean = false,
      variant: String = ""): DataFrame = {
    val r = math.max(if (rerank > 0) rerank else 10 * k, k)
    val cand = adcShortlist(spark, sourcePath, df, idCol, vecCol, query, r,
      nprobe, nlist, m, kCent, nassign, metric, byResidual, variant)
    VectorSearch.fetchShortlist(df, Seq(idCol), cand, r, inPushdownMax)
      .withColumn("score", VectorSearch.exactScoreCol(metric, col(vecCol), query))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("score"))
  }
}
