package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{PqAdcDot, PqEncode}
import graft.functions.VecFunctions._

/** Product quantization (Jégou, Douze, Schmid — "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011): split each vector into `m`
  * subvectors, vector-quantize every subspace against its own `k`-centroid
  * codebook, store one byte per subspace. 64-dim float32 (256 B) → 8 B at
  * m=8, 32× — the standard billion-scale ANN compression, and the natural
  * next step after [[Quantized]]'s SQ8 when the corpus outgrows even a
  * 1/4-width scan.
  *
  * Spark shape: codebooks are fit ONCE on a bounded deterministic sample
  * (driver-side Lloyd — the sample is constant-size no matter the corpus,
  * so fit cost does not grow with data). Encoding and scanning are codegen
  * expressions ([[PqEncode]]/[[PqAdcDot]]); a query precomputes its
  * m·k-entry ADC lookup table once, so the per-row scan cost is m
  * byte-indexed table reads — merged by TakeOrderedAndProject exactly like
  * every other KNN in the engine. An optional exact re-rank of the
  * shortlist bounds the recall loss the same way the binary path does.
  *
  * Determinism: the sample is ordered by (xxhash64(id), id), Lloyd init is
  * a seeded shuffle, and ties in assignment break to the lowest centroid
  * index — identical data + seed ⇒ identical codebooks, codes, and
  * rankings (PqSpec pins a rebuild).
  */
object Pq {

  /** Flat group-major codebook: entry (g, c, j) at `(g·k + c)·subDim + j`. */
  final case class PqModel(m: Int, k: Int, subDim: Int, codebook: Array[Float]) {
    def dim: Int = m * subDim

    /** ADC lookup table for `query`: lut(g·k + c) = ⟨q_g, centroid_{g,c}⟩. */
    def lut(query: Array[Float]): Array[Double] = {
      require(query.length == dim, s"query dim ${query.length} != model dim $dim")
      val out = new Array[Double](m * k)
      var g = 0
      while (g < m) {
        var c = 0
        while (c < k) {
          val off = (g * k + c) * subDim
          var s = 0.0
          var j = 0
          while (j < subDim) {
            s += query(g * subDim + j).toDouble * codebook(off + j)
            j += 1
          }
          out(g * k + c) = s
          c += 1
        }
        g += 1
      }
      out
    }

    /** Metric-parameterized ADC table — because the subspaces PARTITION
      * the dims, per-group terms sum to the whole-vector quantity:
      *   - ip / cosine: lut = ⟨q_g, centroid⟩, Σ_g = ⟨q, v̂⟩ (on the
      *     cosine contract's normalized vectors that IS the similarity);
      *   - l2: lut = −‖q_g − centroid‖², Σ_g = −‖q − v̂‖² — the
      *     higher-is-closer L2 score, still m table reads per row.
      * The codes themselves are metric-agnostic (L2-nearest-centroid
      * encoding, the standard PQ construction even for IP serving), so
      * one persisted code table serves every metric. */
    def lutFor(query: Array[Float], metric: String): Array[Double] = metric match {
      case HnswIndex.MetricCosine | HnswIndex.MetricIp => lut(query)
      case HnswIndex.MetricL2 =>
        require(query.length == dim, s"query dim ${query.length} != model dim $dim")
        val out = new Array[Double](m * k)
        var g = 0
        while (g < m) {
          var c = 0
          while (c < k) {
            val off = (g * k + c) * subDim
            var s = 0.0
            var j = 0
            while (j < subDim) {
              val d = query(g * subDim + j).toDouble - codebook(off + j)
              s += d * d
              j += 1
            }
            out(g * k + c) = -s
            c += 1
          }
          g += 1
        }
        out
      case other => throw new IllegalArgumentException(
        s"unknown metric '$other' (expected cosine | l2 | ip)")
    }
  }

  private def splitmix(state: Long): Long = {
    var z = state + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Default codebook-fit sample size. Shared with callers that pre-draw
    * the identical sample (IvfPq's residual fit) — one constant, so the
    * "pre-drawn sample ≡ fit's own draw" invariant can't silently break
    * if the bound changes. */
  val DefaultFitSampleSize: Int = 20000

  /** Fit per-subspace codebooks with plain Lloyd over a deterministic
    * sample. Constant work regardless of corpus size: `sampleSize` vectors
    * ordered by (xxhash64(id), id) — a content-independent, rerun-stable
    * pseudo-random draw. */
  def fit(
      df: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, k: Int = 256,
      sampleSize: Int = DefaultFitSampleSize, iters: Int = 10, seed: Long = 42L): PqModel = {
    val spark = df.sparkSession
    import spark.implicits._
    val sample = df
      .select(col(vecCol))
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(sampleSize)
      .as[Array[Float]].collect()
    require(sample.nonEmpty, "cannot fit PQ on an empty relation")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subDim = dim / m
    val n = sample.length
    val kEff = math.min(k, n)

    val codebook = new Array[Float](m * kEff * subDim)
    var g = 0
    while (g < m) {
      // init: seeded Fisher–Yates prefix over sample indices, one draw per
      // centroid — deterministic and distinct
      val idx = Array.tabulate(n)(identity)
      var st = seed ^ (g.toLong * 0x9e3779b97f4a7c15L)
      var i = 0
      while (i < kEff) {
        st = splitmix(st)
        val j = i + (((st % (n - i)) + (n - i)) % (n - i)).toInt
        val t = idx(i); idx(i) = idx(j); idx(j) = t
        i += 1
      }
      val cent = Array.tabulate(kEff, subDim)((c, j) =>
        sample(idx(c))(g * subDim + j).toDouble)

      val assign = new Array[Int](n)
      var it = 0
      while (it < iters) {
        // assignment: nearest centroid, ties to the lowest index
        var p = 0
        while (p < n) {
          var best = 0
          var bestD = Double.MaxValue
          var c = 0
          while (c < kEff) {
            var d = 0.0
            var j = 0
            while (j < subDim) {
              val diff = sample(p)(g * subDim + j).toDouble - cent(c)(j)
              d += diff * diff
              j += 1
            }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          assign(p) = best
          p += 1
        }
        // update: mean of assigned points; empty clusters keep their centroid
        val sums = Array.ofDim[Double](kEff, subDim)
        val counts = new Array[Int](kEff)
        p = 0
        while (p < n) {
          val c = assign(p)
          counts(c) += 1
          var j = 0
          while (j < subDim) { sums(c)(j) += sample(p)(g * subDim + j); j += 1 }
          p += 1
        }
        var c = 0
        while (c < kEff) {
          if (counts(c) > 0) {
            var j = 0
            while (j < subDim) { cent(c)(j) = sums(c)(j) / counts(c); j += 1 }
          }
          c += 1
        }
        it += 1
      }
      var c = 0
      while (c < kEff) {
        var j = 0
        while (j < subDim) {
          codebook((g * kEff + c) * subDim + j) = cent(c)(j).toFloat
          j += 1
        }
        c += 1
      }
      g += 1
    }
    PqModel(m, kEff, subDim, codebook)
  }

  import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}

  private[operators] def encodeCol(vec: Column, model: PqModel): Column =
    toCol(PqEncode(toExpr(vec), toExpr(typedLit(model.codebook)), model.m, model.k))

  private[operators] def adcCol(codes: Column, lut: Array[Double]): Column =
    toCol(PqAdcDot(toExpr(codes), toExpr(typedLit(lut))))

  /** Column-LUT variant — the per-cluster LUT of [[IvfPq]]'s residual
    * serving (the LUT arrives via a map-literal lookup, not a literal). */
  private[operators] def adcCol(codes: Column, lut: Column): Column =
    toCol(PqAdcDot(toExpr(codes), toExpr(lut)))

  /** Append the m-byte PQ code column for persistence (the 32×-smaller
    * serving table: scan (id, pq) and never touch the float vectors). */
  def encodeFrame(df: DataFrame, vecCol: String, model: PqModel,
      codesCol: String = "pq"): DataFrame =
    df.withColumn(codesCol, encodeCol(col(vecCol), model))

  /** Top-k by ADC inner product. With `rerank > 0`, the ADC order only
    * selects a shortlist whose exact cosine decides the final k — recall
    * then degrades gracefully in rerank width, not code length. Output
    * (idCol, score|qscore), ordered best-first with id tie-break. */
  def knn(
      df: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int, model: PqModel, rerank: Int = 0,
      metric: String = HnswIndex.MetricCosine): DataFrame = {
    val lut = model.lutFor(query, metric)
    val scored = df.select(col(idCol), col(vecCol),
      adcCol(encodeCol(col(vecCol), model), lut).as("qscore"))
    if (rerank <= 0)
      scored.select(col(idCol), col("qscore"))
        .orderBy(col("qscore").desc, col(idCol).asc).limit(k)
    else {
      val r = math.max(rerank, k)
      scored.orderBy(col("qscore").desc, col(idCol).asc).limit(r)
        .withColumn("score", VectorSearch.exactScoreCol(metric, col(vecCol), query))
        .orderBy(col("score").desc, col(idCol).asc).limit(k)
        .select(col(idCol), col("score"))
    }
  }

  /** [[knn]] over a frame that already carries the code column — the
    * persisted-codes scan (no rerank: the float vectors are by design not
    * in this table). */
  def knnEncoded(
      df: DataFrame, idCol: String, codesCol: String,
      query: Array[Float], k: Int, model: PqModel,
      metric: String = HnswIndex.MetricCosine): DataFrame =
    df.select(col(idCol), adcCol(col(codesCol), model.lutFor(query, metric)).as("qscore"))
      .orderBy(col("qscore").desc, col(idCol).asc).limit(k)

  // ---- persisted serving path (IndexStore home, like IVF/HNSW/binary).
  // Encoding on the fly costs MORE than a plain cosine scan (m·k·subDim
  // flops/row vs 2·dim) — PQ only wins when the m-byte codes are scanned
  // from disk. serveCodes builds once; knnIndexed is the serving shape.

  private val FormatVersion = 1
  private val Sidecar = "meta.json"
  private val family =
    new IndexStore.Family[(PqModel, DataFrame)]("pq", FormatVersion)(
      _._2.unpersist())

  /** Where the persisted codes for a source live, keyed by source path +
    * mtime + build params + format version. `variant` distinguishes homes
    * built over DERIVED frames of the same file (e.g. a re-scaled view) —
    * callers passing a transformed `df` must tag it or the cache would
    * serve the untransformed build. */
  def indexPathFor(spark: org.apache.spark.sql.SparkSession, sourcePath: String,
      m: Int = 8, k: Int = 256, variant: String = ""): String =
    family.homeFor(spark, sourcePath, s"m=$m@k=$k@var=$variant")

  private[operators] def modelToJson(model: PqModel): String = {
    val bb = java.nio.ByteBuffer.allocate(model.codebook.length * 4)
    model.codebook.foreach(bb.putFloat)
    val b64 = java.util.Base64.getEncoder.encodeToString(bb.array())
    s"""{"m":${model.m},"k":${model.k},"subDim":${model.subDim},"codebook":"$b64"}"""
  }

  private[operators] def modelFromJson(s: String): PqModel = {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val j = org.json4s.jackson.JsonMethods.parse(s)
    val bytes = java.util.Base64.getDecoder.decode((j \ "codebook").extract[String])
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val cb = Array.fill(bytes.length / 4)(bb.getFloat)
    PqModel((j \ "m").extract[Int], (j \ "k").extract[Int],
      (j \ "subDim").extract[Int], cb)
  }

  /** Session-cached (model, codes-table) for a source: load the persisted
    * home or fit + encode + publish atomically. The codes table is
    * id-sorted (id, pq) — dim/m·¼ of the source bytes (64-dim float32 at
    * m=8: 32× less). */
  def serveCodes(
      spark: org.apache.spark.sql.SparkSession, sourcePath: String,
      df: => DataFrame, idCol: String, vecCol: String,
      m: Int = 8, k: Int = 256, variant: String = ""): (PqModel, DataFrame) = {
    val home = indexPathFor(spark, sourcePath, m, k, variant)
    family.serve(spark, home, sourcePath) {
      val fs = IndexStore.ensureBuilt(spark, home, Sidecar) { (fs, tmp) =>
        val model = fit(df, idCol, vecCol, m, k)
        encodeFrame(df, vecCol, model)
          .select(col(idCol).as("id"), col("pq"))
          .orderBy("id")
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(new org.apache.hadoop.fs.Path(tmp, "data").toString)
        IndexStore.writeString(fs, new org.apache.hadoop.fs.Path(tmp, Sidecar),
          modelToJson(model))
      }
      val model = modelFromJson(IndexStore.readSidecar(fs, home, Sidecar))
      (model, spark.read.parquet(s"$home/data").cache())
    }
  }

  /** Serving-shape KNN: ADC shortlist from the persisted codes table,
    * exact cosine re-rank of the R full vectors fetched through the shared
    * [[VectorSearch.fetchShortlist]] seam — In(id…) pushdown (row-group
    * pruning on id stats) for narrow shortlists, broadcast join past the
    * threshold. The codes table and the fetch never scan full-precision
    * vectors beyond the shortlist. */
  def knnIndexed(
      spark: org.apache.spark.sql.SparkSession, sourcePath: String,
      df: => DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int, rerank: Int = 0,
      m: Int = 8, kCent: Int = 256, inPushdownMax: Int = 8192,
      metric: String = HnswIndex.MetricCosine, variant: String = ""): DataFrame = {
    val r = math.max(if (rerank > 0) rerank else 10 * k, k)
    val (model, codes) =
      serveCodes(spark, sourcePath, df, idCol, vecCol, m, kCent, variant)
    val cand = knnEncoded(codes, "id", "pq", query, r, model, metric)
      .select(col("id").as(idCol))
    VectorSearch.fetchShortlist(df, Seq(idCol), cand, r, inPushdownMax)
      .withColumn("score", VectorSearch.exactScoreCol(metric, col(vecCol), query))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("score"))
  }
}
