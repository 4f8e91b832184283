package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VecFunctions._

/** Quantized vector search — the compressed-scan ANN path.
  *
  * The reference's vector serving is a pgvector index probe
  * (pgml-sdks/pgml/src/pipeline.rs:526-543); pgvector's public answer to
  * corpora that outgrow a full-precision scan is quantization (bit /
  * halfvec expression indexes) with an exact re-rank of the shortlist.
  * This operator is that capability, Spark-shaped:
  *
  * **Binary path.** Each embedding's sign bits pack into `dim/64` longs
  * (64-dim float32: 256 B → 8 B, 32×). Candidate generation is a scan of
  * the packed column ordered by Hamming distance to the query signature —
  * integer xor/popcount inside whole-stage codegen, merged by
  * `TakeOrderedAndProject` (per-partition heaps, no shuffle). The top-R
  * shortlist is then re-ranked by exact cosine for the final top-k. With a
  * persisted signature index ([[binaryKnnIndexed]]) the candidate scan
  * reads ONLY the skinny (id, sig) table — at 100 TB of embeddings that's
  * ~3 TB of signature bytes instead of the full corpus — and the re-rank
  * fetches R full vectors by an `In(id, …)` filter that prunes parquet
  * row groups on id stats (the index is written id-sorted for exactly
  * that reason).
  *
  * **SQ8 path.** Per-dimension affine uint8 codes (4× compression) scored
  * by asymmetric distance: weights/base precomputed once per query, so the
  * scan is a byte-dot — no dequantization per row. Recall is near-exact at
  * 8 bits (code error ≤ scale/2 per dim); the same re-rank pattern applies
  * when exactness matters.
  *
  * Both candidate orders are total (distance, then id), so results are
  * deterministic and SQL-replayable — the v11/v12 oracle queries replay
  * the full pack → Hamming → re-rank / fit → encode → ADC pipeline in
  * DuckDB.
  */
object Quantized {

  /** Pack a query vector's sign bits exactly like [[graft.functions.QuantKernels.signPackF]]. */
  def packQuery(q: Array[Float]): Array[Long] = {
    val words = new Array[Long]((q.length + 63) >>> 6)
    var i = 0
    while (i < q.length) {
      if (q(i) > 0f) words(i >>> 6) |= 1L << (i & 63)
      i += 1
    }
    words
  }

  /** One-pass binary-prefilter KNN over `df(idCol, vecCol)`: order by
    * (Hamming to query signature, id), keep `rerank` candidates (default
    * 10k), exact re-rank to top-k under `metric` ∈ {cosine, l2, ip}. One
    * scan; the win over brute force is compute (xor/popcount vs a
    * 2·dim-flop cosine per row). Sign-bit Hamming is an ANGULAR proxy
    * (pgvector's `bit_hamming_ops` story): under l2/ip on un-normalized
    * vectors the shortlist ignores magnitude, so recall is governed by the
    * re-rank width — exactly the published binary-quantization trade. */
  def binaryKnn(
      df: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int, rerank: Int = 0,
      metric: String = HnswIndex.MetricCosine): DataFrame = {
    val r = math.max(if (rerank > 0) rerank else 10 * k, k)
    val qSig = typedLit(packQuery(query))
    val cand = df.select(col(idCol), col(vecCol))
      .withColumn("__ham", vecHamming(vecSignPack(col(vecCol)), qSig))
      .orderBy(col("__ham").asc, col(idCol).asc)
      .limit(r)
    cand
      .withColumn("score", VectorSearch.exactScoreCol(metric, col(vecCol), query))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("score"))
  }

  /** Indexed binary KNN: candidates from the persisted skinny signature
    * table (built once per source, [[serveSignatures]]), full vectors
    * fetched for the R candidates only via an id `In` filter pushed to the
    * parquet scan. Results are identical to [[binaryKnn]] — same total
    * candidate order — but the candidate scan reads 1/32 of the bytes. */
  def binaryKnnIndexed(
      spark: SparkSession, sourcePath: String, df: => DataFrame,
      idCol: String, vecCol: String,
      query: Array[Float], k: Int, rerank: Int = 0,
      inPushdownMax: Int = 8192,
      metric: String = HnswIndex.MetricCosine,
      variant: String = ""): DataFrame = {
    val r = math.max(if (rerank > 0) rerank else 10 * k, k)
    val qSig = typedLit(packQuery(query))
    val sigs = serveSignatures(spark, sourcePath, df, idCol, vecCol, variant)
    val cand = sigs
      .withColumn("__ham", vecHamming(col("sig"), qSig))
      .orderBy(col("__ham").asc, col("id").asc)
      .limit(r)
      .select(col("id").as(idCol))
    VectorSearch.fetchShortlist(df, Seq(idCol), cand, r, inPushdownMax)
      .withColumn("score", VectorSearch.exactScoreCol(metric, col(vecCol), query))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("score"))
  }

  // ---- persisted signature index (IndexStore home, like IVF/HNSW) ----

  private val FormatVersion = 1
  private val Sidecar = "meta.json"
  // session cache of served skinny tables — shared serve/prune layer
  private val family =
    new IndexStore.Family[DataFrame]("binsig", FormatVersion)(_.unpersist())

  /** Where the signature index for a source lives — a source rewrite
    * resolves to a fresh home. */
  def indexPathFor(spark: SparkSession, sourcePath: String,
      variant: String = ""): String =
    family.homeFor(spark, sourcePath, s"var=$variant")

  /** Serve the (id, sig) table for a source from the session cache; on
    * miss, load the persisted home or build-and-publish it (id-sorted so
    * the re-rank's id-lookup prunes row groups; atomic-rename publish so
    * concurrent builders race safely). */
  def serveSignatures(
      spark: SparkSession, sourcePath: String, df: => DataFrame,
      idCol: String, vecCol: String, variant: String = ""): DataFrame = {
    val home = indexPathFor(spark, sourcePath, variant)
    family.serve(spark, home, sourcePath) {
      IndexStore.ensureBuilt(spark, home, Sidecar) { (fs, tmp) =>
        df.select(col(idCol).as("id"), vecSignPack(col(vecCol)).as("sig"))
          .orderBy("id")
          .write.mode(SaveMode.Overwrite).parquet(new Path(tmp, "data").toString)
        IndexStore.writeString(fs, new Path(tmp, Sidecar),
          s"""{"format":$FormatVersion}""")
      }
      spark.read.parquet(s"$home/data").cache()
    }
  }

  // ---- SQ8 scalar quantization ----

  /** Per-dimension affine quantizer: `code = round((v - min) / scale)`,
    * `scale = (max - min) / 255`. Mins/maxes come from one partial-merge
    * pass ([[graft.functions.VectorAggregates]]). */
  final case class Sq8Model(mins: Array[Double], scales: Array[Double]) {
    require(mins.length == scales.length, "mins/scales length mismatch")
    def dim: Int = mins.length
  }

  /** Fit the quantizer: one vecMin/vecMax aggregate over the corpus. */
  def sq8Fit(df: DataFrame, vecCol: String): Sq8Model = {
    val row = df.agg(
      vecMinAgg(col(vecCol)).as("mins"),
      vecMaxAgg(col(vecCol)).as("maxs")).head()
    val mins = row.getSeq[Double](0).toArray
    val maxs = row.getSeq[Double](1).toArray
    val scales = mins.indices.map(i => (maxs(i) - mins(i)) / 255.0).toArray
    Sq8Model(mins, scales)
  }

  /** Append the SQ8 code column (`binary`, dim bytes — 4× smaller than
    * float32) for persistence or scanning. */
  def sq8EncodeFrame(df: DataFrame, vecCol: String, model: Sq8Model,
      codesCol: String = "sq8"): DataFrame =
    df.withColumn(codesCol,
      sq8Encode(col(vecCol), typedLit(model.mins), typedLit(model.scales)))

  /** Higher-is-closer ADC score column for `codes` under `metric`
    * (pgvector's three ops classes), all query-side work precomputed:
    *   - ip:     base + Σ wᵢ·cᵢ (the classic linear ADC dot);
    *   - l2:     −‖q − v̂‖² via the quadratic ADC (one fused
    *             multiply-add per dim — never dequantizes);
    *   - cosine: dot / (‖q‖·‖v̂‖) with BOTH numerator and the
    *             reconstructed row norm read off the codes (two ADC
    *             passes per row; a degenerate v̂ = 0 scores 0).
    * Every branch stays inside whole-stage codegen and is
    * SQL-replayable — the v12/v21 oracles replay it term for term. */
  def sq8ScoreCol(codes: org.apache.spark.sql.Column, query: Array[Float],
      model: Sq8Model, metric: String): org.apache.spark.sql.Column = {
    require(query.length == model.dim,
      s"query dim ${query.length} != model dim ${model.dim}")
    val qd = query.map(_.toDouble)
    metric match {
      case HnswIndex.MetricIp | HnswIndex.MetricCosine =>
        val weights = model.mins.indices.map(i => qd(i) * model.scales(i)).toArray
        val base = model.mins.indices.map(i => qd(i) * model.mins(i)).sum
        val dot = sq8AdcDot(codes, typedLit(weights), lit(base))
        if (metric == HnswIndex.MetricIp) dot
        else {
          val qn = math.sqrt(qd.map(x => x * x).sum)
          val nw = model.mins.indices.flatMap(i => Seq(
            2.0 * model.mins(i) * model.scales(i),
            model.scales(i) * model.scales(i))).toArray
          val nbase = model.mins.map(m => m * m).sum
          val norm2 = sq8AdcPoly(codes, typedLit(nw), lit(nbase))
          when(norm2 > 0.0 && lit(qn) > 0.0, dot / (lit(qn) * sqrt(norm2)))
            .otherwise(lit(0.0))
        }
      case HnswIndex.MetricL2 =>
        val a = model.mins.indices.map(i => qd(i) - model.mins(i))
        val w = model.mins.indices.flatMap(i => Seq(
          2.0 * a(i) * model.scales(i),
          -model.scales(i) * model.scales(i))).toArray
        val base = -a.map(x => x * x).sum
        sq8AdcPoly(codes, typedLit(w), lit(base))
      case other => throw new IllegalArgumentException(
        s"unknown metric '$other' (expected cosine | l2 | ip)")
    }
  }

  /** Top-k by ADC score against the SQ8 codes under `metric` (default ip —
    * the classic byte-dot): the scan is query-precomputed weighted byte
    * arithmetic merged by TakeOrderedAndProject. Output (idCol, qscore),
    * ordered (qscore desc, id) — qscore is higher-is-closer under every
    * metric (−distance² for l2). */
  def sq8Knn(
      df: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int, model: Sq8Model,
      metric: String = HnswIndex.MetricIp): DataFrame =
    df.select(col(idCol),
        sq8ScoreCol(
          sq8Encode(col(vecCol), typedLit(model.mins), typedLit(model.scales)),
          query, model, metric).as("qscore"))
      .orderBy(col("qscore").desc, col(idCol).asc)
      .limit(k)

  /** [[sq8Knn]] over a frame that already carries the code column (the
    * persisted-codes serving shape: scan (id, sq8) — a quarter of the
    * full-precision bytes — and never touch the float vectors). */
  def sq8KnnEncoded(
      df: DataFrame, idCol: String, codesCol: String,
      query: Array[Float], k: Int, model: Sq8Model,
      metric: String = HnswIndex.MetricIp): DataFrame =
    df.select(col(idCol),
        sq8ScoreCol(col(codesCol), query, model, metric).as("qscore"))
      .orderBy(col("qscore").desc, col(idCol).asc)
      .limit(k)
}
