package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** ONE driver-local ANN serving entry across the index families with an
  * in-process tier (HNSW / IVF / IVF-PQ) — so a deployed-index resolution
  * or any future caller cannot pick a family without its local tier.
  *
  * The facade adds NO arithmetic of its own: each arm resolves the same
  * persisted home as the family's distributed query (same build knobs →
  * same mtime-hashed key) and calls the family's `searchLocal`, which its
  * own spec pins bit-identical to the distributed path. Unknown families
  * refuse loudly. The reference's serving counterpart is the in-process
  * HNSW probe behind `vector_search` (pgml-sdks pipeline.rs:526-543 —
  * build-once, serve-from-memory); this is that tier with a family switch.
  */
object AnnServing {

  /** Build/serve knobs — per-family defaults equal the distributed entry
    * points' defaults, so `localProber(family, src, …)` with default
    * params serves the SAME home a default distributed query built. */
  final case class LocalParams(
      metric: String = IvfIndex.MetricCosine,
      // hnsw build (HnswIndex.serveOrBuild defaults) + probe width
      hnswM: Int = 16, efConstruction: Int = 64, numPartitions: Int = 0,
      ef: Int = 0,
      // ivf (IvfIndex.serveOrBuild default nlist = 0 → ~√N; nassign
      // below is shared with ivfpq — 1 = single assignment, the
      // reference IVFFlat shape; 3 = the spill-copy recall default)
      nlist: Int = 0, nprobe: Int = 4,
      // ivfpq (IvfPq.searchLocal defaults)
      pqNlist: Int = 16, m: Int = 8, kCent: Int = 32, nassign: Int = 3,
      rerank: Int = 0, byResidual: Boolean = false, variant: String = "")

  val Families: Seq[String] = Seq("hnsw", "ivf", "ivfpq")

  /** In-process top-k over `sourcePath`'s vectors, (id, score) best-first,
    * ties by id — zero Spark jobs once the family's local tier is warm.
    * Acquiring the handle resolves the source's mtime-hashed home (an
    * `exists` + `listStatus` — measured ~0.35 ms on a local FS, a third of
    * the whole HNSW probe), which a server holding thousands of requests
    * per handle should pay ONCE. The returned closure probes the home
    * resolved at acquisition: acquire a prober per request batch; a
    * source rewritten after acquisition is picked up on the next
    * acquisition. A one-shot call is `localProber(...)(query, k)`. */
  def localProber(
      spark: SparkSession, family: String, sourcePath: String,
      df: => DataFrame, idCol: String, vecCol: String,
      params: LocalParams = LocalParams()): (Array[Float], Int) => Seq[(Long, Double)] =
    family match {
      case "hnsw" =>
        val idx = HnswIndex.serveOrBuild(spark, sourcePath, df, vecCol, idCol,
          params.hnswM, params.efConstruction, params.numPartitions, params.metric)
        (q, k) => idx.searchLocal(q, k, params.ef)
      case "ivf" =>
        val idx = IvfIndex.serveOrBuild(spark, sourcePath, df, vecCol,
          params.nlist, params.metric, params.nassign)
        (q, k) => idx.searchLocal(q, k, params.nprobe, idCol)
      case "ivfpq" =>
        IvfPq.localProbe(spark, sourcePath, df, idCol, vecCol,
          params.nprobe, params.rerank, params.pqNlist, params.m,
          params.kCent, params.nassign, params.metric, params.byResidual,
          params.variant)
      case other => throw new IllegalArgumentException(
        s"unknown ANN family '$other' — localProber serves ${Families.mkString("/")}")
    }

  /** Families with a PREPARED distributed probe ([[distributedProber]]).
    * IVF-PQ's distributed path stays plan-based (composite-keyed codes;
    * its driver-local tier is the latency path) — refused here rather
    * than silently served through a different mechanism. */
  val DistributedFamilies: Seq[String] = Seq("hnsw", "ivf")

  /** Resolve-once DISTRIBUTED probe handle — [[localProber]]'s twin over
    * the prepared serving paths ([[HnswIndex.serveDistributed]] /
    * [[IvfIndex.serveDistributed]]): one RDD job per request, zero
    * per-query Catalyst work, results spec-pinned bit-identical to the
    * family's plan-based search. This is the tier for forests too large
    * (or too hot) for driver residency: per-request work is P
    * process-local tasks (HNSW) or exactly nprobe pruned tasks (IVF)
    * plus a tiny driver merge, and the executors hold the index. Same
    * acquisition contract as [[localProber]]: the home resolves once per
    * handle; re-acquire to pick up a rewritten source. */
  def distributedProber(
      spark: SparkSession, family: String, sourcePath: String,
      df: => DataFrame, idCol: String, vecCol: String,
      params: LocalParams = LocalParams()): (Array[Float], Int) => Seq[(Long, Double)] =
    family match {
      case "hnsw" =>
        val idx = HnswIndex.serveOrBuild(spark, sourcePath, df, vecCol, idCol,
          params.hnswM, params.efConstruction, params.numPartitions, params.metric)
        (q, k) => idx.serveDistributed(q, k, params.ef).toSeq
      case "ivf" =>
        val idx = IvfIndex.serveOrBuild(spark, sourcePath, df, vecCol,
          params.nlist, params.metric, params.nassign)
        (q, k) => idx.serveDistributed(q, k, params.nprobe, idCol).toSeq
      case other => throw new IllegalArgumentException(
        s"unknown ANN family '$other' — distributedProber serves " +
          DistributedFamilies.mkString("/"))
    }
}
