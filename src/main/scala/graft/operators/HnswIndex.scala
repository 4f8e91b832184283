package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** HNSW approximate nearest neighbour — the reference's actual index type
  * (pgvector HNSW built per pipeline field with `m` / `ef_construction`,
  * pgml-sdks/pgml/src/pipeline.rs:526-543, defaults 16/64 at :66-73),
  * re-expressed for Spark's execution model.
  *
  * A single monolithic navigable-small-world graph doesn't fit a shared-
  * nothing cluster (every hop is a potential network round trip), so the
  * index is a FOREST: embeddings are hash-partitioned by id and each
  * partition builds its own in-memory HNSW graph via `mapPartitions`. A
  * query broadcasts the vector, runs the classic layered search inside
  * every graph (log-ish distance evaluations per partition instead of a
  * full scan), and merges the per-partition top-k — a tiny (partitions × k)
  * global sort. Deserialized graphs are cached per executor, so repeated
  * queries touch no parquet at all: the serving shape of the reference's
  * in-Postgres HNSW probe, with the scan parallelism of Spark.
  *
  * Scale: per-partition graph size is bounded by the partitioning (default
  * ~100k vectors/graph); 100 TB of embeddings = more partitions, not bigger
  * graphs. Build is embarrassingly parallel and one-pass. Every query costs
  * P·O(ef·log n_p) distance evaluations vs the brute-force scan's N — the
  * win grows with n_p, and unlike IVF no recall is lost to centroid
  * assignment; recall is governed by `ef` alone.
  *
  * Determinism: level draws come from splitmix64 seeded per (seed,
  * partition), and partitioning is hash-by-id with a sort within
  * partitions, so rebuilding over identical data yields identical graphs.
  */
// serialVersionUID pinned to the persisted-blob value: method additions
// must never orphan existing homes (field/layout changes bump
// HnswIndex.FormatVersion instead, which re-keys the home)
@SerialVersionUID(18148164732676662L)
final class HnswGraph(
    val dim: Int,
    val m: Int,
    val efConstruction: Int,
    val ids: Array[Long],
    val vecs: Array[Float], // n × dim, flat row-major
    val norms: Array[Double],
    val neighbors: Array[Array[Array[Int]]], // node → layer (0..level) → nbrs
    val entryPoint: Int,
    val maxLevel: Int,
    val metric: String = HnswIndex.MetricCosine) extends Serializable {

  def size: Int = ids.length

  /** Driver-heap footprint of the graph's primitive arrays (headers
    * approximated at 16 B per nested array) — the [[LocalResidency]]
    * accounting unit. */
  def residentBytes: Long = {
    var b = 8L * ids.length + 4L * vecs.length + 8L * norms.length
    var i = 0
    while (i < neighbors.length) {
      val layers = neighbors(i)
      var l = 0
      while (l < layers.length) { b += 4L * layers(l).length + 16L; l += 1 }
      b += 16L
      i += 1
    }
    b
  }

  // pgvector's three operator classes (reference default vector_cosine_ops,
  // pipeline.rs:526-543; vector_l2_ops / vector_ip_ops for raw vectors):
  // the graph stores per-node L2 norms, so every metric's distance falls
  // out of one dot-product loop. A blob serialized before metrics existed
  // deserializes with `metric == null` → cosine, its build-time semantics.
  @transient private lazy val mcode: Int = HnswIndex.metricCode(metric)

  private def cosDist(q: Array[Float], qNorm: Double, node: Int): Double = {
    var dot = 0.0
    val off = node * dim
    var i = 0
    while (i < dim) { dot += q(i).toDouble * vecs(off + i); i += 1 }
    mcode match {
      case 1 => // squared L2 (monotone with L2; sqrt only at score time)
        qNorm * qNorm + norms(node) * norms(node) - 2.0 * dot
      case 2 => -dot // inner product: larger dot = closer
      case _ =>
        val denom = qNorm * norms(node)
        if (denom == 0.0) 1.0 else 1.0 - dot / denom
    }
  }

  /** Graph-internal distance → caller-facing score, "higher is closer" for
    * every metric: cosine similarity, NEGATED L2 distance, raw dot. */
  private def toScore(d: Double): Double = mcode match {
    case 1 => -math.sqrt(math.max(d, 0.0))
    case 2 => -d
    case _ => 1.0 - d
  }

  /** Best-first search of one layer (Malkov & Yashunin alg. 2): bounded
    * result heap of `ef`, expand until the closest open candidate is worse
    * than the worst kept result. Runs on the builder's primitive [[DHeap]]s
    * — the old `PriorityQueue[(Double, Int)]` allocated a boxed tuple and
    * compared through a boxed Ordering per visited node, which at ~ef·M
    * visits per probe was the serving path's hottest allocation site (the
    * same fix the builder got in an earlier round). Kept/evicted sets are
    * unchanged: the bound tests (`dc > res.topD`, `d < res.topD`) and the
    * evict-worst rule are identical, and the caller re-sorts by
    * (-score, id) so heap-internal tie order never reaches the output. */
  private def searchLayer(
      q: Array[Float], qNorm: Double, eps: Array[Int], ef: Int, layer: Int)
      : DHeap = {
    val visited = new java.util.BitSet(size)
    // candidates: min-heap on distance; results: max-heap (worst on top)
    val cand = new DHeap(isMin = true, cap0 = math.max(ef, 16))
    val res = new DHeap(isMin = false, cap0 = math.max(ef + 1, 16))
    var i = 0
    while (i < eps.length) {
      val ep = eps(i)
      if (!visited.get(ep)) {
        visited.set(ep)
        val d = cosDist(q, qNorm, ep)
        cand.push(d, ep); res.push(d, ep)
      }
      i += 1
    }
    var done = false
    while (!done && cand.nonEmpty) {
      val dc = cand.topD
      val c = cand.topN
      cand.pop()
      if (res.size >= ef && dc > res.topD) done = true
      else {
        val nbs = neighbors(c)(layer)
        var j = 0
        while (j < nbs.length) {
          val nb = nbs(j)
          if (!visited.get(nb)) {
            visited.set(nb)
            val d = cosDist(q, qNorm, nb)
            if (res.size < ef || d < res.topD) {
              cand.push(d, nb); res.push(d, nb)
              if (res.size > ef) res.pop()
            }
          }
          j += 1
        }
      }
    }
    res
  }

  /** Top-k by cosine similarity: greedy descent through the upper layers,
    * then an `ef`-wide layer-0 sweep. Returns (id, cosineSimilarity) sorted
    * best-first, ties broken by id. */
  def search(q: Array[Float], k: Int, ef: Int): Array[(Long, Double)] = {
    if (size == 0) return Array.empty
    var qn = 0.0
    var i = 0
    while (i < q.length) { qn += q(i).toDouble * q(i); i += 1 }
    qn = math.sqrt(qn)
    var ep = entryPoint
    var epDist = cosDist(q, qn, ep)
    var l = maxLevel
    while (l > 0) {
      var changed = true
      while (changed) {
        changed = false
        val nbs = neighbors(ep)(l)
        var j = 0
        while (j < nbs.length) {
          val d = cosDist(q, qn, nbs(j))
          if (d < epDist) { ep = nbs(j); epDist = d; changed = true }
          j += 1
        }
      }
      l -= 1
    }
    val res = searchLayer(q, qn, Array(ep), math.max(ef, k), 0)
    val out = new Array[(Long, Double)](res.size)
    var oi = out.length - 1
    while (res.nonEmpty) { // max-heap drains worst-first; fill back-to-front
      out(oi) = (ids(res.topN), toScore(res.topD))
      res.pop(); oi -= 1
    }
    out.sortBy { case (id, s) => (-s, id) }.take(k)
  }
}

/** Unboxed growable int list — the builder's neighbor lists. An
  * `ArrayBuffer[Int]` boxes every element; at ~1000 link mutations per
  * insert that allocation was a measured third of build time. */
private[operators] final class IntBuf(initial: Int = 8) {
  private var a = new Array[Int](initial)
  private var n = 0
  def +=(x: Int): Unit = {
    if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
    a(n) = x; n += 1
  }
  def length: Int = n
  def apply(i: Int): Int = a(i)
  def clear(): Unit = n = 0
  def toArray: Array[Int] = java.util.Arrays.copyOf(a, n)
}

/** Unboxed binary heap over (double key, int payload) parallel arrays —
  * the builder's candidate/result queues. `scala.PriorityQueue[(Double,
  * Int)]` allocates a tuple per push and compares through boxed Ordering;
  * this is the same heap on primitives. Tie order among equal keys is
  * heap-internal (as it was), deterministic for a fixed push sequence. */
private[operators] final class DHeap(isMin: Boolean, cap0: Int = 64) {
  private var ds = new Array[Double](math.max(cap0, 4))
  private var ns = new Array[Int](math.max(cap0, 4))
  private var n = 0
  def size: Int = n
  def nonEmpty: Boolean = n > 0
  @inline private def before(a: Double, b: Double): Boolean =
    if (isMin) a < b else a > b
  def topD: Double = ds(0)
  def topN: Int = ns(0)
  def push(d: Double, node: Int): Unit = {
    if (n == ds.length) {
      ds = java.util.Arrays.copyOf(ds, n * 2)
      ns = java.util.Arrays.copyOf(ns, n * 2)
    }
    var i = n; n += 1
    while (i > 0 && before(d, ds((i - 1) >> 1))) {
      val p = (i - 1) >> 1
      ds(i) = ds(p); ns(i) = ns(p); i = p
    }
    ds(i) = d; ns(i) = node
  }
  def pop(): Unit = {
    n -= 1
    val d = ds(n); val node = ns(n)
    var i = 0
    var done = false
    while (!done) {
      val l = 2 * i + 1; val r = l + 1
      var best = i
      var bd = d
      if (l < n && before(ds(l), bd)) { best = l; bd = ds(l) }
      if (r < n && before(ds(r), bd)) { best = r }
      if (best == i) done = true
      else { ds(i) = ds(best); ns(i) = ns(best); i = best }
    }
    ds(i) = d; ns(i) = node
  }
}

/** Incremental builder: standard HNSW insertion with the simple
  * closest-M neighbor selection and bidirectional links pruned to
  * m (upper layers) / 2m (layer 0). */
final class HnswGraphBuilder(m: Int, efConstruction: Int, seed: Long,
    metric: String = HnswIndex.MetricCosine) {
  require(m >= 2 && efConstruction >= m, s"need m>=2, efConstruction>=m; got ($m, $efConstruction)")

  private val mcode = HnswIndex.metricCode(metric)

  private val mL = 1.0 / math.log(m.toDouble)
  private var rng = seed
  private val idsB = scala.collection.mutable.ArrayBuffer.empty[Long]
  private val vecsB = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
  private val normsB = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val nbrs = scala.collection.mutable.ArrayBuffer.empty[Array[IntBuf]]
  private var entry = -1
  private var maxLevel = -1
  private var dim = -1

  def size: Int = idsB.length

  private def nextUnit(): Double = {
    // splitmix64 → uniform [0,1)
    rng += 0x9e3779b97f4a7c15L
    var z = rng
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z = z ^ (z >>> 31)
    (z >>> 11).toDouble / (1L << 53).toDouble
  }

  private def randomLevel(): Int =
    math.min((-math.log(math.max(nextUnit(), 1e-15)) * mL).toInt, 30)

  private def dist(v: Array[Float], vNorm: Double, node: Int): Double = {
    val w = vecsB(node)
    // 4 independent accumulators: breaks the loop-carried dependency the
    // JIT can't reassociate itself (build-quality decisions only — serve
    // scores come from the graph/search kernels, not this loop)
    var d0 = 0.0; var d1 = 0.0; var d2 = 0.0; var d3 = 0.0
    val n = w.length
    var i = 0
    val lim = n - 3
    while (i < lim) {
      d0 += v(i).toDouble * w(i)
      d1 += v(i + 1).toDouble * w(i + 1)
      d2 += v(i + 2).toDouble * w(i + 2)
      d3 += v(i + 3).toDouble * w(i + 3)
      i += 4
    }
    var dot = d0 + d1 + d2 + d3
    while (i < n) { dot += v(i).toDouble * w(i); i += 1 }
    mcode match {
      case 1 => vNorm * vNorm + normsB(node) * normsB(node) - 2.0 * dot
      case 2 => -dot
      case _ =>
        val denom = vNorm * normsB(node)
        if (denom == 0.0) 1.0 else 1.0 - dot / denom
    }
  }

  /** ef-bounded greedy layer sweep. Returns (dists, nodes) sorted
    * ascending by distance. */
  private def searchLayer(
      v: Array[Float], vNorm: Double, eps: Array[Int], ef: Int, layer: Int)
      : (Array[Double], Array[Int]) = {
    val visited = new java.util.BitSet(size)
    val cand = new DHeap(isMin = true)            // closest unexpanded first
    val res = new DHeap(isMin = false, ef + 1)    // worst of the best on top
    var i = 0
    while (i < eps.length) {
      val ep = eps(i)
      if (!visited.get(ep)) {
        visited.set(ep)
        val d = dist(v, vNorm, ep)
        cand.push(d, ep); res.push(d, ep)
      }
      i += 1
    }
    var done = false
    while (!done && cand.nonEmpty) {
      val dc = cand.topD; val c = cand.topN
      cand.pop()
      if (res.size >= ef && dc > res.topD) done = true
      else {
        val layerNbrs = nbrs(c)(layer)
        var j = 0
        while (j < layerNbrs.length) {
          val nb = layerNbrs(j)
          if (!visited.get(nb)) {
            visited.set(nb)
            val d = dist(v, vNorm, nb)
            if (res.size < ef || d < res.topD) {
              cand.push(d, nb); res.push(d, nb)
              if (res.size > ef) res.pop()
            }
          }
          j += 1
        }
      }
    }
    // drain the max-heap back-to-front → ascending by distance
    val n0 = res.size
    val outD = new Array[Double](n0)
    val outN = new Array[Int](n0)
    var k = n0 - 1
    while (k >= 0) { outD(k) = res.topD; outN(k) = res.topN; res.pop(); k -= 1 }
    (outD, outN)
  }

  /** Keep the mMax closest neighbors of `c` (stable ascending selection —
    * ties keep list order, like the sortBy it replaces). */
  private def prune(c: Int, cl: IntBuf, mMax: Int): Unit = {
    val cv = vecsB(c); val cn = normsB(c)
    val len = cl.length
    val ds = new Array[Double](len)
    val nsA = new Array[Int](len)
    var i = 0
    while (i < len) { nsA(i) = cl(i); ds(i) = dist(cv, cn, cl(i)); i += 1 }
    i = 1
    while (i < len) {
      val d = ds(i); val node = nsA(i)
      var j = i - 1
      while (j >= 0 && ds(j) > d) { ds(j + 1) = ds(j); nsA(j + 1) = nsA(j); j -= 1 }
      ds(j + 1) = d; nsA(j + 1) = node
      i += 1
    }
    cl.clear()
    i = 0
    while (i < mMax) { cl += nsA(i); i += 1 }
  }

  def add(id: Long, v: Array[Float]): Unit = {
    if (dim < 0) dim = v.length
    require(v.length == dim, s"vector length mismatch: $dim vs ${v.length}")
    var n2 = 0.0
    var i = 0
    while (i < v.length) { n2 += v(i).toDouble * v(i); i += 1 }
    val vNorm = math.sqrt(n2)
    val node = size
    val level = randomLevel()
    idsB += id; vecsB += v; normsB += vNorm
    nbrs += Array.fill(level + 1)(new IntBuf())
    if (entry < 0) { entry = node; maxLevel = level; return }

    // greedy descent to level+1
    var ep = entry
    var epDist = dist(v, vNorm, ep)
    var l = maxLevel
    while (l > level) {
      var changed = true
      while (changed) {
        changed = false
        val layerNbrs = nbrs(ep)(l)
        var j = 0
        while (j < layerNbrs.length) {
          val d = dist(v, vNorm, layerNbrs(j))
          if (d < epDist) { ep = layerNbrs(j); epDist = d; changed = true }
          j += 1
        }
      }
      l -= 1
    }

    // connect at layers min(level, maxLevel)..0
    var eps = Array(ep)
    l = math.min(level, maxLevel)
    while (l >= 0) {
      val (_, foundN) = searchLayer(v, vNorm, eps, efConstruction, l)
      val mMax = if (l == 0) 2 * m else m
      val take = math.min(m, foundN.length)
      val nl = nbrs(node)(l)
      var s = 0
      while (s < take) { nl += foundN(s); s += 1 }
      s = 0
      while (s < take) {
        val c = foundN(s)
        val cl = nbrs(c)(l)
        cl += node
        if (cl.length > mMax) prune(c, cl, mMax)
        s += 1
      }
      eps = foundN
      l -= 1
    }
    if (level > maxLevel) { maxLevel = level; entry = node }
  }

  def freeze(): HnswGraph = {
    val n = size
    val d = math.max(dim, 0)
    val flat = new Array[Float](n * d)
    var i = 0
    while (i < n) { System.arraycopy(vecsB(i), 0, flat, i * d, d); i += 1 }
    new HnswGraph(d, m, efConstruction, idsB.toArray, flat, normsB.toArray,
      nbrs.map(_.map(_.toArray)).toArray, entry, maxLevel, metric)
  }
}

/** A forest of per-partition HNSW graphs as a DataFrame of serialized
  * blob PARTS: `(pid int, part int, graph binary)`. A graph serializes
  * into N ≤ [[HnswIndex.blobPartBytes]] parts (the reference chunks model
  * bytes into 100 MB `pgml.files` rows the same way,
  * pgml-extension/src/orm/model.rs:296-310) so no parquet cell, row
  * group, or in-flight writer buffer is ever GB-class at wide dims —
  * the 1024-d × 5M forest's single-cell layout died on both the write
  * (writer-heap burst) and the read (vectored-read timeout over a
  * 1.4 GB column chunk). INVARIANT: each pid's parts are contiguous and
  * part-ascending within a DataFrame partition (builds emit a pid from
  * one task; loads re-group — see [[HnswIndex.blobFrame]]), which is
  * what lets every read path reassemble without per-query shuffles.
  * See [[HnswGraph]] for the model.
  *
  * `collectSrc`, when given, is an UN-grouped twin of `graphs` that the
  * driver-local tier collects instead: reassembly on the driver needs no
  * partition co-location, so a local-only serving session skips the
  * load-time grouping exchange and the columnar cache entirely. */
class HnswIndex private[operators] (
    val graphs: DataFrame,
    val cacheKey: String,
    val m: Int,
    val efConstruction: Int,
    val metric: String = HnswIndex.MetricCosine,
    collectSrc: Option[DataFrame] = None,
    numPids: Int = 0) extends Serializable {

  /** ANN top-k by cosine similarity: per-partition graph search, then a
    * (partitions × k)-row global merge. `ef` defaults to
    * max(4k, efConstruction) — the usual serve-time knob; raise it for
    * recall, lower it for latency. */
  def search(query: Array[Float], k: Int, ef: Int = 0,
      idName: String = "id"): DataFrame = {
    val spark = graphs.sparkSession
    import spark.implicits._
    val ck = cacheKey
    val efEff = if (ef > 0) math.max(ef, k) else math.max(4 * k, efConstruction)
    val q = query
    val kk = k
    val hits = graphs.select(col("pid"), col("part"), col("graph"))
      .as[(Int, Int, Array[Byte])]
      .mapPartitions { it =>
        HnswIndex.graphsFromParts(ck, it).flatMap(_.search(q, kk, efEff))
      }.toDF(idName, "score")
    hits.orderBy(col("score").desc, col(idName).asc).limit(k)
  }

  // prepared probe plumbing for [[serveDistributed]]: the blob rows as a
  // PERSISTED OBJECT-CACHE RDD. [[search]] pays two per-query costs that a
  // serving endpoint shouldn't: a full Catalyst analyze/optimize/plan of a
  // structurally identical query (only the closure-captured vector
  // changes), and an InMemoryTableScan that COPIES every blob's bytes out
  // of the columnar cache just so graphFor can ignore them on a cache hit.
  // An RDD persisted deserialized hands out REFERENCES to the cached
  // (pid, bytes) tuples — a steady-state probe job touches ~one object per
  // partition — and an evicted block recomputes from parquet lineage, so
  // the fallback story on a busy cluster is Spark's own. Built at most
  // once per index instance; released with the instance (family release /
  // invalidation), so a rewritten source never serves stale blobs.
  // Residency tradeoff, stated plainly: while BOTH the plan paths
  // (search/searchBatch over the cached DataFrame) and the prepared paths
  // are in use, the blobs are resident twice (columnar cache + object
  // cache) — GB-class at 5M nodes. A prepared-only deployment can
  // `graphs.unpersist()` after the first probe; at forest sizes where
  // this matters the driver-local tier is the designed serving shape.
  @transient private[graft] val prepared =
    new IndexStore.Slot[org.apache.spark.rdd.RDD[(Int, Int, Array[Byte])]]("hnsw")(
      IndexStore.unpersist)

  private def probeRdd: org.apache.spark.rdd.RDD[(Int, Int, Array[Byte])] = prepared {
    val spark = graphs.sparkSession
    import spark.implicits._
    // derive from the RAW part frame when one exists (loaded indexes):
    // the prepared tier then never materializes the plan paths'
    // columnar cache — at a wide 5M forest that cache is a second
    // ~21 GB resident copy built from GB-class batch buffers. The
    // repartition+sort re-establishes the grouping invariant the
    // object rows need; built (mem:) indexes use their already-grouped
    // cached frame directly.
    // pid-exact partition count: repartition(col) alone yields
    // spark.sql.shuffle.partitions partitions (mostly EMPTY at small
    // forests) and every probe job then schedules that many tasks —
    // measured 1.6× on per-request latency at sf0.1 (32 tasks for an
    // 8-graph forest). One partition per pid keeps a probe wave at
    // exactly forest-size tasks.
    val src = collectSrc
      .map(_.repartition(math.max(1, numPids), col("pid"))
        .sortWithinPartitions(col("pid"), col("part")))
      .getOrElse(graphs)
    val built = src.select(col("pid"), col("part"), col("graph"))
      .as[(Int, Int, Array[Byte])].rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    built.count() // materialize: every later probe is cache-resident
    built
  }

  /** Prepared single-query distributed probe: one RDD job over the
    * persisted blob rows — per-partition graph search via the executor
    * graph cache, then the driver merges the (partitions × k) partial hits
    * under [[search]]'s exact order (score desc, id asc). No Catalyst work
    * and no closure cleaning per query (the job's task is a named class):
    * the reference serves its probe from a prepared statement
    * over a hot index (17.5 ms, speeding-up-vector-recall-5x-with-
    * hnsw.md:81-98); this is the Spark-native equivalent — plan once,
    * submit a job per query. Results are bit-identical to
    * [[search]]`.collect()` (same per-graph search, same total order;
    * HnswSpec pins it on a tie-planted forest). Scale: P graph partitions
    * → one wave of P process-local tasks and a P×k-row driver merge —
    * at 1000 partitions that is a 10k-row sort, noise. For many queries
    * per request use [[searchBatch]]; for a driver-resident forest use
    * [[searchLocal]]. */
  def serveDistributed(query: Array[Float], k: Int, ef: Int = 0)
      : Array[(Long, Double)] = {
    val efEff = if (ef > 0) math.max(ef, k) else math.max(4 * k, efConstruction)
    val rdd = probeRdd
    rdd.sparkContext.runJob(rdd, new HnswIndex.Probe(cacheKey, query, k, efEff),
      rdd.partitions.indices).flatten
      .sortBy { case (id, s) => (-s, id) }
      .take(k)
  }

  /** Prepared batch probe: [[serveDistributed]] for a request carrying
    * several query vectors — ONE RDD job in which every graph partition
    * answers every query (the blob tuple is touched once per task, the
    * graph comes from the executor cache), then a per-query driver merge
    * under [[searchBatch]]'s exact (score desc, id asc) order. Returns
    * (query id → top-k hits) for every input query, including ties
    * resolved identically to the plan-based path (HnswSpec pins it).
    * The collect is (partitions × queries × k) rows — at 1000 partitions
    * and 25 queries that is 250k tiny rows, still driver-trivial; for
    * larger fan-ins use [[searchBatch]], whose merge is a distributed
    * window. */
  def serveBatchDistributed(queries: Seq[(Long, Array[Float])], k: Int,
      ef: Int = 0): Map[Long, Seq[(Long, Double)]] = {
    val efEff = if (ef > 0) math.max(ef, k) else math.max(4 * k, efConstruction)
    val rdd = probeRdd
    val partials = rdd.sparkContext.runJob(rdd,
      new HnswIndex.BatchProbe(cacheKey, queries, k, efEff), rdd.partitions.indices).flatten
    val byQuery = partials.groupBy(_._1)
    queries.iterator.map { case (qid, _) =>
      qid -> byQuery.getOrElse(qid, Array.empty)
        .map { case (_, id, s) => (id, s) }
        .sortBy { case (id, s) => (-s, id) }
        .take(k).toSeq
    }.toMap
  }

  /** Driver-local serving tier: search every graph IN-PROCESS and merge,
    * with zero Spark jobs after the first call (the blobs collect once and
    * deserialize into the shared graph cache). This is the reference's own
    * serving shape — an in-memory index probe inside the database process
    * (its 17.5 ms HNSW probe never schedules distributed work either) —
    * and it's what a latency-sensitive endpoint should call when the
    * forest fits one machine. The distributed [[search]]/[[searchBatch]]
    * paths remain the scale tier: same graphs, same results, executor
    * parallelism, no driver residency requirement. Results are identical
    * to [[search]] (same per-graph search, same merge order). Released by
    * residency eviction or with the handle: the graphs leave the shared
    * deserialized-graph cache too, and the next [[searchLocal]] collects
    * them again — bit-identical results, one job. */
  @transient private[graft] val local = new IndexStore.Slot[Array[HnswGraph]]("hnsw",
    Some(_.iterator.map(_.residentBytes).sum))(_ => HnswIndex.dropGraphs(_ == cacheKey))

  private def localGraphs: Array[HnswGraph] = local {
    val spark = graphs.sparkSession
    import spark.implicits._
    // collect from the UN-grouped source when one exists: driver-side
    // reassembly needs no partition co-location, so the local tier
    // skips the blobFrame grouping exchange (and at a loaded 5M-node
    // forest, a full columnar-cache materialization) entirely
    val blobs = collectSrc.getOrElse(graphs)
      .select(col("pid"), col("part"), col("graph"))
      .as[(Int, Int, Array[Byte])].collect()
    // deserialize the partition graphs CONCURRENTLY: the pids are
    // independent and graphCache is a TrieMap, while one thread walking
    // numPartitions object streams is minutes of cold-start at 5M nodes
    // (measured ~8 min single-threaded at sf100, ~1 min across 8 cores).
    // Each pid's part BYTES drop as soon as its graph exists — holding
    // the full blob set AND the full graph set doubles residency for the
    // whole cold-start (at 1024-d × 5M that double is ~21 GB).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val byPid: Seq[(Int, Seq[Int])] = blobs.indices
      .groupBy(i => blobs(i)._1).toSeq
      .map { case (pid, is) => pid -> is.sortBy(i => blobs(i)._2).toSeq }
    Await.result(
      Future.sequence(byPid.map { case (pid, is) =>
        Future {
          val parts = new Array[Array[Byte]](is.length)
          var j = 0
          while (j < is.length) {
            val (_, part, bytes) = blobs(is(j))
            require(part == j, s"HNSW home $cacheKey pid $pid: blob part " +
              s"$part found at index $j — part set incomplete or reordered")
            parts(j) = bytes
            blobs(is(j)) = null
            j += 1
          }
          HnswIndex.graphForParts(cacheKey, pid, parts)
        }
      }), Duration.Inf).toArray
  }

  /** In-process top-k (see [[localGraphs]]): returns (id, cosine) pairs
    * best-first, ties by id — no DataFrame, no job.
    *
    * The forest's graphs probe CONCURRENTLY when
    * [[HnswIndex.localParallelism]] > 1 (default: available cores): each
    * graph is searched by one thread and the per-graph results merge
    * under the same (score desc, id asc) order, so results are
    * bit-identical to the sequential walk (HnswSpec pins it) — the
    * forest layout's in-process probe then costs ~one graph's search,
    * not numPartitions of them, on a multi-core serving box. At 1 the
    * probe is single-threaded (the apples-to-apples shape against the
    * reference's one-graph in-process number). */
  def searchLocal(query: Array[Float], k: Int, ef: Int = 0): Seq[(Long, Double)] = {
    val efEff = if (ef > 0) math.max(ef, k) else math.max(4 * k, efConstruction)
    val gs = localGraphs
    // parallel dispatch only pays when a graph's search outweighs a
    // thread wakeup (~0.1-1 ms on a loaded pool): at sub-ms tiny-forest
    // probes the Future fan-out measured ~3× the whole sequential walk
    // (clean r18 board, 8×250-node graphs), while the 5M wide-dim forests
    // it was built for clear the gate by 20×. Results are identical
    // either way (same per-graph search, same merge order).
    val parallelWorthIt = gs.exists(_.size >= HnswIndex.LocalParallelMinNodes)
    val perGraph: Seq[Array[(Long, Double)]] =
      if (HnswIndex.localParallelism <= 1 || gs.length <= 1 || !parallelWorthIt)
        gs.toSeq.map(_.search(query, k, efEff))
      else {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.global
        Await.result(
          Future.traverse(gs.toSeq)(g => Future(g.search(query, k, efEff))),
          Duration.Inf)
      }
    perGraph.toArray.flatten
      .sortBy { case (id, s) => (-s, id) }
      .take(k)
      .toSeq
  }

  /** Batch ANN: top-k per query for a small set of query vectors — the
    * many-queries serving shape (a RAG request fan-in). Each partition's
    * graph deserializes ONCE and answers every query (Q·O(ef·log n_p)
    * distance evals per partition), so per-query cost amortizes the blob
    * read and task scheduling that dominate single-query latency. The only
    * shuffle is the per-query top-k window over the tiny (partitions×Q×k)
    * hit set, partitioned by query id. Output (queryIdName, idName, score,
    * rn), rn = 1..k best-first, ties by id. */
  def searchBatch(queries: Seq[(Long, Array[Float])], k: Int, ef: Int = 0,
      idName: String = "id", queryIdName: String = "query_id"): DataFrame = {
    val spark = graphs.sparkSession
    import spark.implicits._
    val ck = cacheKey
    val efEff = if (ef > 0) math.max(ef, k) else math.max(4 * k, efConstruction)
    val qs = queries
    val kk = k
    val hits = graphs.select(col("pid"), col("part"), col("graph"))
      .as[(Int, Int, Array[Byte])]
      .mapPartitions { it =>
        HnswIndex.graphsFromParts(ck, it).flatMap { g =>
          qs.iterator.flatMap { case (qid, q) =>
            g.search(q, kk, efEff).iterator.map { case (id, s) => (qid, id, s) }
          }
        }
      }.toDF(queryIdName, idName, "score")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(queryIdName))
      .orderBy(col("score").desc, col(idName).asc)
    hits.withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .where(col("rn") <= k)
      .orderBy(col(queryIdName), col("rn"))
  }

  /** Persist as a parquet table of graph blobs + a meta sidecar, published
    * atomically (the build-once contract of the reference's HNSW,
    * pipeline.rs:526-543). */
  def save(path: String): Unit = {
    val spark = graphs.sparkSession
    val fs = IndexStore.fsFor(spark, path)
    val target = fs.makeQualified(new Path(path))
    IndexStore.publishAtomic(fs, target) { tmp =>
      // Bound WRITE concurrency: a parquet writer task buffers its
      // in-flight binary cell (pages + snappy in/out), so P concurrent
      // tasks × a cell is P × ~2 cells of heap at once. With blob PARTS
      // every cell is ≤ blobPartBytes (the GB-class single-cell layout
      // that OOM'd the 1024-d × 5M save with 32 writers is gone), so the
      // bound is now just a sane writer count.
      val writers = 4
      val out =
        if (graphs.rdd.getNumPartitions > writers) graphs.coalesce(writers)
        else graphs
      out.write.mode(SaveMode.Overwrite)
        // parquet-mr checks page/row-group size only every 100 RECORDS by
        // default (parquet.{page,block}.size.row.check.min) — at ~100 MB
        // blob parts that is 10 GB buffered before the first check, and
        // the column writer's CapacityByteArrayOutputStream overflows
        // Integer.MAX_VALUE (measured: the 1024-d × 5M save died exactly
        // there). Check after every record: each part becomes its own
        // page, row groups flush at ~1 part, and writer buffering stays
        // in the one-part class.
        .option("parquet.page.size.row.check.min", "1")
        .option("parquet.block.size.row.check.min", "1")
        .parquet(new Path(tmp, "data").toString)
      IndexStore.writeString(fs, new Path(tmp, HnswIndex.Sidecar),
        s"""{"m":$m,"efConstruction":$efConstruction,"metric":"$metric"}""")
    }
  }
}

object HnswIndex {

  private val Sidecar = "meta.json"
  // bump when the graph layout or build scheme changes: the format version
  // keys the persisted home, so an old-format index is never served
  // v3: the r16 builder rework (DHeap candidate/result queues, unrolled
  // dist accumulation) changes edge selection on distance ties and ulp-
  // level distances — rebuilds no longer bit-reproduce v2 homes, so v2
  // homes must not take v3 delta segments (review finding, r16)
  // v4: blob-PART layout (pid, part, graph) — single-cell v3 homes would
  // read with a missing part column, so they are re-keyed away (r18)
  private val FormatVersion = 4

  /** pgvector's three operator classes (pipeline.rs:526-543; the reference
    * default is vector_cosine_ops). The metric is a BUILD-time property —
    * graph edges encode it — so it rides the sidecar and a mismatched load
    * is refused, never silently served. */
  val MetricCosine = "cosine"
  val MetricL2 = "l2"
  val MetricIp = "ip"

  private[operators] def metricCode(metric: String): Int = metric match {
    case null | "cosine" => 0
    case "l2" => 1
    case "ip" => 2
    case other => throw new IllegalArgumentException(
      s"unknown ANN metric '$other' (expected cosine | l2 | ip)")
  }
  /** Per-partition vector budget: graphs stay executor-memory-sized; more
    * data means more graphs, never bigger ones. */
  val DefaultPartitionBudget = 100000

  /** Thread budget for [[HnswIndex.searchLocal]]'s forest probe
    * (1 = sequential). Results are identical at any setting. */
  @volatile var localParallelism: Int = Runtime.getRuntime.availableProcessors()

  /** Smallest per-graph node count at which the parallel forest probe
    * engages (below it, thread dispatch outweighs the search itself —
    * measured ~3× a tiny forest's sequential walk); results identical
    * either way. */
  private val LocalParallelMinNodes = 8192

  // executor-local cache of deserialized graphs (keyed by (home, pid)),
  // and the session cache of served indexes (keyed by resolved persisted
  // home), whose every invalidation drops the home's graphs too
  private[graft] val graphCache =
    scala.collection.concurrent.TrieMap.empty[(String, Int), HnswGraph]
  private val family =
    new IndexStore.Family[HnswIndex]("hnsw", FormatVersion, forget = dropGraphs)({ idx =>
      idx.graphs.unpersist(); idx.prepared.release(); idx.local.release()
    })

  private[operators] def dropGraphs(home: String => Boolean): Unit =
    graphCache.keys.filter(k => home(k._1)).foreach(graphCache.remove)

  private[operators] def graphForParts(
      key: String, pid: Int, parts: Array[Array[Byte]]): HnswGraph =
    graphCache.getOrElseUpdate((key, pid), deserializeParts(parts))

  /** Blob part-size ceiling (bytes). Every serialized graph is stored as
    * N parts of at most this size — the reference's own model-bytes
    * pattern (`pgml.files` chunks at 100 MB,
    * pgml-extension/src/orm/model.rs:296-310) — so parquet cells, row
    * groups, writer buffers, and shuffle records all stay in the
    * ~100 MB class no matter the vector width, and the JVM's 2 GB
    * byte-array ceiling can never bind. `var` for spec-forced
    * multi-part layouts on tiny graphs. */
  @volatile private[graft] var blobPartBytes: Int = 100 << 20

  /** OutputStream that seals ≤`chunk`-byte parts as it fills. The first
    * buffer is presized to the (estimated, cap-bounded) payload so small
    * graphs serialize into exactly one right-sized part with no doubling
    * copies; once sealed, subsequent parts allocate at the cap. */
  private[operators] final class ChunkedBytesOutputStream(first: Int, chunk: Int)
      extends java.io.OutputStream {
    private val done = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    private var buf = new Array[Byte](math.max(first, 64))
    private var n = 0
    private def roll(): Unit =
      if (n == buf.length) { done += buf; buf = new Array[Byte](chunk); n = 0 }
    override def write(b: Int): Unit = {
      roll(); buf(n) = b.toByte; n += 1
    }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      var o = off
      var rem = len
      while (rem > 0) {
        roll()
        val take = math.min(rem, buf.length - n)
        System.arraycopy(b, o, buf, n, take)
        n += take; o += take; rem -= take
      }
    }
    def parts: Array[Array[Byte]] =
      if (n == 0 && done.nonEmpty) done.toArray
      else (done :+ java.util.Arrays.copyOf(buf, n)).toArray
  }

  /** Serialize a graph into ≤[[blobPartBytes]]-sized parts (always ≥ 1,
    * part order = stream order). */
  private[operators] def serializeParts(g: HnswGraph): Array[Array[Byte]] = {
    val cap = blobPartBytes
    val est = math.min(g.residentBytes + (g.residentBytes >> 3) + (1 << 16),
      cap.toLong).toInt
    val out = new ChunkedBytesOutputStream(est, cap)
    val oos = new java.io.ObjectOutputStream(out)
    try oos.writeObject(g) finally oos.close()
    out.parts
  }

  /** Deserialize from parts WITHOUT concatenating them: the object stream
    * reads straight across part boundaries via SequenceInputStream, so
    * peak residency is parts + graph, never parts + copy + graph. */
  private[operators] def deserializeParts(parts: Array[Array[Byte]]): HnswGraph = {
    val streams: java.util.Enumeration[java.io.InputStream] =
      new java.util.Enumeration[java.io.InputStream] {
        private var i = 0
        def hasMoreElements: Boolean = i < parts.length
        def nextElement(): java.io.InputStream = {
          val s = new java.io.ByteArrayInputStream(parts(i)); i += 1; s
        }
      }
    val ois = new java.io.ObjectInputStream(
      new java.io.SequenceInputStream(streams))
    try ois.readObject().asInstanceOf[HnswGraph] finally ois.close()
  }

  /** [[HnswIndex.serveDistributed]]'s task: the partition's graphs searched
    * for `q`. A named class, so the job's closure cleaning has nothing to
    * walk. */
  private final class Probe(key: String, q: Array[Float], k: Int, ef: Int)
      extends ((org.apache.spark.TaskContext, Iterator[(Int, Int, Array[Byte])]) =>
        Array[(Long, Double)]) with Serializable {
    override def apply(ctx: org.apache.spark.TaskContext,
        it: Iterator[(Int, Int, Array[Byte])]): Array[(Long, Double)] =
      graphsFromParts(key, it).flatMap(_.search(q, k, ef)).toArray
  }

  /** [[HnswIndex.serveBatchDistributed]]'s task: the partition's graphs
    * searched for every query, hits tagged (query id, id, score). */
  private final class BatchProbe(key: String, qs: Seq[(Long, Array[Float])], k: Int, ef: Int)
      extends ((org.apache.spark.TaskContext, Iterator[(Int, Int, Array[Byte])]) =>
        Array[(Long, Long, Double)]) with Serializable {
    override def apply(ctx: org.apache.spark.TaskContext,
        it: Iterator[(Int, Int, Array[Byte])]): Array[(Long, Long, Double)] =
      graphsFromParts(key, it).flatMap { g =>
        qs.iterator.flatMap { case (qid, q) =>
          g.search(q, k, ef).iterator.map { case (id, s) => (qid, id, s) }
        }
      }.toArray
  }

  /** Reassemble graphs from an iterator of (pid, part, bytes) rows whose
    * pids arrive in contiguous part-ascending runs (the blob-frame
    * invariant). A cached (home, pid) graph short-circuits the bytes; an
    * out-of-order or incomplete run refuses loudly rather than feeding
    * the deserializer a torn stream. */
  private[operators] def graphsFromParts(
      key: String, it: Iterator[(Int, Int, Array[Byte])]): Iterator[HnswGraph] = {
    val b = it.buffered
    new Iterator[HnswGraph] {
      def hasNext: Boolean = b.hasNext
      def next(): HnswGraph = {
        val pid = b.head._1
        val parts = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
        while (b.hasNext && b.head._1 == pid) {
          val (_, part, bytes) = b.next()
          require(part == parts.length, s"HNSW home $key pid $pid: blob " +
            s"part $part arrived at index ${parts.length} — the blob frame " +
            "must group each pid's parts contiguously, part-ascending")
          parts += bytes
        }
        graphForParts(key, pid, parts.toArray)
      }
    }
  }

  /** Build a forest over `df(idCol, vecCol)`. Partition count defaults to
    * ceil(N / partitionBudget): per-graph memory is bounded, build is one
    * `mapPartitions` pass. Ids must be castable to long. */
  def build(
      spark: SparkSession,
      df: DataFrame,
      vecCol: String,
      idCol: String,
      m: Int = 16,
      efConstruction: Int = 64,
      numPartitions: Int = 0,
      partitionBudget: Int = DefaultPartitionBudget,
      seed: Long = 42L,
      metric: String = MetricCosine): HnswIndex = {
    val graphs = buildGraphBlobs(spark, df, vecCol, idCol, m, efConstruction,
      numPartitions, partitionBudget, seed, pidOffset = 0, metric).cache()
    graphs.count() // materialize once; searches reuse the cached blobs
    new HnswIndex(graphs, s"mem:${java.util.UUID.randomUUID()}", m, efConstruction, metric)
  }

  private def buildGraphBlobs(
      spark: SparkSession,
      df: DataFrame,
      vecCol: String,
      idCol: String,
      m: Int,
      efConstruction: Int,
      numPartitions: Int,
      partitionBudget: Int,
      seed: Long,
      pidOffset: Int,
      metric: String = MetricCosine): DataFrame = {
    import spark.implicits._
    metricCode(metric) // reject unknown metrics before any job runs
    // the sizing count() runs only when the caller didn't fix a partition
    // count — on micro-batch appends the job overhead outweighs the count
    val p =
      if (numPartitions > 0) numPartitions
      else math.max(1,
        ((df.count() + partitionBudget - 1) / partitionBudget).toInt)
    val src = df
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      // hash-by-id + sort-within: deterministic node placement and
      // insertion order, so rebuilds over identical data are identical
      .repartition(p, col("id"))
      .sortWithinPartitions("id")
    val mm = m
    val efc = efConstruction
    val sd = seed
    val off = pidOffset
    val mtr = metric
    src.as[(Long, Array[Float])].mapPartitions { it =>
      val pid = off + org.apache.spark.TaskContext.getPartitionId()
      val b = new HnswGraphBuilder(mm, efc, sd ^ (pid.toLong * 0x9e3779b97f4a7c15L), mtr)
      it.foreach { case (id, v) => b.add(id, v) }
      if (b.size == 0) Iterator.empty
      else {
        // freeze+serialize transiently triples a partition's residency
        // (flat vector copy + the serialization buffer). The insert
        // loops above parallelize freely, but P wide partitions all
        // entering this section together allocate P × ~3 GB at
        // 1024-d × 312k nodes in one burst — the 5M 1024-d build died
        // here (multi-minute full GC → heartbeat timeout → job kill).
        // Bound the burst: at most four concurrent
        // freeze+serialize sections per JVM (a per-executor constraint,
        // exactly like a memory-bounded columnar writer). Parts emit
        // from ONE task, so the (pid, part) runs the read paths rely on
        // are contiguous by construction.
        HnswIndex.freezeGate.acquire()
        val parts =
          try serializeParts(b.freeze())
          finally HnswIndex.freezeGate.release()
        parts.iterator.zipWithIndex.map { case (bytes, i) => (pid, i, bytes) }
      }
    }.toDF("pid", "part", "graph")
  }

  /** Concurrency bound for the freeze+serialize tail of a graph build
    * (see [[buildGraphBlobs]]). */
  private[operators] val freezeGate = new java.util.concurrent.Semaphore(4)

  /** pid range reserved per delta segment: graph partition ids must be
    * unique across CONCURRENT appenders (the executor graph cache and
    * batch-search dedup key on (home, pid)), and "max existing pid + 1"
    * races — so each segment owns the pid block [seg << 20, (seg+1) << 20).
    * 2^20 graphs per segment at the default 100k-vector budget is ~10^11
    * vectors per micro-batch; 2^10 segments before a merge is two orders
    * past any sane merge policy. */
  private val PidSegShift = 20

  /** Append a DELTA SEGMENT to a persisted forest: build graphs over ONLY
    * `df` (the vectors a sync batch added or replaced) and add them as new
    * forest partitions under `delta/seg=N` — existing graphs are untouched
    * and never rebuilt, which is what makes a micro-batch sync O(batch)
    * instead of O(corpus). Search unions all partitions, so delta nodes
    * serve immediately; a vector that REPLACES an older one must carry a
    * fresh node id (the Collection keys ids on (doc, chunk, table
    * segment)) so the stale node's hit resolves to nothing downstream.
    * Forest-wide merge (full rebuild) is the caller's compaction policy.
    *
    * Runs under [[graft.store.DeltaTable]]'s commit protocol — write-ahead
    * seg allocation (concurrent appenders take distinct segments and
    * therefore distinct pid blocks; SaveMode.Append would have them
    * clobber the shared `_temporary` staging dir), stage-then-rename
    * publication, commit marker last — so a crashed append leaves an
    * invisible segment a retry supersedes. */
  def appendSegment(
      spark: SparkSession,
      path: String,
      df: DataFrame,
      vecCol: String,
      idCol: String,
      partitionBudget: Int = DefaultPartitionBudget,
      seed: Long = 42L,
      // callers that KNOW the batch is small pass 1 and skip the
      // partition-sizing count() job; 0 = size from a count
      numPartitions: Int = 0): Unit = {
    require(existsAt(spark, path), s"no persisted forest at $path to append to")
    val fs = IndexStore.fsFor(spark, path)
    val meta = org.json4s.jackson.JsonMethods.parse(
      IndexStore.readString(fs, new Path(path, Sidecar)))
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    // capture the pre-append frame: its plan is what a prior load() handed
    // to the CacheManager, and the post-append frame (new file listing)
    // would no longer match it for the unpersist below
    val before = blobFrame(spark, path)
    val seg = graft.store.DeltaTable.allocSegment(path, minSeg = 1,
      segParent = s"$path/delta")
    require(seg < (1 << (31 - PidSegShift)),
      s"HNSW home $path has accumulated $seg delta segments; merge (rebuild) before appending more")
    val blobs = buildGraphBlobs(spark, df, vecCol, idCol,
      (meta \ "m").extract[Int], (meta \ "efConstruction").extract[Int],
      numPartitions, partitionBudget, seed, pidOffset = seg << PidSegShift,
      // delta graphs must rank with the same metric the base was built on
      metric = (meta \ "metric").extractOpt[String].getOrElse(MetricCosine))
    graft.store.DeltaTable.stagePublishSegment(blobs, s"$path/delta", seg)
    graft.store.DeltaTable.commitSegment(path, seg)
    // drop session + executor caches so the next load sees the new blobs
    IndexStore.invalidate(path)
    try before.unpersist(true)
    catch { case _: org.apache.spark.sql.AnalysisException => () }
  }

  /** [[appendSegment]] for a batch the driver already holds: build ONE
    * graph partition in-process (same builder, same pid-derived seed, same
    * id-ascending insertion order as the distributed `numPartitions = 1`
    * path — blobs are bit-identical) and write the segment parquet
    * driver-side. An event-sized micro-batch then appends to the forest
    * with ZERO Spark jobs. Same protocol: seg allocation, stage-then-
    * rename, commit marker, cache invalidation. */
  def appendSegmentLocal(
      spark: SparkSession,
      path: String,
      rows: Seq[(Long, Array[Float])],
      seed: Long = 42L): Unit = {
    require(existsAt(spark, path), s"no persisted forest at $path to append to")
    val fs = IndexStore.fsFor(spark, path)
    val meta = org.json4s.jackson.JsonMethods.parse(
      IndexStore.readString(fs, new Path(path, Sidecar)))
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    val before = blobFrame(spark, path)
    val seg = graft.store.DeltaTable.allocSegment(path, minSeg = 1,
      segParent = s"$path/delta")
    require(seg < (1 << (31 - PidSegShift)),
      s"HNSW home $path has accumulated $seg delta segments; merge (rebuild) before appending more")
    if (rows.nonEmpty) {
      val pid = seg << PidSegShift
      val b = new HnswGraphBuilder((meta \ "m").extract[Int],
        (meta \ "efConstruction").extract[Int],
        seed ^ (pid.toLong * 0x9e3779b97f4a7c15L),
        (meta \ "metric").extractOpt[String].getOrElse(MetricCosine))
      rows.sortBy(_._1).foreach { case (id, v) => b.add(id, v) }
      graft.store.DeltaTable.publishSegmentLocal(s"$path/delta", seg,
        Seq("pid" -> "int", "part" -> "int", "graph" -> "bytes"),
        serializeParts(b.freeze()).zipWithIndex
          .map { case (bytes, i) => Seq(pid, i, bytes) }.toSeq)
    }
    graft.store.DeltaTable.commitSegment(path, seg)
    IndexStore.invalidate(path)
    try before.unpersist(true)
    catch { case _: org.apache.spark.sql.AnalysisException => () }
  }

  /** Base-graph build for a driver-held corpus: the `numPartitions = 1`
    * distributed build's graph — same pid-0 seed derivation, same
    * id-ascending insertion order, so the blob is bit-identical — built
    * in-process and published under the same `data/` + sidecar layout
    * [[load]] reads, with ZERO Spark jobs. The full-sync counterpart of
    * [[appendSegmentLocal]]: a first sync over a corpus that fits on the
    * driver shouldn't pay a count + shuffle + mapPartitions job chain to
    * build a one-partition graph. Local-FS homes only (the java.io publish
    * protocol) — callers gate on [[graft.store.DeltaTable.isLocal]]. */
  def buildLocalBase(
      spark: SparkSession, path: String, rows: Seq[(Long, Array[Float])],
      m: Int = 16, efConstruction: Int = 64, seed: Long = 42L,
      metric: String = MetricCosine): HnswIndex = {
    metricCode(metric)
    require(rows.nonEmpty, "buildLocalBase needs at least one row " +
      "(an empty corpus should fall through to the distributed build)")
    graft.store.DeltaTable.requireLocalWrites(path, "HnswIndex.buildLocalBase")
    val b = new HnswGraphBuilder(m, efConstruction, seed, metric)
    rows.sortBy(_._1).foreach { case (id, v) => b.add(id, v) }
    val fs = IndexStore.fsFor(spark, path)
    val target = fs.makeQualified(new Path(path))
    IndexStore.publishAtomic(fs, target) { tmp =>
      val dataDir = new java.io.File(new Path(tmp, "data").toUri.getPath)
      dataDir.mkdirs()
      graft.store.DeltaTable.writeParquetLocal(
        new java.io.File(dataDir, "part-00000-local.parquet"),
        Seq("pid" -> "int", "part" -> "int", "graph" -> "bytes"),
        serializeParts(b.freeze()).zipWithIndex
          .map { case (bytes, i) => Seq(0, i, bytes) }.toSeq)
      IndexStore.writeString(fs, new Path(tmp, Sidecar),
        s"""{"m":$m,"efConstruction":$efConstruction,"metric":"$metric"}""")
    }
    IndexStore.invalidate(path)
    load(spark, path)
  }

  def existsAt(spark: SparkSession, path: String): Boolean =
    IndexStore.fsFor(spark, path).exists(new Path(path, Sidecar))

  def delete(spark: SparkSession, path: String): Unit = {
    // a fixed-path home may be rebuilt in place (Collection re-sync):
    // cached graphs keyed by this home are stale the moment it's deleted,
    // and so is any CacheManager entry for the blob table — load() caches
    // by plan, and plans over the same path compare equal, so a rebuild's
    // fresh load() would silently adopt the old in-memory blobs. unpersist
    // (plan-matched, no recache) while the old files still resolve.
    IndexStore.invalidate(path)
    // guard, don't catch: deleting a never-built home (every FIRST full
    // sync) would otherwise pay a doomed analysis of `data/` whose
    // swallowed failure Spark still logs as a full ERROR stack
    if (existsAt(spark, path))
      try blobFrame(spark, path).unpersist(true)
      catch { case _: org.apache.spark.sql.AnalysisException => () }
    IndexStore.fsFor(spark, path).delete(new Path(path), true); ()
  }

  /** The forest's blob table: base graphs under `data/` plus every
    * COMMITTED `delta/seg=N` segment (crashed appends have no marker and
    * stay invisible; a pre-marker layout counts everything). Built
    * identically by load (which caches it) and by the unpersist sites (so
    * the CacheManager's plan-keyed entry can be dropped). */
  // the blob table's fixed layout — EXPLICIT on every read: parquet
  // schema inference is a Spark job per read site, and the delta-append
  // path reads the table twice per micro-batch (two pure-overhead jobs
  // on the continuous-ingest critical path)
  private val BlobSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("pid",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("part",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("graph",
      org.apache.spark.sql.types.BinaryType)))

  /** The raw part rows (no grouping guarantee) — what driver-side
    * reassembly collects. */
  private def blobFrameRaw(spark: SparkSession, path: String): DataFrame = {
    val base = spark.read.schema(BlobSchema).parquet(s"$path/data")
    val segs = IndexStore.committedDeltaSegs(spark, path)
    if (segs.isEmpty) base
    else base.unionByName(
      spark.read.schema(BlobSchema.add("seg",
          org.apache.spark.sql.types.IntegerType))
        .parquet(s"$path/delta")
        .where(col("seg").isin(segs.map(Integer.valueOf): _*))
        .drop("seg"))
  }

  /** The pid count of a persisted home (one tiny job — the blob table is
    * numPids×parts rows). Every [[blobFrame]] over a home must use THIS
    * count so plans canonicalize identically: `unpersist` on a
    * re-derived frame only drops the CacheManager entry when the plan
    * (partition count included) matches what [[load]] cached. */
  private def pidCountOf(spark: SparkSession, path: String): Int =
    blobFrameRaw(spark, path).select("pid").distinct().count().toInt

  private def blobFrame(spark: SparkSession, path: String): DataFrame =
    blobFrame(spark, path, pidCountOf(spark, path))

  private def blobFrame(spark: SparkSession, path: String, nPids: Int): DataFrame =
    // re-establish the build-time invariant the executor read paths rely
    // on — each pid's parts contiguous and part-ascending in ONE
    // partition: the parquet reader splits a multi-part file at row-group
    // boundaries, so a raw scan can hand a task half a graph. One bounded
    // exchange at load/materialization time (cached thereafter); the
    // driver-local tier bypasses it via blobFrameRaw. The partition count
    // is the FOREST size, not spark.sql.shuffle.partitions: a cached plan
    // keeps its shuffle partitioning (AQE does not re-coalesce it), and
    // every query/probe over the frame schedules one task per partition —
    // default-200 mostly-empty partitions cost 1.6× per-request latency
    // at an 8-graph forest.
    blobFrameRaw(spark, path)
      .repartition(math.max(1, nPids), col("pid"))
      .sortWithinPartitions(col("pid"), col("part"))

  /** Load a persisted forest. Graph blobs deserialize lazily per executor
    * (and stay cached there keyed by the home path), so repeated queries
    * after the first read no parquet at all. */
  def load(spark: SparkSession, path: String): HnswIndex = {
    val fs = IndexStore.fsFor(spark, path)
    val meta = org.json4s.jackson.JsonMethods.parse(
      IndexStore.readString(fs, new Path(path, Sidecar)))
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    val m = (meta \ "m").extract[Int]
    val efc = (meta \ "efConstruction").extract[Int]
    val metric = (meta \ "metric").extractOpt[String].getOrElse(MetricCosine)
    // serve from memory: an HNSW graph is an in-RAM structure by design
    // (the reference's index pages live in the DB's shared buffers);
    // without the cache every query re-reads the full blob table. The
    // raw frame rides along for the driver-local tier's collect (no
    // grouping exchange, no columnar-cache materialization).
    val nPids = pidCountOf(spark, path)
    new HnswIndex(blobFrame(spark, path, nPids).cache(), path, m, efc, metric,
      collectSrc = Some(blobFrameRaw(spark, path)), numPids = nPids)
  }

  /** Load if `path` holds a compatible forest, else build from `df` and
    * persist — only the first session pays the build. A loaded index whose
    * m/efConstruction contradict the requested ones is rebuilt, not served;
    * a loaded index whose METRIC contradicts the request is REFUSED — a
    * metric mismatch is a caller bug (pgvector likewise will not serve a
    * vector_l2_ops query plan from a vector_cosine_ops index), and silently
    * rebuilding would mask it. */
  def loadOrBuild(
      spark: SparkSession,
      path: String,
      df: => DataFrame,
      vecCol: String,
      idCol: String,
      m: Int = 16,
      efConstruction: Int = 64,
      numPartitions: Int = 0,
      metric: String = MetricCosine): HnswIndex = {
    metricCode(metric)
    if (existsAt(spark, path)) {
      val loaded = load(spark, path)
      IndexStore.requireServedMetric("HNSW", path, loaded.metric, metric)
      if (loaded.m == m && loaded.efConstruction == efConstruction) return loaded
      delete(spark, path)
    }
    val idx = build(spark, df, vecCol, idCol, m, efConstruction, numPartitions,
      metric = metric)
    idx.save(path)
    idx.graphs.unpersist()
    load(spark, path)
  }

  /** Session-cached persisted serving path (the HNSW twin of
    * [[IvfIndex.serveOrBuild]]): resolve the on-disk home from the source
    * path + mtime + build params, serve from the session cache, else load
    * or build-and-persist. */
  def serveOrBuild(
      spark: SparkSession,
      sourcePath: String,
      df: => DataFrame,
      vecCol: String,
      idCol: String,
      m: Int = 16,
      efConstruction: Int = 64,
      numPartitions: Int = 0,
      metric: String = MetricCosine): HnswIndex = {
    val home = indexPathFor(spark, sourcePath, m, efConstruction, numPartitions,
      metric)
    family.serve(spark, home, sourcePath)(
      loadOrBuild(spark, home, df, vecCol, idCol, m, efConstruction,
        numPartitions, metric))
  }

  /** The resident handle for a FIXED home its writers rebuild in place
    * (a Collection field's forest): [[loadOrBuild]] runs once, then every
    * call reuses the same instance — no pid-count job, no re-cached blob
    * frame, and ONE prepared probe RDD — until a writer drops the entry
    * ([[delete]], [[appendSegment]], [[appendSegmentLocal]]) or the
    * home's file listing changes ([[IndexStore.Family.serveFixed]]). */
  def serveFixed(
      spark: SparkSession,
      path: String,
      df: => DataFrame,
      vecCol: String,
      idCol: String,
      m: Int = 16,
      efConstruction: Int = 64): HnswIndex =
    family.serveFixed(path)(
      loadOrBuild(spark, path, df, vecCol, idCol, m, efConstruction))

  /** The family's on-disk root (spec introspection). */
  def indexRoot: String = family.root

  /** Where the persisted forest for a source table lives — keyed by build
    * params too (metric included — each ops class is its own index, as in
    * pgvector). */
  def indexPathFor(spark: SparkSession, sourcePath: String,
      m: Int = 16, efConstruction: Int = 64, numPartitions: Int = 0,
      metric: String = MetricCosine): String =
    family.homeFor(spark, sourcePath,
      s"m=$m@efc=$efConstruction@p=$numPartitions@mt=$metric")
}
