package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AnnServing, LocalResidency}

/** Residency cap over the driver-local ANN tier caches: with
  * `LocalResidency.maxBytes` set, registering one family's tier evicts
  * the least-recently-probed other tiers (bounded co-residency — the
  * r16 sf100 finding: three 5M tiers need ~40 GB); an evicted tier
  * rebuilds transparently on its next probe with bit-identical results;
  * explicit evict/evictAll work regardless of the cap. */
class AnnResidencySpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  private lazy val emb = Tables.load(spark, TestSpark.sf0001, "embeddings")
  private lazy val src = s"${TestSpark.sf0001}/embeddings.parquet"
  private def queryVec(id: Long): Array[Float] =
    emb.where($"vec_id" === id).select("embedding").as[Array[Float]].head()
  private val p = AnnServing.LocalParams(nlist = 16, pqNlist = 8, kCent = 16, rerank = 100)

  private def probe(family: String, q: Array[Float]): Seq[(Long, Double)] =
    AnnServing.localProber(spark, family, src, emb, "vec_id", "embedding", p)(q, 10)

  test("the cap defaults ON at half the JVM heap (no knob set)") {
    // r17 verdict #8: without a default, a serving JVM sized for one
    // family is OOM'd by a stray probe on another. The spec JVM sets no
    // -Dgraft.ann.localResidencyMaxBytes, so the object must have
    // initialized to maxMemory/2 (every mutating test restores its
    // saved previous value, so the init value is still observable).
    assert(sys.props.get("graft.ann.localResidencyMaxBytes").isEmpty)
    assert(LocalResidency.maxBytes == Runtime.getRuntime.maxMemory() / 2,
      s"default cap ${LocalResidency.maxBytes} != maxMemory/2")
  }

  test("under a byte cap, a stray probe on another family evicts LRU instead of accumulating") {
    val q = queryVec(3L)
    LocalResidency.evictAll()
    val prev = LocalResidency.maxBytes
    try {
      LocalResidency.maxBytes = 0L
      val hnswHits = probe("hnsw", q)
      val hnswBytes = LocalResidency.usedBytes
      assert(hnswBytes > 0, "hnsw tier must register its footprint")
      assert(LocalResidency.resident.map(_._1) == Seq("hnsw"))

      // cap below hnsw+ivf co-residency: the stray ivf probe must evict
      // the (now least-recently-used) hnsw tier, not OOM past the budget
      LocalResidency.maxBytes = hnswBytes + hnswBytes / 2
      val ivfHits = probe("ivf", q)
      assert(ivfHits.nonEmpty)
      val fams = LocalResidency.resident.map(_._1)
      assert(fams == Seq("ivf"), s"expected hnsw evicted, resident: $fams")
      // co-residency is bounded to the one (possibly over-budget) live
      // tier — the cap never evicts the tier being registered itself
      assert(LocalResidency.usedBytes == LocalResidency.resident.map(_._3).sum)

      // the evicted tier rebuilds transparently, bit-identical — and its
      // registration now pressures ivf out (LRU under the same cap)
      assert(probe("hnsw", q) == hnswHits, "post-eviction rebuild diverged")
      assert(LocalResidency.resident.map(_._1) == Seq("hnsw"))

      // a repeated probe is a cache hit: the tier stays, bytes stable
      val before = LocalResidency.usedBytes
      assert(probe("hnsw", q) == hnswHits)
      assert(LocalResidency.usedBytes == before)
    } finally {
      LocalResidency.maxBytes = prev
      LocalResidency.evictAll()
    }
  }

  test("LRU keeps the HOT tier: touching updates recency before pressure arrives") {
    val q = queryVec(9L)
    LocalResidency.evictAll()
    val prev = LocalResidency.maxBytes
    try {
      LocalResidency.maxBytes = 0L
      probe("hnsw", q)
      probe("ivf", q)
      // hnsw is older; touch it hot, then let ivfpq's registration evict
      probe("hnsw", q)
      val total = LocalResidency.usedBytes
      LocalResidency.maxBytes = total // any new tier must evict the LRU (ivf)
      probe("ivfpq", q)
      val fams = LocalResidency.resident.map(_._1)
      assert(!fams.contains("ivf"), s"cold ivf should evict first, resident: $fams")
      assert(fams.contains("hnsw"), s"hot hnsw must survive, resident: $fams")
    } finally {
      LocalResidency.maxBytes = prev
      LocalResidency.evictAll()
    }
  }

  test("explicit evictAll clears every tier even uncapped; probes still serve") {
    val q = queryVec(21L)
    LocalResidency.evictAll()
    val a = probe("hnsw", q)
    probe("ivf", q)
    assert(LocalResidency.resident.size == 2)
    LocalResidency.evictAll()
    assert(LocalResidency.resident.isEmpty && LocalResidency.usedBytes == 0L)
    assert(probe("hnsw", q) == a)
  }
}
