package graft.operators

/** Byte-accounted LRU registry over the DRIVER-LOCAL ANN tiers (HNSW
  * graph arrays, IVF flat postings, IVF-PQ codes + re-rank vector
  * snapshots). Each tier is an [[IndexStore.Slot]], the only caller of
  * [[register]], [[touch]] and [[release]]. The r16 sf100 measurement:
  * three co-resident 5M local tiers need ~40 GB of heap — without a cap,
  * a serving JVM sized for ONE family is OOM'd by a single stray probe on
  * another. With [[maxBytes]] set, registering a tier evicts
  * least-recently-PROBED tiers until the total fits; the newly registered
  * tier itself is never evicted (serving must work even when one tier
  * alone exceeds the budget — the cap bounds co-residency, not the
  * workload).
  *
  * Eviction releases the tier's slot; the next probe through the slot
  * rebuilds it transparently (one collect job), bit-identical results.
  * Explicit [[evict]]/[[evictAll]] work regardless of the cap.
  */
object LocalResidency {

  /** Total driver-heap budget for local ANN tiers; 0 = uncapped.
    * Default: half of `Runtime.maxMemory` — graph/posting arrays are the
    * dominant resident class in a serving JVM, and half the heap leaves
    * room for probe transients, the blob collect, and Spark's own
    * driver-side state. A serving box that never touches a second family
    * pays nothing, and the 40 GB three-tier co-residency OOM cannot happen
    * out of the box. */
  @volatile var maxBytes: Long = Runtime.getRuntime.maxMemory() / 2

  private final case class Entry(bytes: Long, evict: () => Unit)

  // access-ordered: iteration order == least-recently-used first
  private val entries =
    new java.util.LinkedHashMap[(String, String), Entry](16, 0.75f, true)

  /** Record (or replace) a resident tier and enforce the budget against
    * everything ELSE. `evict` must drop the owning slot's value
    * (idempotent, and lock-free: it runs on the registering thread). */
  private[operators] def register(family: String, key: String, bytes: Long)(evict: () => Unit): Unit = {
    val victims = entries.synchronized {
      entries.put((family, key), Entry(bytes, evict))
      collectVictims(exclude = (family, key))
    }
    victims.foreach(_.evict())
  }

  /** Bump a tier's recency (call on every probe that serves from it). */
  private[operators] def touch(family: String, key: String): Unit =
    entries.synchronized { entries.get((family, key)); () }

  /** Remove a tier the owner already dropped itself (no callback). */
  private[operators] def release(family: String, key: String): Unit =
    entries.synchronized { entries.remove((family, key)); () }

  /** Explicitly evict one tier: callback + removal. No-op if absent. */
  def evict(family: String, key: String): Unit = {
    val e = entries.synchronized { Option(entries.remove((family, key))) }
    e.foreach(_.evict())
  }

  /** Explicitly evict every registered tier. */
  def evictAll(): Unit = {
    val es = entries.synchronized {
      val vs = new scala.collection.mutable.ArrayBuffer[Entry](entries.size)
      entries.values.forEach(e => { vs += e; () })
      entries.clear()
      vs.toSeq
    }
    es.foreach(_.evict())
  }

  def usedBytes: Long = entries.synchronized {
    var s = 0L; entries.values.forEach(e => s += e.bytes); s
  }

  /** (family, key, bytes) in LRU order — oldest probe first. */
  def resident: Seq[(String, String, Long)] = entries.synchronized {
    val out = new scala.collection.mutable.ArrayBuffer[(String, String, Long)](entries.size)
    entries.forEach((k, e) => { out += ((k._1, k._2, e.bytes)); () })
    out.toSeq
  }

  // caller holds the lock; removes victims from the map, returns their
  // callbacks to run outside the lock (an evict that re-enters register
  // must not deadlock)
  private def collectVictims(exclude: (String, String)): Seq[Entry] = {
    val cap = maxBytes
    if (cap <= 0L) return Nil
    var total = 0L
    entries.values.forEach(e => total += e.bytes)
    if (total <= cap) return Nil
    val victims = scala.collection.mutable.ArrayBuffer.empty[Entry]
    val it = entries.entrySet().iterator()
    while (total > cap && it.hasNext) {
      val e = it.next()
      if (e.getKey != exclude) {
        victims += e.getValue
        total -= e.getValue.bytes
        it.remove()
      }
    }
    victims.toSeq
  }
}
