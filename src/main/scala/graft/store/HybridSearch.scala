package graft.store

import scala.collection.mutable

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.unsafe.types.UTF8String

/** The exact document top-k of [[Collection.search]], served from prepared
  * reads ([[SnapshotRead]]) with Fagin's threshold algorithm (PODS 2001)
  * instead of a per-call window → full-outer-join → sort plan.
  *
  * A metadata filter goes first: one scan of the documents read keeps the
  * ids it passes, and every arm scan then sees only those documents. A
  * round is one scan over every arm's read: per partition, each
  * document's best chunk, then the partition's `m` best documents and
  * whether that was all of them. Merged per arm, a document's best over the
  * partitions that reported it is exact once it beats `tau`, the best score
  * any partition left unreported; an arm every partition reported in full
  * knows every score, and a document it never reported adds 0, the
  * `COALESCE` 0. Documents exact in some arm are the candidates; their
  * scores in the other arms come from one more scan restricted to them.
  * Payloads are key lookups on the documents read; a candidate with no
  * documents row drops out. The round stops once `k` candidates survive
  * and the `k`-th fused score beats what any other document could reach,
  * Σ max(tau, 0) over the arms; else `m` doubles and the next round scans
  * again. */
private[store] object HybridSearch {

  /** One scored arm: a prepared read of (document_id, chunk_index, …), its
    * score bound to the read's rows, and whether only chunks scoring above
    * 0 count (the full-text arm's `@@` gate). */
  final case class Arm(read: SnapshotRead, score: Expression, positive: Boolean)

  /** A document's best chunk in one arm; `scored` false is a null score. */
  final case class Best(doc: UTF8String, chunk: Int, score: Double, scored: Boolean) {
    /** The fused sum's term, `COALESCE(score, 0.0)`. */
    def term: Double = if (scored) score else 0.0
  }

  /** One partition's report: its best documents, best first, and whether
    * they are every document the partition holds. */
  final case class Top(docs: Array[Best], exhausted: Boolean)

  /** Scores best first: SQL's double order (NaN largest, -0.0 = 0.0)
    * descending, nulls last. */
  private def byScore(a: Best, b: Best): Int =
    if (a.scored && b.scored) compareDoubles(b.score, a.score)
    else java.lang.Boolean.compare(b.scored, a.scored)

  /** `a` is one document's better chunk than `b`: the old window's
    * `ORDER BY s DESC, chunk_index` row 1. */
  private def beats(a: Best, b: Best): Boolean = {
    val s = byScore(a, b)
    s < 0 || s == 0 && a.chunk < b.chunk
  }

  /** A partition's document order: by score, ties on document_id. */
  private val topOrder: java.util.Comparator[Best] = (a, b) => {
    val s = byScore(a, b)
    if (s != 0) s else a.doc.compareTo(b.doc)
  }

  /** The round's task on a partition of arm `a`: each document's best
    * chunk among those `allowed` holds (all, when null) and, with `only`,
    * `only(a)` lists; then the `m` best documents. */
  private final class BestChunks(scores: Array[Expression], positive: Array[Boolean], m: Int,
      allowed: Broadcast[Set[UTF8String]], only: Array[Set[UTF8String]])
      extends SnapshotRead.Scan[Top] {
    override def run(a: Int, rows: Iterator[InternalRow]): Top = {
      val ok = if (allowed == null) null else allowed.value
      val keep = if (only == null) null else only(a)
      val best = new java.util.HashMap[UTF8String, Best]()
      rows.foreach { r =>
        val doc = r.getUTF8String(0)
        if ((ok == null || ok.contains(doc)) && (keep == null || keep.contains(doc))) {
          val s = scores(a).eval(r)
          val b = Best(doc, r.getInt(1), if (s == null) 0.0 else s.asInstanceOf[Double], s != null)
          if (!positive(a) || b.scored && compareDoubles(b.score, 0.0) > 0) {
            val cur = best.get(doc)
            if (cur == null || beats(b, cur)) {
              val key = if (cur == null) doc.clone() else cur.doc
              best.put(key, b.copy(doc = key))
            }
          }
        }
      }
      val docs = best.values.toArray(new Array[Best](0))
      java.util.Arrays.sort(docs, topOrder)
      if (docs.length > m) Top(docs.take(m), exhausted = false)
      else Top(docs, exhausted = true)
    }
  }

  /** The filter's task on a partition of the documents read: the ids of
    * the rows `filter` (bound to the read) holds true for. */
  private final class Passing(filter: Expression) extends SnapshotRead.Scan[Array[UTF8String]] {
    override def run(read: Int, rows: Iterator[InternalRow]): Array[UTF8String] =
      rows.filter(r => filter.eval(r) == true).map(_.getUTF8String(0).clone()).toArray
  }

  /** One arm's partition reports merged: each reported document's best over
    * the partitions that reported it, and `tau`, the best score a partition
    * left unreported (None: every partition reported every document). */
  private final class Merged(tops: Array[Top]) {
    val best = mutable.HashMap.empty[UTF8String, Best]
    tops.foreach(_.docs.foreach(b => if (best.get(b.doc).forall(beats(b, _))) best(b.doc) = b))
    val tau: Option[Best] = tops.filterNot(_.exhausted).map(_.docs.last)
      .minOption(Ordering.fromLessThan[Best](byScore(_, _) < 0))
    def exhausted: Boolean = tau.isEmpty
    /** No unreported chunk can change `doc`'s score here. */
    def exact(doc: UTF8String): Boolean = tau.forall(t => best.get(doc).exists(byScore(_, t) < 0))
    /** The most a document not known exactly here can add to a fused score. */
    def bound: Double = tau.fold(0.0)(t =>
      if (t.scored && compareDoubles(t.score, 0.0) > 0) t.score else 0.0)
  }

  /** The `k` best documents whose documents row exists and passes `filter`
    * (bound to the rows of `docs`: source_uuid, document) by the arms'
    * fused score, the arms' terms summed left to right, ties on
    * document_id: (document_id, document, score), best first. The first
    * round reports `m0` documents per partition. Payloads are fetched in
    * fused order, each fetch twice the ids of the one before, the first
    * the `k` still missing: candidates without a documents row cost O(log)
    * lookups. All jobs read one snapshot of the arms and `docs`: a publish
    * that beats one of them restarts the call on fresh plans. */
  def topK(arms: IndexedSeq[Arm], docs: SnapshotRead, filter: Option[Expression],
      k: Int, m0: Int): Seq[(String, String, Double)] = {
    require(m0 > 0, s"m0 must be positive, got $m0")
    val scores = arms.map(_.score).toArray
    val positive = arms.map(_.positive).toArray
    SnapshotRead.consistent(arms.map(_.read) :+ docs) { all =>
      val allowed = filter.map(f => docs.plan.rdd.sparkContext.broadcast(
        SnapshotRead.scan(IndexedSeq(all.last), _ => true)(new Passing(f)).head.flatten.toSet))
      try {
        if (allowed.exists(_.value.isEmpty)) Nil
        else rounds(all.init, all.last, scores, positive, allowed.orNull, k, m0)
      } finally allowed.foreach(_.destroy())
    }
  }

  /** [[topK]]'s rounds over `reads`, each arm seeing only the documents in
    * `allowed` (all, when null). */
  private def rounds(reads: IndexedSeq[SnapshotRead], docs: SnapshotRead,
      scores: Array[Expression], positive: Array[Boolean], allowed: Broadcast[Set[UTF8String]],
      k: Int, m0: Int): Seq[(String, String, Double)] = {
    // exact scores from the restricted scans, per arm; None: no chunk
    val looked = reads.map(_ => mutable.HashMap.empty[UTF8String, Option[Best]])
    // payloads of the fetched documents that have a documents row
    val payload = mutable.HashMap.empty[UTF8String, String]
    val fetched = mutable.HashSet.empty[UTF8String]
    var batch = 0
    def fetch(ids: Iterator[UTF8String], need: Int): Unit = {
      batch = if (batch > Int.MaxValue / 2) Int.MaxValue else math.max(need, 2 * batch)
      val next = ids.filterNot(fetched).take(batch).toSeq
      docs.lookupOnce(Seq("source_uuid"), next.map(d => Seq(d.toString)))
        .foreach(r => payload(r.getUTF8String(0).clone()) = SnapshotRead.string(r, 1))
      fetched ++= next
    }
    val fusedOrder: ((UTF8String, Double), (UTF8String, Double)) => Boolean = (a, b) => {
      val s = compareDoubles(b._2, a._2)
      s < 0 || s == 0 && a._1.compareTo(b._1) < 0
    }
    var m = m0
    var out: Seq[(UTF8String, Double)] = null
    while (out == null) {
      val merged = SnapshotRead.scan(reads, _ => true)(
        new BestChunks(scores, positive, m, allowed, null)).map(new Merged(_))
      val candidates = merged.flatMap(mg => mg.best.keysIterator.filter(mg.exact)).distinct
      val missing = reads.indices.map(a =>
        candidates.filter(d => !merged(a).exact(d) && !looked(a).contains(d)).toSet)
      if (missing.exists(_.nonEmpty)) {
        val found = SnapshotRead.scan(reads, missing(_).nonEmpty)(
          new BestChunks(scores, positive, Int.MaxValue, null, missing.toArray))
        reads.indices.foreach { a =>
          missing(a).foreach(looked(a)(_) = None)
          found(a).foreach(_.docs.foreach(b =>
            if (looked(a)(b.doc).forall(beats(b, _))) looked(a)(b.doc) = Some(b)))
        }
      }
      def term(a: Int, d: UTF8String): Double =
        (if (merged(a).exact(d)) merged(a).best.get(d) else looked(a)(d)).fold(0.0)(_.term)
      val fused = candidates.map(d => d -> reads.indices.map(term(_, d)).reduceLeft(_ + _))
        .sortWith(fusedOrder)
      val complete = merged.forall(_.exhausted)
      val bound = merged.map(_.bound).reduceLeft(_ + _)
      // only a document no other can overtake is certain of its rank
      val eligible =
        if (complete) fused else fused.takeWhile(f => compareDoubles(f._2, bound) > 0)
      val kept = mutable.ArrayBuffer.empty[(UTF8String, Double)]
      var i = 0
      while (kept.size < k && i < eligible.size) {
        val d = eligible(i)._1
        if (!fetched(d)) fetch(eligible.iterator.drop(i).map(_._1), k - kept.size)
        if (payload.contains(d)) kept += eligible(i)
        i += 1
      }
      if (kept.size >= k || complete) out = kept.toSeq
      else m = if (m > Int.MaxValue / 2) Int.MaxValue else m * 2
    }
    out.map { case (d, s) => (d.toString, payload(d), s) }
  }
}
