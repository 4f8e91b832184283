package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** A genuinely FIT byte-pair-encoding tokenizer (Sennrich, Haddow & Birch
  * 2016, "Neural Machine Translation of Rare Words with Subword Units") —
  * the trained sibling of the regex "BPE-ish" counter (t4). The fit is
  * the published algorithm exactly: learn `numMerges` merge rules from a
  * word-frequency dictionary by repeatedly merging the most frequent
  * adjacent symbol pair.
  *
  * Spark-first scale shape:
  *
  *  - FIT: one distributed pass builds the word-frequency dictionary
  *    (pre-tokens via the same GPT-2-shape regex t4 counts with, then a
  *    vocabulary-sized groupBy); the merge loop runs on the DRIVER over
  *    that dictionary — which is how the reference implementation
  *    (subword-nmt) fits too, and why fit cost is independent of corpus
  *    size once the dictionary is aggregated. A bounded deterministic
  *    sample caps even the dictionary pass (the PQ/centroid-fit pattern).
  *  - SERVE: the model BROADCASTS and each DISTINCT pretoken is encoded
  *    executor-side by the JVM encoder inside mapPartitions — the
  *    per-word work is vocabulary-sized, and the corpus side stays
  *    plan-pure (one broadcast join from pretoken to token count and a
  *    map-side sum: the corpus streams once and never shuffles for
  *    encoding). The t13 oracle replays the same bounded greedy merge
  *    loop in DuckDB from the merge table alone.
  *
  * U+001F is RESERVED as the oracle's token separator — a pre-token
  * equal to it (the only way the regex can emit one: letter/digit runs
  * cannot contain it, so it would surface as a single-char punctuation
  * token) is dropped by fit and serving alike, keeping the oracle's
  * chr(31)-joined encoding unambiguous.
  */
object Bpe {

  private[operators] val Sep = "\u001f"

  /** Per-word merge-step bound shared by [[tokenCounts]] and the t13
    * oracle's recursion — the two paths must truncate identically. */
  val DefaultMaxSteps = 24

  /** Split per Unicode CODE POINT (not UTF-16 unit): the DuckDB oracle's
    * string_split treats a supplementary character (e.g. an emoji matched
    * by the punctuation branch of bpeishPattern) as ONE symbol, so fit and
    * the encoder must too — otherwise merges learned over surrogate
    * halves could never fire. */
  private[operators] def codePoints(s: String): IndexedSeq[String] = {
    val out = IndexedSeq.newBuilder[String]
    var i = 0
    while (i < s.length) {
      val n = Character.charCount(s.codePointAt(i))
      out += s.substring(i, i + n)
      i += n
    }
    out.result()
  }

  /** Fitted model: ordered merge rules; rank = position. */
  final case class Model(merges: IndexedSeq[(String, String)]) {
    @transient lazy val ranks: Map[(String, String), Int] =
      merges.zipWithIndex.toMap

    /** Single-word encoding — the greedy lowest-rank-first merge loop
      * the distributed path runs per distinct pretoken. `maxSteps` bounds
      * the steps (one step = merge all occurrences of the best pair) the
      * same way the oracle's recursion does, so the two truncate
      * identically. */
    def encodeWord(word: String, maxSteps: Int = Int.MaxValue): Seq[String] = {
      var toks: IndexedSeq[String] = codePoints(word)
      var steps = 0
      var continue = toks.length > 1 && steps < maxSteps
      while (continue) {
        val pairs = toks.zip(toks.tail)
        val best = pairs.flatMap(p => ranks.get(p).map(r => (r, p))).sortBy(_._1).headOption
        best match {
          case None => continue = false
          case Some((_, (a, b))) =>
            // merge ALL occurrences left-to-right, non-overlapping
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < toks.length) {
              if (i + 1 < toks.length && toks(i) == a && toks(i + 1) == b) {
                out += a + b; i += 2
              } else { out += toks(i); i += 1 }
            }
            toks = out.toIndexedSeq
            steps += 1
            continue = toks.length > 1 && steps < maxSteps
        }
      }
      toks
    }

    def tokenCount(text: String): Int =
      TextFunctions.bpeishPattern.r.findAllIn(text)
        .filter(_ != Sep).map(encodeWord(_).length).sum
  }

  /** Learn `numMerges` rules from the corpus: dictionary pass (bounded
    * deterministic sample, pre-tokens via [[TextFunctions.bpeishPattern]])
    * then the Sennrich driver loop. Ties on pair frequency break to the
    * lexicographically smallest pair — run-stable across JVMs. */
  def fit(
      docs: DataFrame, idCol: String, textCol: String,
      numMerges: Int = 200, sampleSize: Int = 20000): Model = {
    val sample = docs.orderBy(xxhash64(col(idCol)), col(idCol)).limit(sampleSize)
    val dict: Map[Seq[String], Long] = sample
      .select(explode(regexp_extract_all(col(textCol),
        lit(TextFunctions.bpeishPattern), lit(0))).as("w"))
      .where(col("w") =!= Sep)
      .groupBy("w").agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (codePoints(r.getString(0)): Seq[String]) -> r.getLong(1))
      .toMap
    var words = dict
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var m = 0
    var exhausted = false
    while (m < numMerges && !exhausted) {
      val pairCounts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((toks, n) <- words; i <- 0 until toks.length - 1)
        pairCounts.updateWith(toks(i) -> toks(i + 1))(c => Some(c.getOrElse(0L) + n))
      if (pairCounts.isEmpty) exhausted = true
      else {
        val (best, _) = pairCounts.minBy { case ((a, b), n) => (-n, a, b) }
        merges += best
        val (a, b) = best
        words = words.map { case (toks, n) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < toks.length) {
            if (i + 1 < toks.length && toks(i) == a && toks(i + 1) == b) {
              out += a + b; i += 2
            } else { out += toks(i); i += 1 }
          }
          (out.toSeq, n)
        }.groupMapReduce(_._1)(_._2)(_ + _)
        m += 1
      }
    }
    Model(merges.toIndexedSeq)
  }

  /** Per-document BPE token counts: (idCol, n_pretokens, n_bpe_tokens).
    * `maxSteps` bounds the per-word merge iterations (a word of up to
    * `maxSteps + 1` characters encodes exactly; longer words may stop
    * early and over-count — the corpus bound is what to size it to). */
  def tokenCounts(
      docs: DataFrame, idCol: String, textCol: String, model: Model,
      maxSteps: Int = DefaultMaxSteps): DataFrame = {
    val pretoks = docs.select(col(idCol),
      filter(
        regexp_extract_all(col(textCol), lit(TextFunctions.bpeishPattern), lit(0)),
        t => t =!= Sep).as("__pt"))
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    // the merge loop runs over the DISTINCT pretokens (vocabulary-sized)
    val counts = pretoks.select(explode(col("__pt")).as("w")).distinct()
      .as[String]
      .mapPartitions { it =>
        val m = bc.value
        it.map(w => (w, m.encodeWord(w, maxSteps).length))
      }
      .toDF("w", "__c")
    pretoks.select(col(idCol), size(col("__pt")).as("n_pretokens"),
        explode_outer(col("__pt")).as("w"))
      .join(broadcast(counts), Seq("w"), "left")
      .groupBy(col(idCol))
      .agg(first(col("n_pretokens")).as("n_pretokens"),
        coalesce(sum(col("__c")), lit(0L)).as("n_bpe_tokens"))
  }
}
