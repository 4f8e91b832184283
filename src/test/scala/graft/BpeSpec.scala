package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Bpe

class BpeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.session
  import spark.implicits._

  test("fit learns the classic Sennrich merges on the textbook corpus") {
    // the worked example from the paper family: low/lower/newest/widest
    val docs = (
      Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest") ++ Seq.fill(3)("widest"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "text")
    val m = Bpe.fit(docs, "id", "text", numMerges = 4)
    // pair frequencies: (e,s)=9, (s,t)=9, (l,o)=7, (o,w)=7, (w,e)=8 …
    // ties break lexicographically: (e,s) before (s,t)
    assert(m.merges.take(2) == Seq("e" -> "s", "es" -> "t"),
      s"unexpected first merges: ${m.merges}")
    assert(m.encodeWord("newest").contains("est"))
    // unseen word still encodes (down to chars where no merges apply)
    assert(m.encodeWord("zzz") == Seq("z", "z", "z"))
  }

  test("distributed tokenCounts agree exactly with the driver encoder") {
    val docs = Seq(
      (1L, "the lowest lower low"),
      (2L, "newest widest wide west"),
      (3L, "punctuation, too! and 42 numbers"),
      (4L, ""),
      (5L, "zzz qqq low")).toDF("id", "text")
    val m = Bpe.fit(docs, "id", "text", numMerges = 30)
    val got = Bpe.tokenCounts(docs, "id", "text", m)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val want = docs.as[(Long, String)].collect().sortBy(_._1).map { case (id, t) =>
      val pts = graft.functions.TextFunctions.bpeishPattern.r.findAllIn(t).toSeq
      (id, pts.length, pts.map(m.encodeWord(_).length.toLong).sum)
    }
    assert(got.toSeq == want.toSeq, s"got ${got.toSeq}\nwant ${want.toSeq}")
  }

  test("broadcast-model regime counts identically to the driver encoder") {
    val docs = Seq(
      (1L, "the lowest lower low"),
      (2L, "newest widest wide west"),
      (3L, "mixed 42 tokens, here!")).toDF("id", "text")
    val m = Bpe.fit(docs, "id", "text", numMerges = 25)
    val viaBroadcast = Bpe.tokenCounts(docs, "id", "text", m)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val want = docs.as[(Long, String)].collect().sortBy(_._1).map { case (id, t) =>
      val pts = graft.functions.TextFunctions.bpeishPattern.r.findAllIn(t).toSeq
      (id, pts.length, pts.map(m.encodeWord(_).length.toLong).sum)
    }
    assert(viaBroadcast == want.toSeq,
      s"broadcast $viaBroadcast vs driver ${want.toSeq}")
  }

  test("non-BMP symbols (emoji) tokenize identically in all regimes") {
    // fit/driver/broadcast split per UTF-16 unit before the code-point
    // fix, while the oracle's string_split is per code point — merges
    // learned over surrogate halves could then never fire. Every path
    // must treat a supplementary character as ONE symbol.
    val docs = Seq(
      (1L, "👍👍👍👍 go"),
      (2L, "👍👍 stop")).toDF("id", "text")
    val m = Bpe.fit(docs, "id", "text", numMerges = 10)
    // the fit dictionary must contain whole code points, never lone halves
    assert(m.merges.forall { case (a, b) =>
      !a.exists(c => Character.isSurrogate(c) && a.length == 1) &&
        !b.exists(c => Character.isSurrogate(c) && b.length == 1) })
    val viaBroadcast = Bpe.tokenCounts(docs, "id", "text", m)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    // four thumbs-up collapse under the learned (👍,👍)-family merges:
    // the serving path must fire them (driver parity), not pass 4 raw
    // symbols
    val want = docs.as[(Long, String)].collect().sortBy(_._1).map { case (id, t) =>
      val pts = graft.functions.TextFunctions.bpeishPattern.r.findAllIn(t).toSeq
      (id, pts.length, pts.map(m.encodeWord(_).length.toLong).sum)
    }
    assert(viaBroadcast == want.toSeq, s"broadcast ${viaBroadcast} vs driver ${want.toSeq}")
  }

  test("words longer than the step bound truncate identically in both regimes") {
    // chain-merging 'aaaaaaaa' exhausts to ONE token unbounded; at
    // maxSteps=1 only the first merge fires → 4 tokens. The broadcast
    // regime must apply the bound (it once ran to exhaustion, diverging
    // from the oracle's bounded recursion).
    val docs = Seq((1L, "aaaaaaaa")).toDF("id", "text")
    val m = Bpe.fit(docs, "id", "text", numMerges = 4)
    val viaBroadcast = Bpe.tokenCounts(docs, "id", "text", m, maxSteps = 1)
      .collect()(0).getLong(2)
    assert(m.encodeWord("aaaaaaaa", maxSteps = 1).length == 4,
      "driver encode at maxSteps=1 should stop after the first merge")
    assert(viaBroadcast == 4L,
      s"broadcast regime ignored the step bound: $viaBroadcast")
    assert(m.encodeWord("aaaaaaaa").length == 1,
      "unbounded driver encode should exhaust to one token")
  }

  test("property: the plan-pure fold equals the driver encoder on random words and merge tables") {
    // the fold's trickiest cases — self-pairs (a,a), chain-creating
    // merges, multi-char tokens — drawn at random over a tiny alphabet so
    // collisions are dense
    val rnd = new scala.util.Random(42)
    def randWord(): String =
      (0 until (1 + rnd.nextInt(10))).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
    (0 until 15).foreach { trial =>
      val corpus = (0 until 12).map(_ => randWord())
      val df = corpus.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "text")
      val m = Bpe.fit(df, "id", "text", numMerges = 1 + rnd.nextInt(8))
      val got = Bpe.tokenCounts(df, "id", "text", m)
        .orderBy("id").collect().map(r => r.getLong(2))
      corpus.zipWithIndex.foreach { case (w, i) =>
        val want = m.encodeWord(w).length.toLong
        assert(got(i) == want,
          s"trial $trial word '$w' merges=${m.merges}: fold ${got(i)} != driver $want")
      }
    }
  }

  test("fit on the corpus compresses: BPE tokens strictly between pretokens and chars") {
    // 40 merges: partial coverage of the corpus's 31-word vocabulary (at
    // ~90 the dictionary exhausts — every word one token)
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val m = Bpe.fit(docs, "doc_id", "text", numMerges = 40)
    assert(m.merges.length == 40)
    val agg = Bpe.tokenCounts(docs, "doc_id", "text", m)
      .agg(sum("n_pretokens"), sum("n_bpe_tokens")).head()
    val (pre, bpe) = (agg.getLong(0), agg.getLong(1))
    val chars = docs.agg(sum(length(regexp_replace(col("text"), "\\s+", ""))))
      .head().getLong(0)
    assert(bpe > pre, s"bpe tokens $bpe must exceed word count $pre")
    assert(bpe < chars, s"bpe tokens $bpe must compress below char count $chars")
    // multi-character learned tokens actually fire on corpus words
    val sample = docs.select("text").as[String].head()
    val toks = graft.functions.TextFunctions.bpeishPattern.r.findAllIn(sample)
      .toSeq.flatMap(w => m.encodeWord(w))
    assert(toks.exists(_.length >= 2), s"no learned merge fired in $toks")
  }
}
