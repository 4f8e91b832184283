package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions
import graft.functions.TextKernels
import graft.operators.Dedup

class TextDedupSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  test("simhash: identical → 0 hamming; near < far at kernel level; bands catch <=3") {
    val u = org.apache.spark.unsafe.types.UTF8String.fromString _
    val a = "the quick brown fox jumps over the lazy dog near the river bank today"
    val b = "the quick brown fox jumps over the lazy dog near the river bank tonight"
    val c = "completely different words about database engines and query optimizers"
    // kernel-level monotonicity: near pair closer than far pair
    val ha = TextKernels.simhash64(u(a))
    assert(TextKernels.hamming64(ha, TextKernels.simhash64(u(b))) <
      TextKernels.hamming64(ha, TextKernels.simhash64(u(c))))
    // operator contract: hamming<=3 pairs are guaranteed caught (pigeonhole),
    // identical docs give hamming 0, far docs are absent
    val df = Seq((1L, a), (2L, a), (3L, b), (4L, c)).toDF("id", "text")
    val pairs = Dedup.simhashPairs(df, "id", "text", 3)
      .orderBy("id_a", "id_b").as[(Long, Long, Int)].collect()
    val m = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(m((1L, 2L)) == 0)
    assert(!m.contains((1L, 4L)) && !m.contains((3L, 4L)))
  }

  test("one-slot registries survive plan-identical repeat calls (scan reuse keeps its cache)") {
    // Spark's CacheManager matches entries by canonicalized plan, not
    // object identity: a REPEAT call re-derives a plan-identical frame
    // (the loader memoizes the input plan), its persist() is a no-op
    // against the first call's entry, and the old swapSlot then
    // unpersisted that SHARED entry — leaving the fresh call silently
    // uncached and recomputing the sketch/signature on both join sides
    // (r18 verdict #1). The guarded swapSlot keeps the shared entry.
    def isCached(f: org.apache.spark.sql.DataFrame): Boolean =
      f.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val docs = Tables.load(spark, TestSpark.sf001, "documents")
      .where(col("doc_id") < 150).select(col("doc_id").as("id"), col("text"))
    val r1 = Dedup.simhashPairs(docs, "id", "text", 3).collect().toSet
    val r2 = Dedup.simhashPairs(docs, "id", "text", 3).collect().toSet
    assert(r1 == r2)
    val afterRepeat = Dedup.slotFrames
    assert(afterRepeat.nonEmpty)
    afterRepeat.foreach(f => assert(isCached(f),
      "a slot frame lost its cache entry after a plan-identical repeat call"))
    // d1 twice: exercises the signature slot AND the groups slot (the
    // tokenized-corpus frame that used to be cache()d with no release)
    val p1 = Dedup.minhashLshPairs(docs, "id", "text", 0.8).collect().toSet
    val p2 = Dedup.minhashLshPairs(docs, "id", "text", 0.8).collect().toSet
    assert(p1 == p2)
    Dedup.slotFrames.foreach(f => assert(isCached(f),
      "a slot frame lost its cache entry after a plan-identical repeat d1 call"))
    // bounded pinning still holds: a genuinely DIFFERENT input releases
    // the previous frames (the slots never accumulate per-call copies)
    val before = Dedup.slotFrames.map(f => f -> f.queryExecution.analyzed)
    val docs2 = Tables.load(spark, TestSpark.sf001, "documents")
      .where(col("doc_id") >= 150 && col("doc_id") < 300)
      .select(col("doc_id").as("id"), col("text"))
    Dedup.simhashPairs(docs2, "id", "text", 3).count()
    Dedup.minhashLshPairs(docs2, "id", "text", 0.8).count()
    val liveNow = Dedup.slotFrames.map(_.queryExecution.analyzed)
    before.foreach { case (f, plan) =>
      if (!liveNow.exists(_.sameResult(plan)))
        assert(!isCached(f),
          "a replaced slot frame kept its cache entry (unbounded pinning)")
    }
  }

  test("simhash radius contract: 3-part scheme exact through hamming 5, refuses > 5") {
    // 200 corpus docs + planted pairs across the whole 0..5 radius — the
    // 3-part pigeonhole must agree EXACTLY with the brute-force all-pairs
    // filter at radius 5 (including radius-4/5 pairs the 2-half radius-3
    // scheme never had to catch)
    val docs = Tables.load(spark, TestSpark.sf001, "documents")
      .where(col("doc_id") < 200)
      .select(col("doc_id").as("id"), col("text"))
    val u = org.apache.spark.unsafe.types.UTF8String.fromString _
    val sketches = docs.as[(Long, String)].collect()
      .map { case (id, t) => id -> TextKernels.simhash64(u(t)) }.toMap
    val brute = (for {
      (ia, sa) <- sketches; (ib, sb) <- sketches if ia < ib
      h = TextKernels.hamming64(sa, sb) if h <= 5
    } yield (ia, ib, h)).toSet
    val got = Dedup.simhashPairs(docs, "id", "text", 5)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == brute,
      s"radius-5 multi-index missed ${(brute -- got).take(5)} / " +
        s"fabricated ${(got -- brute).take(5)}")
    // the loud refusal above radius 5 is part of the operator contract
    val err = intercept[IllegalArgumentException] {
      Dedup.simhashPairs(docs, "id", "text", 6)
    }
    assert(err.getMessage.contains("maxHamming <= 5"))
  }

  test("minhash LSH finds exact and near duplicates, skips distinct docs") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val near = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    val far = "one two three four five six seven eight nine ten"
    val df = Seq((1L, base), (2L, base), (3L, near), (4L, far)).toDF("id", "text")
    val pairs = Dedup.minhashLshPairs(df, "id", "text", 0.8)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(math.abs(pairs((1L, 3L)) - 9.0 / 11.0) < 1e-9) // 9 shared of 11 union
    assert(pairs.keys.forall { case (x, y) => y != 4L && x != 4L })
  }

  test("LSH candidate recall vs brute force on real corpus + planted borderline pairs") {
    // the d1 oracle now replays the LSH mechanism, so recall vs exact
    // all-pairs jaccard needs its OWN gate: (a) the testdata corpus —
    // every brute-force pair at >= 0.9 must surface through the bands;
    // (b) planted pairs just above threshold (J = 58/60 ≈ 0.967 and
    // J = 38/42 ≈ 0.905, the S-curve's weak zone at r=8: per-pair catch
    // prob 1 − (1−J⁸)¹⁶ ≈ 1 − 3e-8 and ≈ 1 − 7e-5) — deterministic per
    // input, pinned here so a banding change that dents recall fails
    // loudly instead of silently shrinking d1.
    val docs = Tables.load(spark, TestSpark.sf0001, "documents")
      .select($"doc_id".as("id"), $"text")
    val brute = {
      val tk = docs.select($"id",
        array_distinct(split(trim(lower($"text")), "\\s+")).as("toks"))
      val a = tk.select($"id".as("ia"), $"toks".as("ta"))
      val b = tk.select($"id".as("ib"), $"toks".as("tb"))
      a.crossJoin(b).where($"ia" < $"ib")
        .where(size(array_intersect($"ta", $"tb")).cast("double") >=
          lit(0.9) * size(array_union($"ta", $"tb")))
        .select($"ia", $"ib").as[(Long, Long)].collect().toSet
    }
    val lsh = Dedup.minhashLshPairs(docs, "id", "text", 0.9)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(brute.subsetOf(lsh) && lsh.subsetOf(brute),
      s"LSH pairs != brute force: missed ${(brute -- lsh).size}, extra ${(lsh -- brute).size}")

    val planted = (0 until 30).flatMap { i =>
      val wide = (0 until 60).map(t => s"w${i}_$t")
      val narrow = (0 until 40).map(t => s"n${i}_$t")
      Seq((4L * i, wide.mkString(" ")),
        (4L * i + 1, (wide.drop(2) ++ Seq(s"x${i}_a", s"x${i}_b")).mkString(" ")),
        (4L * i + 2, narrow.mkString(" ")),
        (4L * i + 3, (narrow.drop(2) ++ Seq(s"y${i}_a", s"y${i}_b")).mkString(" ")))
    }.toDF("id", "text")
    val got = Dedup.minhashLshPairs(planted, "id", "text", 0.9)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val expect = (0 until 30).flatMap(i =>
      Seq((4L * i, 4L * i + 1), (4L * i + 2, 4L * i + 3))).toSet
    assert(got == expect,
      s"planted borderline recall broke: missed ${(expect -- got).size}, extra ${(got -- expect).size}")
  }

  test("minhash signature estimates jaccard") {
    // signature agreement rate ≈ true jaccard (k=256 → ±~6%)
    val s1 = TextKernels.minhashSignature(
      org.apache.spark.unsafe.types.UTF8String.fromString("a b c d e f g h i j"), 256, 1).toLongArray()
    val s2 = TextKernels.minhashSignature(
      org.apache.spark.unsafe.types.UTF8String.fromString("a b c d e f g h i k"), 256, 1).toLongArray()
    val agree = s1.zip(s2).count { case (x, y) => x == y }.toDouble / 256
    assert(math.abs(agree - 9.0 / 11.0) < 0.15)
  }

  test("winnow fingerprint: identical docs same prints; shared passages overlap") {
    val u = org.apache.spark.unsafe.types.UTF8String.fromString _
    val f1 = TextKernels.winnowFingerprint(u("the cat sat on the mat and purred"), 8, 4).toLongArray()
    val f2 = TextKernels.winnowFingerprint(u("the cat sat on the mat and purred"), 8, 4).toLongArray()
    assert(f1.toSeq == f2.toSeq)
    val f3 = TextKernels.winnowFingerprint(u("intro text. the cat sat on the mat and purred. outro"), 8, 4).toLongArray()
    assert(f1.toSet.intersect(f3.toSet).nonEmpty) // contained passage shares prints
  }

  test("language id picks the dominant stopword profile") {
    val df = Seq(
      (1L, "the cat is on the mat and it is happy that the day is warm"),
      (2L, "der hund ist nicht auf der couch und die katze ist da"),
      (3L, "el perro es un animal y la casa es grande en la ciudad"),
      (4L, "xyzzy qwerty plugh")
    ).toDF("id", "text")
    val got = df.select($"id", TextFunctions.langId($"text").as("l"))
      .orderBy("id").as[(Long, String)].collect().map(_._2)
    assert(got.toSeq == Seq("en", "de", "es", "und"))
  }

  test("quality score ranges and monotonicity") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs to the river " * 3),
      (2L, "@#$% ^&*! 1234 ~~ ||"),
      (3L, "")
    ).toDF("id", "text")
    val got = df.select($"id", TextFunctions.qualityScore($"text").as("q"))
      .orderBy("id").as[(Long, Double)].collect().map(_._2)
    assert(got(0) > 0.7)       // long, clean, stopword-rich
    assert(got(1) < 0.3)       // symbol soup
    assert(got.forall(q => q >= 0.0 && q <= 1.0))
  }

  test("near-dup groups: connected components over LSH pairs; deduplicate keeps one per group") {
    // 1,2,3 form a chain (1~2, 2~3 near; 1~3 only transitively); 4 distinct;
    // 5,6 identical
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta mu lambda"),
      (4L, "completely different words nothing shared here at all everyone"),
      (5L, "same exact content in both documents word for word"),
      (6L, "same exact content in both documents word for word")
    ).toDF("doc_id", "text")
    val groups = Dedup.nearDupGroups(docs, "doc_id", "text", 0.8)
      .as[(Long, Long)].collect().toMap
    // jaccard(1,2)=9/11≈0.818, jaccard(2,3)=9/11, jaccard(1,3)=8/12≈0.67:
    // the chain still collapses to one component rooted at 1
    assert(groups == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
    val kept = Dedup.deduplicate(docs, "doc_id", "text", 0.8)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L, 5L))

    // all-singleton input: empty pair graph, nothing dropped
    val uniq = Seq((1L, "aa bb cc"), (2L, "dd ee ff"), (3L, "gg hh ii"))
      .toDF("doc_id", "text")
    assert(Dedup.nearDupGroups(uniq, "doc_id", "text", 0.9).isEmpty)
    assert(Dedup.deduplicate(uniq, "doc_id", "text", 0.9).count() == 3)
  }

  test("embedding near-dup: exact and SRP-blocked agree on high-cos pairs") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.1f, 0.0f, 0.0f)),   // near 1
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)),    // orthogonal
      (4L, Array(-1.0f, 0.0f, 0.0f, 0.0f))    // opposite
    ).toDF("vec_id", "embedding")
    val exact = Dedup.embeddingPairsExact(vecs, "vec_id", "embedding", 0.95)
      .as[(Long, Long, Double)].collect()
    assert(exact.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    val blocked = Dedup.srpBlockedPairs(vecs, "vec_id", "embedding", 4, 0.95)
      .as[(Long, Long, Double)].collect()
    assert(blocked.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
  }

  test("decontaminate drops exactly the docs sharing an n-gram with the benchmark") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),   // shares the 4-gram with bench
      (2L, "alpha beta gamma DELTA epsilon zeta"),   // case differs mid-window: lowered -> still shares
      (3L, "one two three four five six"),           // clean
      (4L, "beta gamma delta epsilon"),              // exactly the bench window
      (5L, "tiny doc")                               // below n tokens: no grams, clean
    ).toDF("id", "text")
    val bench = Seq((100L, "xx beta gamma delta epsilon yy")).toDF("id", "text")
    val kept = graft.operators.Corpus.decontaminate(corpus, "id", "text", bench, "text", n = 4)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(3L, 5L))
  }

  test("packSequences: concat-and-chunk layout is deterministic and budget-aligned") {
    // 3-token docs, one stripe: pack boundaries every floor(512/3) docs
    val docs = (0 until 100).map(i => (i.toLong, "tok tok tok")).toDF("id", "text")
    val packed = graft.operators.Corpus.packSequences(docs, "id", "text",
        budget = 30, stripes = 1)
      .orderBy("id").collect()
    packed.foreach { r =>
      val id = r.getAs[Long]("id")
      assert(r.getAs[Int]("stripe") == 0)
      assert(r.getAs[Long]("n_tokens") == 3L)
      assert(r.getAs[Long]("tok_start") == 3L * id)
      assert(r.getAs[Long]("pack_id") == (3L * id) / 30)
    }
    // striped: each stripe's offsets restart from zero and stay contiguous
    val striped = graft.operators.Corpus.packSequences(docs, "id", "text",
        budget = 30, stripes = 4)
      .orderBy("stripe", "id").collect()
    striped.groupBy(_.getAs[Int]("stripe")).foreach { case (_, rows) =>
      rows.map(_.getAs[Long]("tok_start")).zipWithIndex.foreach { case (off, i) =>
        assert(off == 3L * i)
      }
    }
  }

  test("repetitionStats: duplicate-n-gram fractions match hand counts") {
    val docs = Seq(
      (1L, "a b a b a b"),        // 2-grams: ab ba ab ba ab → 5 total, 2 distinct
      (2L, "one two three four"), // no repeats
      (3L, "x"),                  // below gram width
      (4L, "w w w w")             // 2-grams all "w w": 3 total 1 distinct
    ).toDF("id", "text")
    val out = graft.operators.Corpus.repetitionStats(docs, "id", "text")
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Int]("n_tokens"), r.getAs[Double]("dup2_frac"), r.getAs[Double]("dup3_frac")))
      .toMap
    assert(out(1L) == ((6, 0.6, 0.5)))     // 3-grams: 4 total, 2 distinct
    assert(out(2L) == ((4, 0.0, 0.0)))
    assert(out(3L) == ((1, 0.0, 0.0)))
    assert(out(4L) == ((4, 0.66667, 0.5))) // rounded to 5 digits
  }

  test("sampleMixture: weight 1 keeps all, 0 keeps none, rates track weights; string ids hash") {
    val docs = (0 until 2000).map(i =>
      (i.toLong, s"doc-$i", s"src${i % 4}")).toDF("id", "name", "source")
    val kept = graft.operators.Corpus.sampleMixture(docs, "id", "source",
        Map("src0" -> 1.0, "src1" -> 0.0, "src2" -> 0.5), defaultWeight = 0.25, seed = 3L)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("src0") == 500L)
    assert(!kept.contains("src1"))
    assert(math.abs(kept("src2") - 250L) < 60)   // ~0.5 of 500
    assert(math.abs(kept("src3") - 125L) < 50)   // default 0.25 of 500
    // deterministic: same seed → identical sample
    val again = graft.operators.Corpus.sampleMixture(docs, "id", "source",
        Map("src0" -> 1.0, "src1" -> 0.0, "src2" -> 0.5), defaultWeight = 0.25, seed = 3L)
      .agg(count(lit(1))).as[Long].head()
    assert(again == kept.values.sum)
    // string ids route through xxhash64 instead of a null-ing long cast
    val byName = graft.operators.Corpus.sampleMixture(docs, "name", "source",
        Map("src0" -> 0.5), defaultWeight = 0.5, seed = 3L)
      .count()
    assert(byName > 800 && byName < 1200)
  }

  test("assignSplits: exhaustive labeling, rates track weights, stable under corpus growth") {
    val docs = (0 until 3000).map(i => (i.toLong, s"d$i")).toDF("id", "text")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val out = graft.operators.Corpus.assignSplits(docs, "id", splits, seed = 5L)
    val byLabel = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLabel.values.sum == 3000L) // every row labeled
    assert(math.abs(byLabel("train") - 2400L) < 120)
    assert(math.abs(byLabel("val") - 300L) < 80)
    assert(math.abs(byLabel("test") - 300L) < 80)
    // membership is a pure function of (id, seed): growing the corpus
    // never migrates an existing document between splits
    val grown = graft.operators.Corpus.assignSplits(
      (0 until 6000).map(i => (i.toLong, s"d$i")).toDF("id", "text"),
      "id", splits, seed = 5L)
    val before = out.select("id", "split").as[(Long, String)].collect().toMap
    val after = grown.where(col("id") < 3000)
      .select("id", "split").as[(Long, String)].collect().toMap
    assert(before == after)
    // weights must sum to 1
    intercept[IllegalArgumentException] {
      graft.operators.Corpus.assignSplits(docs, "id", Seq("a" -> 0.5, "b" -> 0.4))
    }
    // chaining after sampleMixture under the SAME user seed must not
    // correlate: a weight-w sample is the bottom-w slice of ITS draw, so
    // with a shared hash family every survivor would land in 'train'
    val sampled = graft.operators.Corpus.sampleMixture(
      docs.withColumn("source", lit("s")), "id", "source", Map("s" -> 0.2), seed = 5L)
    val chained = graft.operators.Corpus.assignSplits(sampled, "id", splits, seed = 5L)
      .groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(chained.keySet == Set("train", "val", "test"),
      s"sampled survivors collapsed into $chained")
  }

  test("shuffleToShards: dense ranks, balanced shards, layout-independent, total permutation at 1 shard") {
    val docs = (0 until 3000).map(i => (i.toLong, s"d$i")).toDF("id", "text")
    val out = graft.operators.Corpus.shuffleToShards(docs, "id", numShards = 7, seed = 3L)
    val rows = out.as[(Long, Int, Long)].collect()
    assert(rows.length == 3000 && rows.map(_._1).distinct.length == 3000)
    // within every shard the positions are exactly 0..count-1 (dense rank)
    rows.groupBy(_._2).foreach { case (shard, rs) =>
      assert(rs.map(_._3).sorted.toSeq == (0L until rs.length.toLong),
        s"shard $shard positions not dense")
    }
    // hash-uniform shards: ~3000/7 each
    val sizes = rows.groupBy(_._2).view.mapValues(_.length)
    assert(sizes.keys.toSet.subsetOf((0 until 7).toSet))
    sizes.foreach { case (s, n) => assert(math.abs(n - 3000 / 7) < 120, s"shard $s size $n") }
    // pure function of (id, seed): identical layout at any partitioning
    val repart = graft.operators.Corpus.shuffleToShards(
      docs.repartition(13), "id", numShards = 7, seed = 3L)
      .as[(Long, Int, Long)].collect()
    assert(repart.sortBy(_._1).toSeq == rows.sortBy(_._1).toSeq)
    // one shard = a total permutation of the corpus, and it's shuffled
    // (not id order)
    val one = graft.operators.Corpus.shuffleToShards(docs, "id", numShards = 1, seed = 3L)
      .as[(Long, Int, Long)].collect()
    assert(one.map(_._3).sorted.toSeq == (0L until 3000L))
    assert(one.sortBy(_._3).map(_._1).take(100).toSeq != (0L until 100L).toSeq)
    // string ids hash rather than null-cast
    val byName = graft.operators.Corpus.shuffleToShards(docs, "text", numShards = 7, seed = 3L)
    assert(byName.count() == 3000)
    intercept[IllegalArgumentException] {
      graft.operators.Corpus.shuffleToShards(docs, "id", numShards = 0)
    }
    // 100 TB contract: on a multi-partition input, exactly ONE hash
    // exchange (the window's shard partitioning; the input's own
    // round-robin repartition is not hash) and no global sort anywhere
    // (AQE planned lazily hides exchanges — off for the inspection only)
    val plan =
      try {
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        graft.operators.Corpus.shuffleToShards(
            docs.repartition(13), "id", numShards = 7, seed = 3L)
          .queryExecution.executedPlan
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val hashExchanges = plan.collectWithSubqueries {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
          if e.outputPartitioning.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    assert(hashExchanges.length == 1,
      s"expected 1 hash exchange, got ${hashExchanges.length}")
    assert(plan.collectWithSubqueries {
      case s: org.apache.spark.sql.execution.SortExec if s.global => s
    }.isEmpty, "shuffleToShards must not global-sort")
  }

  test("temperatureMixture: alpha=1 keeps all, rates track (nmin/n)^(1-a), smallest domain survives whole") {
    // skewed domains: 2000 / 500 / 125
    val docs = ((0 until 2000).map(i => (i.toLong, "big")) ++
      (2000 until 2500).map(i => (i.toLong, "mid")) ++
      (2500 until 2625).map(i => (i.toLong, "small"))).toDF("id", "source")
    // alpha = 1: the natural mixture — every document kept
    assert(graft.operators.Corpus.temperatureMixture(docs, "id", "source", alpha = 1.0)
      .count() == 2625)
    // alpha = 0.5: expected kept sizes nmin^(1-a) * n^a = sqrt(125 * n)
    val kept = graft.operators.Corpus.temperatureMixture(
        docs, "id", "source", alpha = 0.5, seed = 11L)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("small") == 125L) // anchor domain: rate exactly 1
    assert(math.abs(kept("mid") - math.sqrt(125.0 * 500)) < 60,
      s"mid kept ${kept("mid")}")
    assert(math.abs(kept("big") - math.sqrt(125.0 * 2000)) < 80,
      s"big kept ${kept("big")}")
    // deterministic + layout-independent
    val again = graft.operators.Corpus.temperatureMixture(
      docs.repartition(13), "id", "source", alpha = 0.5, seed = 11L)
    assert(again.count() == kept.values.sum)
    // general alpha routes through pow: alpha -> 0 flattens toward nmin
    val flat = graft.operators.Corpus.temperatureMixture(
        docs, "id", "source", alpha = 0.1, seed = 11L)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(flat("big") < kept("big") && math.abs(flat("big") -
      math.pow(125.0, 0.9) * math.pow(2000.0, 0.1)) < 60)
    // null domains drop; alpha validated
    val withNull = docs.withColumn("source",
      when(col("id") < 10, lit(null: String)).otherwise(col("source")))
    assert(graft.operators.Corpus.temperatureMixture(
      withNull, "id", "source", alpha = 1.0).count() == 2615)
    intercept[IllegalArgumentException] {
      graft.operators.Corpus.temperatureMixture(docs, "id", "source", alpha = 0.0)
    }
  }

  test("writeShards: one file per shard, file row order == shuffleToShards pos order") {
    val docs = (0 until 1400).map(i => (i.toLong, s"text of d$i")).toDF("id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_shards_").toString
    graft.operators.Corpus.writeShards(docs, "id", dir, numShards = 7, seed = 3L)
    val coords = graft.operators.Corpus.shuffleToShards(docs, "id", numShards = 7, seed = 3L)
      .as[(Long, Int, Long)].collect()
    for (k <- 0 until 7) {
      val files = new java.io.File(s"$dir/shard=$k")
        .listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"shard $k has ${files.length} files")
      // single file, single row group: read order is the written order
      val got = spark.read.parquet(files.head.getPath)
        .select("id").as[Long].collect().toSeq
      val want = coords.filter(_._2 == k).sortBy(_._3).map(_._1).toSeq
      assert(got == want, s"shard $k order diverges from shuffleToShards")
    }
  }

  test("writeShards pins one-file-per-shard against maxRecordsPerFile; readShards reconstructs coords") {
    // 2000 rows / 4 shards = ~500 rows per shard: a session-level
    // maxRecordsPerFile=50 WOULD roll each shard into ~10 files (breaking
    // "file row order IS the rank") unless the writer pins the option
    val docs = (0 until 2000).map(i => (i.toLong, s"text of d$i")).toDF("id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_shards_pin_").toString
    val prev = spark.conf.getOption("spark.sql.files.maxRecordsPerFile")
    try {
      spark.conf.set("spark.sql.files.maxRecordsPerFile", "50")
      graft.operators.Corpus.writeShards(docs, "id", dir, numShards = 4, seed = 9L)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.files.maxRecordsPerFile", v)
      case None => spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    }
    for (k <- 0 until 4) {
      val files = new java.io.File(s"$dir/shard=$k")
        .listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1,
        s"shard $k rolled into ${files.length} files under maxRecordsPerFile")
    }
    // the epoch reader: (shard, pos) from the file layout alone must equal
    // shuffleToShards' coordinate frame row for row
    val got = graft.operators.Corpus.readShards(spark, dir)
      .select(col("id"), col("shard"), col("pos"))
      .as[(Long, Int, Long)].collect().sortBy(_._1)
    val want = graft.operators.Corpus.shuffleToShards(docs, "id", numShards = 4, seed = 9L)
      .as[(Long, Int, Long)].collect().sortBy(_._1)
    assert(got.toSeq == want.toSeq, "readShards coords diverge from shuffleToShards")
    // a foreign second file in a shard dir must refuse, not mis-rank
    val extra = new java.io.File(s"$dir/shard=0").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(extra.toPath,
      new java.io.File(extra.getParentFile, "part-foreign.parquet").toPath)
    val ex = intercept[IllegalArgumentException] {
      graft.operators.Corpus.readShards(spark, dir)
    }
    assert(ex.getMessage.contains("one-file-per-shard"))
  }

  test("tokenBudgetMixture: striped == naive, budgets bind exactly, default uncapped") {
    // ~4600 tokens in 'web' (400 docs x 8..15 tokens), ~330 in 'code'
    val docs = ((0 until 400).map(i => (i.toLong, "web", ("tok " * (8 + i % 8)).trim)) ++
      (400 until 430).map(i => (i.toLong, "code", ("tok " * 11).trim))).toDF("id", "source", "text")
    val budgets = Map("web" -> 1000L)
    val out = graft.operators.Corpus.tokenBudgetMixture(
        docs, "id", "text", "source", budgets, seed = 13L)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    // the striped prefix sum equals the naive global window: 1 bucket IS
    // the naive form, and any power-of-two striping must agree with it
    for (b <- Seq(1, 2, 256, 65536)) {
      val alt = graft.operators.Corpus.tokenBudgetMixture(
          docs.repartition(11), "id", "text", "source", budgets, seed = 13L, buckets = b)
        .as[(Long, String, Long, Long)].collect().sortBy(_._1)
      assert(alt.toSeq == out.toSeq, s"buckets=$b diverged from default")
    }
    // web: kept tokens fill the budget as far as the next doc allows
    val web = out.filter(_._2 == "web")
    val webTokens = web.map(_._3).sum
    assert(webTokens <= 1000L && webTokens > 900L, s"web kept $webTokens tokens")
    // code rides the uncapped default: all 30 docs kept
    assert(out.count(_._2 == "code") == 30)
    // the kept set is exactly the docs that FIT: recompute tok_start
    // uncapped (cumsum over ALL docs in draw order) and re-apply the rule
    val uncapped = graft.operators.Corpus.tokenBudgetMixture(
        docs, "id", "text", "source", Map.empty, seed = 13L)
      .as[(Long, String, Long, Long)].collect()
    assert(uncapped.length == 430) // no cap: everything kept, with positions
    val expectWeb = uncapped.filter(r => r._2 == "web" && r._4 + r._3 <= 1000L)
      .map(_._1).sorted.toSeq
    assert(web.map(_._1).sorted.toSeq == expectWeb)
    // and within one domain the positions are a permutation-consistent
    // cumsum: sorting by tok_start, each start equals the sum of all
    // earlier docs' tokens
    val allWeb = uncapped.filter(_._2 == "web").sortBy(_._4)
    assert(allWeb.zip(allWeb.scanLeft(0L)(_ + _._3).init)
      .forall { case (doc, start) => doc._4 == start })
    // zero budget keeps nothing (no zero-token docs here)
    assert(graft.operators.Corpus.tokenBudgetMixture(
      docs, "id", "text", "source", Map.empty, defaultBudget = 0L).count() == 0)
  }

  test("TokenCount kernel == size(split(trim(text), raw ws regex)) on adversarial + fuzzed strings") {
    val adversarial = Seq(
      "", " ", "  ", "\t", "\t\t", "\n", "\r\n", " \t", "\t ", " \t ",
      "a", " a ", "a b", "a  b", "\ta b", "a b\t", "\ta b\t", "a\t\tb",
      "a\nb\rc", " \t a \t ", "", "xy",
      "word", "many words here", "trailing space ", " leading",
      "héllo wörld", "日本語 テスト", "mixed ascii 日本 text",
      "a b", // NBSP is NOT \s: one token? no — split on \s+ leaves it intact
      "\t\n\r ", "a ", " a", "a\n", "\na")
    val rnd = new scala.util.Random(42)
    val alphabet = "ab \t\n\ré日"
    val fuzzed = (1 to 500).map(_ =>
      (1 to rnd.nextInt(30)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    val all = (adversarial ++ fuzzed).zipWithIndex.map(_.swap).toDF("id", "t")
    val diff = all.select(
        graft.functions.TextFunctions.tokenCount(col("t")).as("kernel"),
        size(split(trim(col("t")), "\\s+")).as("ref"), col("t"))
      .where(col("kernel") =!= col("ref")).collect()
    assert(diff.isEmpty, s"kernel diverges on: ${diff.take(5).mkString(", ")}")
  }

  test("redactPii scrubs emails, IPv4s, and phone runs; prose survives") {
    val rows = Seq(
      (1L, "write to First.Last+tag@sub.example.co.uk today"),
      (2L, "server at 192.168.0.1 responded"),
      (3L, "call +44 (0)20 7946-0958 now"),
      (4L, "v1.2.3 released in 2024, price 9.99"),
      (5L, "plain prose with no identifiers at all"),
      // digit-bearing prose the phone pattern must NOT eat: an ISO date
      // (8 digits), a price range (the 3-char ` - ` gap), a
      // grouped million (7 digits)
      (6L, "released 2024-05-01, range 12.50 - 13.75, population 1 000 000"),
      (7L, "card 4111 1111 1111 1111 should scrub")
    ).toDF("id", "text")
    val out = rows.select(col("id"),
        graft.functions.TextFunctions.redactPii(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "write to <EMAIL> today")
    assert(out(2L) == "server at <IP> responded")
    assert(out(3L) == "call <PHONE> now")
    assert(out(4L) == "v1.2.3 released in 2024, price 9.99")
    assert(out(5L) == "plain prose with no identifiers at all")
    assert(out(6L) == "released 2024-05-01, range 12.50 - 13.75, population 1 000 000")
    assert(out(7L) == "card <PHONE> should scrub")
  }

  // ---- exact-substring span dedup (Corpus.dedupSpans) ----

  test("dedupSpans removes later occurrences of duplicated windows, keeps canonical") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),          // canonical owner of the span
      (2L, "zeta alpha beta gamma delta eta theta"),   // contains the 4-window once
      (3L, "iota kappa lambda mu nu")                  // untouched
    ).toDF("doc_id", "text")
    val out = graft.operators.Corpus.dedupSpans(docs, "doc_id", "text", n = 4)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect()
    assert(out(0) == ((1L, 5L, 0L, "alpha beta gamma delta epsilon")))
    // doc 2: windows (alpha..delta) and (beta..eta? no) — only pos2..5
    // duplicated → tokens 2..5 removed
    assert(out(1)._3 == 4L)
    assert(out(1)._4 == "zeta eta theta")
    assert(out(2) == ((3L, 5L, 0L, "iota kappa lambda mu nu")))
  }

  test("dedupSpans merges overlapping marked intervals and can empty a document") {
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d e f")  // full duplicate: every window duplicated → empty
    ).toDF("doc_id", "text")
    val out = graft.operators.Corpus.dedupSpans(docs, "doc_id", "text", n = 3)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect()
    assert(out(0) == ((1L, 6L, 0L, "a b c d e f")))
    assert(out(1) == ((2L, 6L, 6L, "")))
  }

  test("dedupSpans removes in-document self-repetition after the first occurrence") {
    val docs = Seq((7L, "x y z w q x y z w r")).toDF("doc_id", "text")
    val out = graft.operators.Corpus.dedupSpans(docs, "doc_id", "text", n = 4)
      .as[(Long, Long, Long, String)].collect()
    assert(out(0)._3 == 4L)
    assert(out(0)._4 == "x y z w q r")
  }

  test("dedupSpans leaves short documents (< n tokens) untouched") {
    val docs = Seq((1L, "only two"), (2L, "only two")).toDF("doc_id", "text")
    val out = graft.operators.Corpus.dedupSpans(docs, "doc_id", "text", n = 4)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect()
    assert(out.forall(r => r._3 == 0L))
  }

  test("dedupSpans occurrence exchanges ship fixed-width rows, never text/token arrays") {
    val docs = (0 until 50).map(i => (i.toLong, s"tok$i a b c d e f g h")).toDF("doc_id", "text")
    val out = graft.operators.Corpus.dedupSpans(docs, "doc_id", "text", n = 4)
    out.collect() // materialize the adaptive plan
    val exchanges = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.execution.SparkPlan]
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
      p match {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
          exchanges += e
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
        case _ =>
      }
      p.children.foreach(walk)
    }
    walk(out.queryExecution.executedPlan)
    assert(exchanges.nonEmpty)
    // the gram-keyed exchanges (owner agg + occurrence/owner join) must be
    // fixed-width: no document text, no token arrays riding the shuffle —
    // only the final by-id resolve join may carry the text
    val gramExchanges = exchanges.filter(_.output.exists(_.name.contains("__gh")))
    assert(gramExchanges.nonEmpty, "expected gram-keyed exchanges in the plan")
    gramExchanges.foreach { e =>
      val bad = e.output.filter(a =>
        a.name == "text" || a.name == "__toks" ||
          a.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
      assert(bad.isEmpty,
        s"occurrence exchange carries payload: ${bad.map(_.name).mkString(",")}")
    }
  }

  test("dedupSpans protects the canonical copy of a span from other grams' marks") {
    // "q s" is canonical in doc 2 at pos 2; doc 2 also carries a marked
    // copy of doc 1's "p q" at pos 1 whose interval overlaps it — the
    // protection must keep "q s" alive in doc 2 (and removed from doc 3)
    val docs = Seq(
      (1L, "p q r"), (2L, "p q s"), (3L, "q s t")
    ).toDF("doc_id", "text")
    val out = graft.operators.Corpus.dedupSpans(docs, "doc_id", "text", n = 2)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect()
    assert(out(0)._4 == "p q r")
    assert(out(1)._4 == "q s")
    assert(out(2)._4 == "t")
  }

  // ---- CCNet-style perplexity gate (Corpus.perplexityStats) ----

  test("perplexityStats matches hand-computed add-alpha bigram values") {
    val lm = Seq((100L, "a b a b")).toDF("doc_id", "text")
    val docs = Seq((1L, "a b"), (2L, "b a"), (3L, "c c"), (4L, "x"))
      .toDF("doc_id", "text")
    val out = graft.operators.Corpus
      .perplexityStats(docs, "doc_id", "text", lm, "text", alpha = 0.1)
      .orderBy("doc_id")
      .select($"doc_id", $"n_bigrams", $"ppl").collect()
    // lm: c2(a,b)=2, c2(b,a)=1, c1(a)=2, c1(b)=1, V=2
    assert(math.abs(out(0).getDouble(2) - 2.2 / 2.1) < 1e-12)   // a b
    assert(math.abs(out(1).getDouble(2) - 1.2 / 1.1) < 1e-12)   // b a
    assert(math.abs(out(2).getDouble(2) - math.exp(-math.log(0.1 / 0.2))) < 1e-12) // unseen
    assert(out(3).getLong(1) == 0L && out(3).isNullAt(2))       // 1 token: unscored
  }

  test("perplexityFilter keeps reference-like docs, drops high-ppl, passes unscored") {
    val lm = Seq((100L, "a b a b")).toDF("doc_id", "text")
    val docs = Seq((1L, "a b"), (2L, "b a"), (3L, "c c"), (4L, "x"))
      .toDF("doc_id", "text")
    val kept = graft.operators.Corpus
      .perplexityFilter(docs, "doc_id", "text", lm, "text", maxPpl = 1.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 4L))
  }

  // ---- Backoff 5-gram LM (Corpus.ngramLmStats) ----

  test("ngramLmStats matches hand-computed stupid-backoff values") {
    // reference: two copies of 'a b c d e' → T=10, V=5, every k-gram
    // inside a copy has count 2 ('e a ...' cross-boundary grams count 1)
    val lm = Seq((100L, "a b c d e a b c d e")).toDF("doc_id", "text")
    val docs = Seq((1L, "a b c d e"), (2L, "a b x c d"), (3L, "x"))
      .toDF("doc_id", "text")
    val out = graft.operators.Corpus
      .ngramLmStats(docs, "doc_id", "text", lm, "text",
        order = 5, lambda = 0.4, alpha = 0.1)
      .orderBy("doc_id").collect()
    def lnU(c: Double) = math.log((c + 0.1) / (10 + 0.1 * 5))
    val lnL = math.log(0.4)
    // doc1: pos1 = smoothed unigram; pos2..5 all match their full order
    // with S = c_k/c_{k-1} = 2/2 = 1 → ln 1 = 0, no backoff penalty
    assert(out(0).getLong(1) == 5L)
    assert(math.abs(out(0).getDouble(2) - math.exp(-lnU(2) / 5)) < 1e-12)
    // doc2: pos3 'x' backs off 3→1 (2 λ-penalties, unseen unigram),
    // pos4 'c' backs off 4→1, pos5 'd' backs off 5→2 ('c d' seen)
    val s2 = lnU(2) + 0.0 + (2 * lnL + lnU(0)) + (3 * lnL + lnU(2)) + (3 * lnL + 0.0)
    assert(out(1).getLong(1) == 5L)
    assert(math.abs(out(1).getDouble(2) - math.exp(-s2 / 5)) < 1e-12)
    // doc3: a single OOV token still scores — the unigram ground covers
    // what the bigram operator nulls
    assert(out(2).getLong(1) == 1L)
    assert(math.abs(out(2).getDouble(2) - math.exp(-lnU(0))) < 1e-12)
  }

  test("million-token documents score with the blocked fold (bounded agg state)") {
    // the r11 verdict's memory scale-killer: a flat collect_list fold
    // buffers ~16 MB of (pos, lnS) structs for a 1M-token document; the
    // blocked fold caps level-1 state at 1024 structs and level-2 at
    // ⌈n/1024⌉ block sums. This scores a genuine 10⁶-token document and
    // checks the ppl against the closed form of its alternating bigrams —
    // the blocked regrouping must not change the alternating-sum math
    // beyond float regrouping noise (identical on the oracle side, which
    // replays the same two-level fold).
    val n = 1000000
    val text = Array.fill(n / 2)("a b").mkString(" ") // 1M tokens a b a b …
    val lm = Seq((100L, "a b a b")).toDF("doc_id", "text")
    val out = graft.operators.Corpus
      .perplexityStats(Seq((1L, text)).toDF("doc_id", "text"),
        "doc_id", "text", lm, "text", alpha = 0.1)
      .collect()(0)
    assert(out.getLong(1) == (n - 1).toLong)
    val lnAb = math.log(2.1 / 2.2)       // c2(a,b)=2, c1(a)=2, V=2
    val lnBa = math.log(1.1 / 1.2)       // c2(b,a)=1, c1(b)=1
    val expected = math.exp(-((n / 2) * lnAb + (n / 2 - 1) * lnBa) / (n - 1))
    assert(math.abs(out.getDouble(2) - expected) / expected < 1e-9,
      s"ppl ${out.getDouble(2)} vs closed-form $expected")
    // the 5-gram op under the same fold: 200k tokens × 5 orders = 1M
    // lookup rows. Closed form for the cycling doc against the two-copy
    // LM: pos 1 is the smoothed unigram ln(2.1/10.5); every later
    // position matches its full order with S = 1 (ln 0) EXCEPT the 'a'
    // that opens each repeat, whose 5-gram "b c d e a" has count 1 over
    // history count 2 → ln(1/2), once per cycle after the first.
    val m = 200000
    val text5 = Array.fill(m / 5)("a b c d e").mkString(" ")
    val out5 = graft.operators.Corpus
      .ngramLmStats(Seq((1L, text5)).toDF("doc_id", "text"), "doc_id", "text",
        Seq((100L, "a b c d e a b c d e")).toDF("doc_id", "text"), "text")
      .collect()(0)
    assert(out5.getLong(1) == m.toLong)
    val expected5 = math.exp(
      -(math.log(2.1 / 10.5) + (m / 5 - 1) * math.log(0.5)) / m)
    assert(math.abs(out5.getDouble(2) - expected5) / expected5 < 1e-9,
      s"ppl ${out5.getDouble(2)} vs closed-form $expected5")
  }

  test("ngramLmFilter separates planted gibberish from reference-like prose") {
    val sentences = Seq(
      "the cat sat on the mat and the dog ran in the park",
      "a bird flew over the house and the cat sat on the wall",
      "the dog ran to the park and a bird sat on the mat")
    val lm = sentences.zipWithIndex
      .map { case (t, i) => (100L + i, t) }.toDF("doc_id", "text")
    val docs = (Seq(
      (1L, "the cat sat on the wall"),
      (2L, "the dog ran in the park"),
      (3L, "a bird flew over the mat")) ++ Seq(
      (11L, "zq wv xk jp qg zz kv bn"),
      (12L, "mat park zq the wv dog xk"),
      (13L, "kv qg jp bn zz xk wv zq"))).toDF("doc_id", "text")
    val ppl = graft.operators.Corpus
      .ngramLmStats(docs, "doc_id", "text", lm, "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val proseMax = Seq(1L, 2L, 3L).map(ppl).max
    val gibberishMin = Seq(11L, 12L, 13L).map(ppl).min
    assert(gibberishMin > proseMax * 5,
      s"no separation: prose max $proseMax vs gibberish min $gibberishMin")
    val kept = graft.operators.Corpus
      .ngramLmFilter(docs, "doc_id", "text", lm, "text",
        maxPpl = proseMax * 2)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L), s"gate kept $kept")
  }

  test("ngramLmStats and ngramLmFilter score scan-fused: no join, no aggregate") {
    // the LM ships as one broadcast variable and each document is scored
    // in place — a Join or HashAggregate here is the per-position
    // explode + lookup + fold plan coming back
    val lm = Seq((100L, "a b c d e a b c d e")).toDF("doc_id", "text")
    // RDD-backed: a local Seq frame would be scored at optimization time
    val docs = spark.sparkContext.parallelize(Seq((1L, "a b c d e"), (2L, "a b x c d")))
      .toDF("doc_id", "text")
    for (df <- Seq(
        graft.operators.Corpus.ngramLmStats(docs, "doc_id", "text", lm, "text"),
        graft.operators.Corpus.ngramLmFilter(docs, "doc_id", "text", lm, "text",
          maxPpl = 10.0))) {
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("ngram_lm_score") &&
        !p.contains("Join") && !p.contains("HashAggregate"), p)
    }
  }
}
