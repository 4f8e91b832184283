package graftbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GenData
import graft.functions.{HashEmbedder, TextFunctions}
import graft.ml.{Registry, Trainer}
import graft.operators.{Bpe, Corpus, Dedup}
import graft.store.{Collection, FullTextField, Pipeline, PipelineField, VectorSearchField}

/** State shared by a run: the session, the call recorder, per-layer
  * metrics and the output checks. */
final class Ctx(val spark: SparkSession, val workload: String, val seed: Long,
    val docs: Int, val workDir: File) {
  val calls = new Calls(workload, spark.sparkContext)
  val layer = mutable.Map.empty[String, Double]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean)]
  /** The workload's result-quality ratio, reported as `recall`. */
  var recall = 0.0

  def check(name: String, ok: Boolean, detail: String): Unit = {
    checks += name -> ok
    println(s"CHECK $name ${if (ok) "ok" else "FAILED"} $detail")
  }
  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }
  def dir(name: String): String = new File(workDir, name).getPath
}

/** One benchmark workload. A run calls [[setup]] several times (the last
  * set-up is the one measured), [[warmup]] and [[settle]] once, then
  * [[measure]] once per phase, then [[finish]] for the output checks; a
  * traced run also calls [[probes]]. */
abstract class Workload(val ctx: Ctx) {
  protected def spark: SparkSession = ctx.spark
  protected def calls: Calls = ctx.calls

  /** Set-ups per run; `setup_s` counts their median. */
  def setups: Int
  /** One full set-up; returns per-layer set-up timings in seconds. */
  def setup(k: Int): Map[String, Double]
  /** First calls after the last set-up: counted in `setup_s`. */
  def warmup(): Unit
  /** Unmeasured load between the warm-up and the measuring loop, counted
    * nowhere. */
  def settle(): Unit = ()
  /** Run the closed loop for `seconds`; returns the measured wall seconds. */
  def measure(seconds: Double): Double
  /** Ops whose latencies make up the wall-clock latency figures. */
  def primaryOps: Seq[String]
  /** `cpu_ms_per_op` from the CPU ms of each call of an op: the median call
    * of each kind, combined the way the workload's unit of work combines
    * them, so the figure holds still when a run ends part-way through a
    * mix or a pass. */
  def cpuPerOp(cpuMs: String => Seq[Double]): Double
  def finish(): Unit
  def probes(): Unit

  protected def sinceNs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Per-layer probes every workload can run against its corpus. */
  protected def commonProbes(corpus: DataFrame, pool: IndexedSeq[String]): Unit = {
    val sc = spark.sparkContext
    val floor = (1 to 25).map { _ =>
      ctx.time(sc.parallelize(Seq(1), 1).count())._2 * 1000 }.drop(5)
    ctx.layer("spark.job_floor_ms") = Stats.pct(floor, 50)
    val emb = HashEmbedder(64)
    pool.foreach(emb.embedOne) // JIT warm-up
    val (_, embS) = ctx.time(pool.foreach(emb.embedOne))
    ctx.layer("functions.embed_one_us") = embS * 1e6 / pool.size
    ctx.layer("functions.text_kernels_s") = ctx.time(corpus.select(
      TextFunctions.langId(col("text")).as("l"),
      TextFunctions.qualityScore(col("text")).as("q"),
      TextFunctions.tokenCount(col("text")).as("t"))
      .agg(countDistinct(col("l")), sum(col("q")), sum(col("t"))).collect())._2
  }
}

object Workload {
  def apply(ctx: Ctx): Workload = ctx.workload match {
    case "serve_read" => new ServeRead(ctx)
    case "curate_batch" => new CurateBatch(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The linear model's features: token count and distinct-token count,
    * predicting the character count. */
  def features(docs: DataFrame): DataFrame = docs.select(
    TextFunctions.tokenCount(col("text")).cast("double").as("tc"),
    size(array_distinct(split(col("text"), " "))).cast("double").as("uniq"),
    col("n_chars").cast("double").as("n_chars"))

  def featureRow(text: String): Map[String, Any] = {
    val toks = text.split(" ").filter(_.nonEmpty)
    Map("tc" -> toks.length.toDouble, "uniq" -> toks.distinct.length.toDouble)
  }
}

/** Read-only serving: two closed-loop clients, each waiting for its reply
  * before sending the next call. Mix: 50% vectorSearch, 20% hybrid search,
  * 15% filtered vectorSearch (half on `lang`, half on `source`), 15%
  * predictRow, in a fixed interleaved order so the proportions hold in
  * every run.
  * Query texts are drawn Zipf-weighted from a 1,000-text pool.
  *
  * Set-up: a GenData corpus upserted into a collection, fully synced with
  * the reference pipeline defaults (recursive splitter 1500/40,
  * HashEmbedder(64), full text, HNSW 16/64), plus a linear model trained
  * and deployed. */
final class ServeRead(ctx0: Ctx) extends Workload(ctx0) {
  private val pipeline = Pipeline("p", Seq(PipelineField("text",
    splitter = Some((1500, 40)), semanticSearch = Some(HashEmbedder(64)),
    fullTextSearch = true, hnswIndex = Some((16, 64)))))
  private val project = "chars"
  private val pool: IndexedSeq[String] = Text.queryPool(ctx.seed)
  private var coll: Collection = _
  private var registry: Registry = _
  private var corpus: DataFrame = _
  private var whDir: String = _

  private def docJson(df: DataFrame): DataFrame = df.select(to_json(struct(
    col("doc_id").as("id"), col("text"), col("lang"), col("source"),
    col("n_chars"))).as("document"))

  def setup(k: Int): Map[String, Double] = {
    val base = ctx.dir(s"setup$k")
    val (_, genS) = ctx.time(GenData.documents(spark, ctx.docs.toLong, ctx.seed)
      .write.parquet(s"$base/corpus"))
    corpus = spark.read.parquet(s"$base/corpus")
    whDir = s"$base/wh"
    coll = new Collection(spark, "docs", whDir)
    val (_, upS) = ctx.time(coll.upsertDocuments(docJson(corpus)))
    val (_, syncS) = ctx.time(coll.syncPipeline(pipeline))
    val trainer = new Trainer(spark, s"$base/registry")
    val (_, trainS) = ctx.time(trainer.train(project, "regression",
      Workload.features(corpus), Some("n_chars"), "linear", testSize = 0.0))
    registry = trainer.registry
    Map("setup.generate_s" -> genS, "store.bulk_upsert_s" -> upS,
      "store.sync_full_s" -> syncS, "ml.train_s" -> trainS)
  }

  /** A call of every kind, which loads the HNSW graphs. The result ids of
    * the first plain and hybrid searches make the run's digest, identical
    * across runs of one seed (selftest.py compares). */
  def warmup(): Unit = {
    val ids = pool.take(1).map { q =>
      val ids = (vectorSearch(q, None) ++ hybrid(q)).map(_.getAs[String]("document_id"))
      vectorSearch(q, Some(langFilter("en"))); vectorSearch(q, Some(sourceFilter(1)))
      registry.predictRow(project, Workload.featureRow(q))
      ids.mkString(",")
    }
    digest = Text.md5Hex(ids.mkString(";"))
  }
  private var digest = ""

  /** The client loop, unmeasured, for a fixed number of calls. The JIT is
    * still compiling the read path then: a call's CPU time fell from ~500
    * to ~300 ms over the first 90 calls of a JVM on a 4-core host. How far
    * the JIT gets follows the calls made, not the seconds passed, so a
    * fixed count of calls, unlike a fixed time, leaves runs on a busy host
    * as warm as runs on a quiet one. */
  override def settle(): Unit = {
    val started = new java.util.concurrent.atomic.AtomicInteger()
    runClients(() => started.getAndIncrement() < SettleCalls)
  }
  private val SettleCalls = 24
  /** Two set-ups: the first, in a cold JVM, costs about three warm ones. */
  val setups = 2

  private def vectorSearch(q: String, filter: Option[String]): Array[org.apache.spark.sql.Row] =
    coll.vectorSearch(pipeline, Seq(VectorSearchField("text", q)), limit = 10,
      filterJson = filter).collect()
  private def hybrid(q: String): Array[org.apache.spark.sql.Row] =
    coll.search(pipeline, semantic = Seq(VectorSearchField("text", q)),
      fullText = Seq(FullTextField("text", q)), limit = 10).collect()
  private def langFilter(l: String) = s"""{"lang": {"$$eq": "$l"}}"""
  private def sourceFilter(s: Int) = s"""{"source": {"$$eq": "src$s"}}"""

  /** Share of the exact cosine top-10 (over the pipeline's stored
    * embeddings) that the given `vectorSearch` answers hold. A returned
    * document whose exact score ties the 10th exact score counts as a hit. */
  private def recallAt10(answers: Seq[(String, Seq[String])]): Double = {
    val stored = coll.embeddings(pipeline, "text").select("document_id", "embedding")
      .collect().map(r => r.getString(0) -> r.getSeq[Float](1).toArray)
    val emb = HashEmbedder(64)
    val hits = answers.map { case (q, ann) =>
      val qv = emb.embedOne(q)
      val best = mutable.Map.empty[String, Double]
      stored.foreach { case (id, v) =>
        val s = Stats.cosine(qv, v)
        if (s > best.getOrElse(id, Double.NegativeInfinity)) best(id) = s
      }
      val tenth = best.values.toSeq.sorted(Ordering[Double].reverse)
        .lift(9).getOrElse(Double.NegativeInfinity)
      ann.distinct.count(id => best.getOrElse(id, Double.NegativeInfinity) >= tenth - 1e-6)
    }
    hits.sum / (10.0 * math.max(1, answers.size))
  }

  private def ids(rows: Array[org.apache.spark.sql.Row]): Seq[String] =
    rows.map(_.getAs[String]("document_id")).toSeq

  /** Reports `recall` and the run's digest, and checks recall. */
  private def checkRecall(answers: Seq[(String, Seq[String])]): Unit = {
    ctx.recall = recallAt10(answers)
    println(s"DIGEST ${ctx.workload} $digest")
    ctx.check("recall_at_10", answers.nonEmpty && ctx.recall >= RecallFloor,
      f"recall=${ctx.recall}%.4f over ${answers.size} queries (>= $RecallFloor)")
  }
  /** HNSW (16, 64) over 64-d hash embeddings of Zipf text; the check
    * catches a broken index path, not the known approximation. */
  private val RecallFloor = 0.75

  /** Store-vs-operator split of a `vectorSearch` call on the same
    * queries: the HNSW operator tier called directly, and the store call. */
  private def storeProbes(): Unit = {
    val hnsw = coll.hnswIndex(pipeline, "text")
    val emb = HashEmbedder(64)
    val qs = pool.slice(2, 14)
    qs.take(2).foreach { q =>
      hnsw.serveDistributed(emb.embedOne(q), 10); hnsw.searchLocal(emb.embedOne(q), 10)
      vectorSearch(q, None)
    }
    val rows = qs.map { q =>
      val (_, serveS) = ctx.time(hnsw.serveDistributed(emb.embedOne(q), 10))
      val (_, localS) = ctx.time(hnsw.searchLocal(emb.embedOne(q), 10))
      val (_, storeS) = ctx.time(vectorSearch(q, None))
      (serveS * 1000, localS * 1000, storeS * 1000)
    }
    ctx.layer("operators.hnsw_serve_ms_p50") = Stats.pct(rows.map(_._1), 50)
    ctx.layer("operators.hnsw_serve_ms_p90") = Stats.pct(rows.map(_._1), 90)
    ctx.layer("operators.hnsw_local_ms_p50") = Stats.pct(rows.map(_._2), 50)
    ctx.layer("store.vector_search_overhead_ms_p50") =
      Stats.pct(rows.map(r => r._3 - r._1), 50)
  }

  /** Warehouse size, files per table and space amplification. */
  private def warehouseMetrics(): Unit = {
    val files = Stats.filesUnder(new File(whDir))
    val bytes = files.map(_.length()).sum
    val perTable = files.filter(_.getName.endsWith(".parquet"))
      .groupBy(f => Stats.tableDir(f, new File(whDir))).values.map(_.size)
    ctx.layer("store.warehouse_mb") = bytes / 1048576.0
    ctx.layer("store.files_per_table_max") = if (perTable.isEmpty) 0.0 else perTable.max.toDouble
    val sourceBytes = docJson(corpus).agg(sum(length(col("document")))).head().getLong(0)
    ctx.layer("store.space_amp") = bytes.toDouble / math.max(1L, sourceBytes)
  }

  def probes(): Unit = { commonProbes(corpus, pool); storeProbes() }

  private var phase = 0
  /** (query, result ids) of every measured plain vectorSearch call. */
  private val answered = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[String])]()

  val primaryOps = Seq("vector_search", "hybrid", "filtered", "predict_row")

  /** Share of each primary op in the mix, 10:4:3:3. */
  private val Weights = Array(10, 4, 3, 3)

  /** The mix-weighted mean of each kind's median call. */
  def cpuPerOp(cpuMs: String => Seq[Double]): Double =
    primaryOps.zip(Weights).map { case (op, w) => w * Stats.pct(cpuMs(op), 50) }.sum / Weights.sum

  /** The call kinds (0 vectorSearch, 1 hybrid, 2 filtered, 3 predictRow)
    * in smooth weighted round-robin order for [[Weights]]: every run of
    * consecutive calls holds the mix to within one call per kind, so short
    * runs see the same proportions. */
  private val Schedule: IndexedSeq[Int] = {
    val weights = Weights
    val current = Array.fill(4)(0)
    IndexedSeq.fill(weights.sum) {
      weights.indices.foreach(k => current(k) += weights(k))
      val k = current.indices.maxBy(current(_))
      current(k) -= weights.sum
      k
    }
  }

  private def client(t: Int, more: () => Boolean): Unit = {
    val r = new SplittableRandom(ctx.seed * 1000003L + phase * 7919L + t)
    var i = t * Schedule.size / 2 // the second client starts half a schedule in
    var filtered = t // the clients start on different regimes
    while (more()) {
      val q = pool(Text.zipfIndex(r, pool.size))
      Schedule(i % Schedule.size) match {
        case 0 => calls.call("store", "vector_search")(vectorSearch(q, None))
          .foreach(rows => answered.add(q -> ids(rows)))
        case 1 => calls.call("store", "hybrid")(hybrid(q))
        case 2 =>
          // alternate the regimes; values rotate so every run filters alike
          val f = if (filtered % 2 == 0) langFilter(Text.Langs(filtered / 2 % Text.Langs.length))
            else sourceFilter(filtered / 2 % 20)
          filtered += 1
          calls.call("store", "filtered")(vectorSearch(q, Some(f)))
        case _ => calls.call("ml", "predict_row")(
          registry.predictRow(project, Workload.featureRow(q)))
      }
      i += 1
    }
  }

  def measure(seconds: Double): Double = {
    phase += 1
    answered.clear()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    runClients(() => System.nanoTime() < deadline)
    sinceNs(t0)
  }

  /** Two closed-loop clients, each sending calls while `more()` holds. */
  private def runClients(more: () => Boolean): Unit = {
    val clients = (0 until 2).map(t => new Thread(() => client(t, more)))
    clients.foreach(_.start()); clients.foreach(_.join())
  }

  def finish(): Unit = {
    checkRecall(answered.toArray(Array.empty[(String, Seq[String])]).toSeq)
    warehouseMetrics()
  }
}

/** Batch curation: each pass runs the training-data operators over a
  * GenData corpus with planted near-duplicates — curate with near-dedup,
  * MinHash-LSH pairs, the n-gram LM filter against a seeded reference
  * sample, BPE fit + token counts, and a linear model's train + batch
  * predict. It never touches `graft.store`. */
final class CurateBatch(ctx0: Ctx) extends Workload(ctx0) {
  val primaryOps = Seq("pass")
  private val passOps = Seq("curate", "minhash_pairs", "ngram_lm", "bpe", "train", "predict_batch")

  /** CPU of a pass: the sum of each operator call's median. */
  def cpuPerOp(cpuMs: String => Seq[Double]): Double =
    passOps.map(op => Stats.pct(cpuMs(op), 50)).sum
  private var corpus: DataFrame = _
  private var reference: DataFrame = _
  private var planted: Set[(Long, Long)] = Set.empty
  private var regDir = ""
  private val kept = mutable.ArrayBuffer.empty[Seq[Long]]
  private var pairsFound = 0L
  private var plantedRecall = 1.0 // lowest share of planted pairs found in a pass
  private val passS = mutable.ArrayBuffer.empty[Double]
  /** Passes per measuring loop, at the least. */
  private val MinPasses = 2
  val setups = 3

  def setup(k: Int): Map[String, Double] = {
    val base = ctx.dir(s"setup$k")
    val (_, genS) = ctx.time {
      GenData.documents(spark, ctx.docs.toLong, ctx.seed).write.parquet(s"$base/corpus")
      corpus = spark.read.parquet(s"$base/corpus")
      corpus.sample(withReplacement = false, 0.2, ctx.seed).select("text")
        .write.parquet(s"$base/reference")
      reference = spark.read.parquet(s"$base/reference")
    }
    regDir = s"$base/registry"
    // planted verbatim pairs: id ≡ 3 (mod 7) repeats leader id − 3 word for
    // word when the leader has fewer than 40 tokens
    planted = corpus.where(col("doc_id") % 7 === 0)
      .where(size(split(col("text"), " ")) < 40)
      .select("doc_id").collect().map(_.getLong(0))
      .filter(_ + 3 < ctx.docs).map(l => (l, l + 3)).toSet
    Map("setup.generate_s" -> genS)
  }

  /** One pass over the corpus: JIT and codegen warm-up. Its kept counts
    * and planted pairs are checked with the measured passes'. */
  def warmup(): Unit = {
    pass()
    calls.reset(); passS.clear()
  }

  private def pass(): Unit = {
    val t0 = System.nanoTime()
    val curated = calls.call("operators", "curate")(
      Corpus.curate(corpus, "doc_id", "text", nearDupThreshold = Some(0.9)).count())
    val pairs = calls.call("operators", "minhash_pairs")(
      Dedup.minhashLshPairs(corpus, "doc_id", "text", 0.9)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    val lm = calls.call("operators", "ngram_lm")(
      Corpus.ngramLmFilter(corpus, "doc_id", "text", reference, "text", maxPpl = 1000.0).count())
    val bpe = calls.call("operators", "bpe") {
      val model = Bpe.fit(corpus, "doc_id", "text", numMerges = 40)
      Bpe.tokenCounts(corpus, "doc_id", "text", model)
        .agg(sum(col("n_bpe_tokens"))).head().getLong(0)
    }
    val trainer = new Trainer(spark, regDir)
    val feats = Workload.features(corpus)
    calls.call("ml", "train")(trainer.train("chars", "regression", feats, Some("n_chars"),
      "linear", testSize = 0.0))
    val predicted = calls.call("ml", "predict_batch")(
      trainer.registry.predict("chars", feats).agg(count(lit(1))).head().getLong(0))
    passS += sinceNs(t0)
    calls.record("pass", passS.last * 1000)
    pairs.foreach { p =>
      pairsFound = p.size
      plantedRecall = math.min(plantedRecall,
        planted.count(p.contains).toDouble / math.max(1, planted.size))
    }
    kept += Seq(curated, pairs.map(_.size.toLong), lm, bpe, predicted).map(_.getOrElse(-1L))
  }

  /** Whole passes: at least [[MinPasses]], and another only while it is
    * expected to end within `seconds` (judged by the last pass). The wall
    * is the sum of the pass times, so ops/s is operator calls per second of
    * pass time. */
  def measure(seconds: Double): Double = {
    passS.clear()
    val t0 = System.nanoTime()
    while (passS.size < MinPasses || sinceNs(t0) + passS.last <= seconds) pass()
    println("PASSES_S " + passS.map(s => f"$s%.3f").mkString(" "))
    passS.sum
  }

  def finish(): Unit = {
    ctx.recall = if (planted.isEmpty) 0.0 else plantedRecall
    ctx.check("planted_pairs_found", ctx.recall == 1.0,
      s"lowest share of the ${planted.size} planted verbatim pairs found in a pass: ${ctx.recall}")
    println(s"KEPT curate_batch ${kept.head.mkString(",")}")
    ctx.check("kept_counts_stable", kept.size >= 2 && kept.distinct.size == 1,
      s"kept counts of ${kept.size} passes: ${kept.map(_.mkString(",")).distinct.mkString(" | ")}")
    ctx.layer("operators.minhash_pairs_found") = pairsFound.toDouble
    ctx.layer("operators.minhash_planted_recall") = ctx.recall
  }

  def probes(): Unit = commonProbes(corpus, Text.queryPool(ctx.seed))
}
