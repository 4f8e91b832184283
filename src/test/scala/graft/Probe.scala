package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The one parametrized dev tool (consolidates the former TimeProbe/
  * TimeProbe2/PlanPeek/ProfilePerf/DriveManual/IvfRecallProbe one-offs).
  * Not a test. Run: sbt "Test/runMain graft.Probe <cmd> [args]"
  *
  *   time <query>... [sfDir] [nPasses]   warm + median timing of catalog queries
  *   explain <query> [sfDir]             executed plan of a catalog query
  *   count-prune [query...] [sfDir]      what a bare count() drops from each query's plan
  *   drive                               manual e2e drive of the public surface
  *   ivf-recall [sfDir]                  measured recall@10 at nprobe=4/nlist=16
  *   profile [sfDir]                     stage decomposition of m1 + s4 legs
  *   hybrid-filter <sfDir> [calls]       hybrid search cost per call, per filter selectivity
  *   serve-driver [docs] [calls]         driver work of a warm call of each serve kind
  */
object Probe {

  private def time[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime(); val r = f
    println(f"TIME $label%-32s ${(System.nanoTime() - t0) / 1e9}%.3f s"); r
  }

  private def session(cores: Int = 32): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]")
      .appName("graft-probe")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "phases" :: rest =>
      // driver-side attribution of a leg's pre-first-job gap: constructs
      // the DataFrame, then walks the lazy queryExecution phases one at a
      // time so optimization / physical planning / execution each get
      // their own wall number (guide §7.3 — planning time can itself be
      // the bottleneck; this tells you whether a "slow query" is
      // actually a slow plan). Attribution caveats (deliberate): Dataset
      // construction analyzes EAGERLY, so `construct` INCLUDES analysis
      // and `analyze` always prints ~0; `df.count()` builds its own
      // QueryExecution, so `run` includes the count plan's
      // analysis/optimization/planning on top of execution. The useful
      // signals are `construct+analyze` (analysis), `optimize`, `plan`,
      // and `run` minus the other columns' sum (as a rough floor).
      val (queries, opts) = rest.partition(SparkEntry.queries.contains)
      val sfDir = opts.find(_.startsWith("/")).getOrElse("/root/testdata/sf0.1")
      val n = opts.find(_.forall(_.isDigit)).map(_.toInt).getOrElse(3)
      val spark = session()
      for (q <- queries) {
        val fn = SparkEntry.queries(q)
        try fn(spark, sfDir).count() catch { case e: Throwable => println(s"WARM FAIL $q: $e") }
        for (p <- 1 to n) {
          def ms[A](f: => A): (Double, A) = {
            val t0 = System.nanoTime(); val r = f
            ((System.nanoTime() - t0) / 1e6, r)
          }
          val (tc, df) = ms(fn(spark, sfDir))
          val (ta, _) = ms(df.queryExecution.analyzed)
          val (to, _) = ms(df.queryExecution.optimizedPlan)
          val (tp, _) = ms(df.queryExecution.executedPlan)
          val (tr, _) = ms(df.count())
          println(f"PHASES $q p$p construct=$tc%.0f analyze=$ta%.0f optimize=$to%.0f plan=$tp%.0f run=$tr%.0f ms")
        }
      }
      spark.stop()

    case "time" :: rest =>
      val (queries, opts) = rest.partition(SparkEntry.queries.contains)
      val sfDir = opts.find(_.startsWith("/")).getOrElse("/root/testdata/sf0.1")
      val n = opts.find(_.forall(_.isDigit)).map(_.toInt).getOrElse(3)
      val spark = session()
      // process-CPU per pass alongside wall: hypervisor steal inflates
      // wall but not the JVM's own CPU time, so on a noisy host the CPU
      // column is the steal-insensitive "did the work shrink" signal
      // (parallelism changes show in min-wall instead)
      def cpuNs(): Long =
        java.lang.management.ManagementFactory.getOperatingSystemMXBean
          .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
      for (q <- queries) {
        val fn = SparkEntry.queries(q)
        try fn(spark, sfDir).count() catch { case e: Throwable => println(s"WARM FAIL $q: $e") }
        val samples = (1 to n).map { _ =>
          val c0 = cpuNs(); val t0 = System.nanoTime(); fn(spark, sfDir).count()
          ((System.nanoTime() - t0) / 1e9, (cpuNs() - c0) / 1e9)
        }
        val times = samples.map(_._1).sorted
        val cpus = samples.map(_._2).sorted
        println(f"MEDIAN $q%-28s ${times(n / 2)}%.3f s  (min ${times.head}%.3f max ${times.last}%.3f)  cpu med ${cpus(n / 2)}%.2f min ${cpus.head}%.2f")
      }
      spark.stop()

    case "rows" :: rest =>
      val (queries, opts) = rest.partition(SparkEntry.queries.contains)
      val sfDir = opts.find(_.startsWith("/")).getOrElse("/root/testdata/sf0.1")
      val spark = session()
      for (q <- queries)
        println(s"ROWS $q = ${SparkEntry.queries(q)(spark, sfDir).count()}")
      spark.stop()

    case "count-prune" :: rest =>
      // which catalog queries a bare count() would time only in part: the
      // plan operators and expression classes of the query's optimized
      // plan that its count's optimized plan no longer has (Catalyst
      // prunes output columns nothing reads — c9's scoring kernel was one)
      val (named, opts) = rest.partition(SparkEntry.queries.contains)
      val sfDir = opts.find(_.startsWith("/")).getOrElse(TestSpark.sf0001)
      val spark = session(4)
      def classes(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Set[String] =
        p.collectWithSubqueries { case n => n }.flatMap(n =>
          n.nodeName +: n.expressions.flatMap(_.collect { case e => e.prettyName })).toSet
      val trivial = Set("Sort", "sortorder", "Project", "alias", "attributereference",
        "literal", "GlobalLimit", "LocalLimit")
      for (q <- if (named.nonEmpty) named else SparkEntry.queries.keys.toSeq.sorted) {
        val lost = scala.util.Try {
          val df = SparkEntry.queries(q)(spark, sfDir)
          classes(df.queryExecution.optimizedPlan) --
            classes(df.groupBy().count().queryExecution.optimizedPlan) -- trivial
        }
        println(s"COUNT_PRUNES $q " + lost.fold(e => s"ERROR ${e.getMessage.take(80)}",
          l => l.toSeq.sorted.mkString(",")))
      }
      spark.stop()

    case "explain" :: q :: rest =>
      val sfDir = rest.headOption.getOrElse(TestSpark.sf001)
      val spark = session(8)
      val df = SparkEntry.queries(q)(spark, sfDir)
      println(s"=== $q EXECUTED PLAN ===")
      println(df.queryExecution.executedPlan.toString)
      spark.stop()

    case "sf1gen" :: rest =>
      // 10× scale-up of sf0.1 (documents + embeddings) for headroom runs:
      // per copy k, every WORD gets a k-keyed 2-hex suffix — every shingle
      // differs across copies (no artificial cross-copy near-dup explosion)
      // while within-copy near-dup structure is preserved verbatim — and
      // embeddings rotate by k dims (unit norms and within-copy geometry
      // preserved; copies land elsewhere on the sphere). Deterministic.
      val src = rest.headOption.getOrElse("/root/testdata/sf0.1")
      val dst = rest.drop(1).headOption.getOrElse("/tmp/graft_sf1")
      val spark = session()
      val docs = spark.read.parquet(s"$src/documents.parquet")
      val maxId = docs.agg(max(col("doc_id"))).head.getLong(0) + 1
      val docCopies = (0 until 10).map { k =>
        val salted =
          if (k == 0) col("text")
          else array_join(transform(split(col("text"), " "),
            w => concat(w, substring(md5(concat(w, lit(s"#$k"))), 1, 2))), " ")
        docs.select((col("doc_id") + lit(k * maxId)).as("doc_id"),
          salted.as("text"), col("lang"), col("source"), col("n_chars"))
      }
      docCopies.reduce(_ unionByName _)
        .repartition(32)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$dst/documents.parquet")
      val emb = spark.read.parquet(s"$src/embeddings.parquet")
      val maxVid = emb.agg(max(col("vec_id"))).head.getLong(0) + 1
      val embCopies = (0 until 10).map { k =>
        val rot =
          if (k == 0) col("embedding")
          else concat(slice(col("embedding"), k + 1, 64 - k),
            slice(col("embedding"), 1, k))
        emb.select((col("vec_id") + lit(k * maxVid)).as("vec_id"),
          rot.as("embedding"), col("label"))
      }
      embCopies.reduce(_ unionByName _)
        .repartition(32)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$dst/embeddings.parquet")
      println(s"SF1 corpus at $dst: " +
        s"${spark.read.parquet(s"$dst/documents.parquet").count()} docs, " +
        s"${spark.read.parquet(s"$dst/embeddings.parquet").count()} vectors")
      spark.stop()

    case "drive" :: _ =>
      val spark = session(4)
      import spark.implicits._
      import graft.functions.VecFunctions._
      // Brute-force KNN over real embeddings: top-5 similar to vec_id 0
      val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      val q = emb.where($"vec_id" === 0).select($"embedding").as[Array[Float]].head()
      val knn = emb.select($"vec_id",
          cosineSimilarity($"embedding", floatVec(q.toIndexedSeq)).as("score"))
        .orderBy($"score".desc).limit(5)
      knn.show(false)
      knn.explain("formatted")
      // SQL surface
      registerAll(spark)
      emb.createOrReplaceTempView("emb")
      spark.sql("SELECT round(vec_norm_l2(embedding),4) n2 FROM emb ORDER BY vec_id LIMIT 3").show()
      spark.sql("SELECT round(aggregate(vec_sum(embedding), 0D, (a,x) -> a + x),4) total FROM emb").show()
      // probe: length mismatch must fail loudly, not return garbage
      try {
        emb.select(cosineSimilarity($"embedding", floatVec(Seq(1f, 2f)))).head()
        println("PROBE-MISMATCH: no error (BAD)")
      } catch {
        case ex: Throwable =>
          println("PROBE-MISMATCH error: " + ex.getMessage.linesIterator.toSeq.take(3).mkString(" | "))
      }
      // probe: null vector row → null result, no crash
      val withNull = Seq((1L, Array(1f, 2f)), (2L, null.asInstanceOf[Array[Float]])).toDF("id", "v")
      withNull.select($"id", cosineSimilarity($"v", floatVec(Seq(1f, 2f))).as("c")).show()
      // load_dataset built-ins: name → catalog table, deterministic content
      val (tbl, n) = graft.ml.Datasets.loadDataset(spark, "iris")
      println(s"DATASETS: $tbl rows=$n")
      spark.table(tbl).show(3)
      // remote-embedder batch contract agrees with the column kernel
      val hash = graft.functions.HashEmbedder(16)
      val remote = graft.functions.RemoteEmbedder(graft.functions.HashBackedClient(16), 16, 4)
      val same = hash.embedOne("probe text").sameElements(remote.embedOne("probe text"))
      println(s"EMBEDDER-PARITY: $same" + (if (same) "" else " (BAD)"))
      // tune conversation → generate, driver-side serving
      val reg = java.nio.file.Files.createTempDirectory("graft_probe_reg_").toString
      val tr = new graft.ml.Trainer(spark, reg)
      val conv = Seq(
        ("sys", "weather sunny forecast", "it is sunny"),
        ("sys", "invoice billing payment", "invoice is ready"),
        ("sys", "weather rain cloud forecast", "it is sunny"),
        ("sys", "billing account payment due", "invoice is ready")).toDF("system", "user", "assistant")
      tr.tune("probe_conv", "conversation", conv, "user", "assistant", "m")
      println("GENERATE: " + tr.registry.generate("probe_conv", "weather forecast today"))
      // quantized surface: binary Hamming prefilter + SQ8 ADC agree with
      // the exact scan on the head of the ranking
      val exact5 = knn.select("vec_id").as[Long].collect().toSet
      val bin5 = graft.operators.Quantized.binaryKnn(emb, "vec_id", "embedding", q, 5, rerank = 100)
        .select("vec_id").as[Long].collect().toSet
      println(s"QUANT-BINARY overlap@5 vs exact: ${bin5.intersect(exact5).size}/5")
      val model = graft.operators.Quantized.sq8Fit(emb, "embedding")
      val sq5 = graft.operators.Quantized.sq8Knn(emb, "vec_id", "embedding", q, 5, model)
        .select("vec_id").as[Long].collect().toSet
      val exactIp5 = emb.select($"vec_id", vecDot($"embedding", floatVec(q.toIndexedSeq)).as("ip"))
        .orderBy($"ip".desc, $"vec_id").limit(5).select("vec_id").as[Long].collect().toSet
      println(s"QUANT-SQ8 overlap@5 vs exact-IP: ${sq5.intersect(exactIp5).size}/5")
      // corpus curation family on real documents: gates + mixture + splits
      // + PII + packing through the public API
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      val curated = graft.operators.Corpus.curate(docs, "doc_id", "text",
        nearDupThreshold = Some(0.9))
      println(s"CURATE kept ${curated.count()}/${docs.count()}")
      val mix = graft.operators.Corpus.sampleMixture(docs, "doc_id", "source",
        Map("src0" -> 1.0, "src1" -> 0.0), defaultWeight = 0.5, seed = 1L)
      println("MIXTURE " + mix.groupBy("source").count().orderBy(col("source"))
        .collect().take(4).mkString(" "))
      val sp = graft.operators.Corpus.assignSplits(docs, "doc_id",
        Seq("train" -> 0.9, "test" -> 0.1), seed = 1L)
      println("SPLITS " + sp.groupBy("split").count().collect().mkString(" "))
      sp.groupBy("split").count().explain("formatted")
      val pii = docs.select(graft.functions.TextFunctions.redactPii(
          concat($"text", lit(" ip 10.1.2.3"))).as("r"))
        .where($"r".contains("<IP>")).count()
      println(s"PII redacted rows: $pii" + (if (pii == docs.count()) "" else " (BAD)"))
      val packs = graft.operators.Corpus.packSequences(docs, "doc_id", "text", 2048, 4)
        .agg(max($"pack_id")).head().getLong(0)
      println(s"PACKS max pack_id: $packs")
      val shards = graft.operators.Corpus.shuffleToShards(docs, "doc_id", 7, seed = 1L)
        .groupBy("shard").count().orderBy("shard")
        .collect().map(r => s"${r.getInt(0)}:${r.getLong(1)}").mkString(" ")
      println(s"SHARDS $shards")
      val temper = graft.operators.Corpus.temperatureMixture(
          docs.withColumn("tier", when($"source".isin("src0", "src1", "src2"), "big")
            .otherwise("rest")), "doc_id", "tier", alpha = 0.5, seed = 1L)
        .groupBy("tier").count().orderBy("tier").collect().mkString(" ")
      println(s"TEMPER-MIX kept $temper")
      val budgeted = graft.operators.Corpus.tokenBudgetMixture(
        docs, "doc_id", "text", "source", Map("src0" -> 500L), seed = 1L)
      val src0Toks = budgeted.where($"source" === "src0")
        .agg(coalesce(sum($"n_tokens"), lit(0L))).head().getLong(0)
      println(s"TOKEN-BUDGET src0 kept $src0Toks/500 tokens, " +
        s"rows ${budgeted.count()}/${docs.count()}" +
        (if (src0Toks <= 500L) "" else " (BAD)"))
      // trained bi-encoder through the rank seam: Word2Vec fit on the real
      // corpus, rerank a shortlist, top rerank_score must be a valid cosine
      val w2v = graft.functions.Word2VecEmbedder.fit(
        docs.select($"text".as("body")), "body", dim = 12, minCount = 1)
      val wh2 = java.nio.file.Files.createTempDirectory("graft_probe_rr_").toString
      val rrColl = new graft.store.Collection(spark, "probe_rr", wh2)
      rrColl.upsertDocuments(docs.limit(50).select(
        org.apache.spark.sql.functions.to_json(
          org.apache.spark.sql.functions.struct($"doc_id".as("id"), $"text")).as("document")))
      val rrPipe = graft.store.Pipeline("p", Seq(graft.store.PipelineField("text",
        splitter = Some((100000, 0)), semanticSearch = Some(w2v))))
      rrColl.syncPipeline(rrPipe)
      val probeText = docs.limit(1).select($"text").as[String].head()
      val rr = rrColl.vectorSearch(rrPipe,
          Seq(graft.store.VectorSearchField("text", probeText)), limit = 3,
          rerank = Some(10), reranker = graft.functions.BiEncoderReranker(w2v))
        .select($"rerank_score").as[Double].collect()
      println(s"RERANK bi-encoder scores: ${rr.mkString(" ")}" +
        (if (rr.nonEmpty && rr.head >= rr.last && rr.forall(s => s <= 1.0001 && s >= -1.0001)) ""
         else " (BAD)"))
      // round-10 curation operators over the real corpus
      val gq = graft.operators.Corpus.gopherRules(docs, "doc_id", "text")
      println("GOPHER kept " + gq.where($"keep").count() + s"/${docs.count()}" +
        " mean_word_len " + gq.agg(round(avg($"mean_word_len"), 3)).head().get(0))
      val c4n = graft.operators.Corpus.c4Clean(
        docs.select($"doc_id", concat($"text", lit(".\nsecond line here lands fine!\na third question arrives right now?")).as("text")),
        "doc_id", "text").count()
      println(s"C4-CLEAN kept $c4n/${docs.count()}" + (if (c4n > 0) "" else " (BAD)"))
      val half = docs.where($"doc_id" % 2 === 0)
      val d6n = graft.operators.Dedup.exactAgainst(half, docs, "doc_id", "text")
        .where($"is_dup").count()
      println(s"BLOOM-DEDUP flagged $d6n (want ${half.count()})" +
        (if (d6n == half.count()) "" else " (BAD)"))
      val sd = graft.operators.Dedup.semDedup(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"),
        "vec_id", "embedding", k = 4, threshold = 0.8)
      println("SEMDEDUP kept " + sd.where($"is_kept").count() + "/" + sd.count())
      // IVF-PQ composite index: raw and residual serving vs exact head
      val embP = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      val qp = embP.where($"vec_id" === 0).select($"embedding").as[Array[Float]].head()
      val exactHead = graft.operators.VectorSearch
        .topK(embP, "embedding", qp, 5, Seq("vec_id"))
        .select("vec_id").as[Long].collect().toSet
      for (res <- Seq(false, true)) {
        val hits = graft.operators.IvfPq.knnIndexed(
            spark, "/root/testdata/sf0.001/embeddings.parquet", embP,
            "vec_id", "embedding", qp, 5, nprobe = 4, rerank = 100,
            nlist = 8, m = 8, kCent = 16, byResidual = res)
          .select("vec_id").as[Long].collect().toSet
        println(s"IVFPQ(residual=$res) overlap@5 vs exact: " +
          s"${hits.intersect(exactHead).size}/5")
      }
      // trained quality classifier: fit on the gates' keep decision, score
      // everything, gate at 0.5 — kept set should broadly agree with curate
      val keptIds = curated.select("doc_id")
      val qcm = graft.operators.QualityClassifier.fit(
        docs.join(keptIds, Seq("doc_id"), "left_semi"),
        docs.join(keptIds, Seq("doc_id"), "left_anti"), "text", dim = 256)
      val qcKept = graft.operators.QualityClassifier
        .filterByScore(docs, "doc_id", "text", qcm, 0.5).count()
      println(s"QUALITY-CLASSIFIER kept $qcKept/${docs.count()} " +
        s"(curate kept ${curated.count()}), intercept ${qcm.intercept}")
      val wavIds = docs.limit(8).select($"doc_id".cast("long")).as[java.lang.Long]
      val wavFeats = graft.operators.Multimodal.extractFeatures(
          graft.operators.Multimodal.syntheticWavMedia(wavIds),
          new graft.operators.Multimodal.AudioWavCodec())
        .collect().map(f => f.features(0).toInt -> f.features(4).toInt)
      println(s"WAV decoded: ${wavFeats.length} clips, n_samples/zcr " +
        wavFeats.take(3).mkString(" ") +
        (if (wavFeats.forall(_._1 == 256)) "" else " (BAD)"))
      val gifFrames = graft.operators.Multimodal.sampleFrames(
          graft.operators.Multimodal.syntheticGifMedia(wavIds, frames = 4),
          new graft.operators.Multimodal.GifVideoCodec(), framesPerVideo = 2)
        .collect()
      println(s"GIF frames sampled: ${gifFrames.length} (want 16), bytes " +
        gifFrames.take(2).map(_.frame_bytes.length).mkString(" "))
      // round-11 families: trained langid, backoff LM, fit BPE, cross-encoder
      val lid = graft.queries.T12OracleSql.fitted(spark)
      val lidPreds = graft.operators.LangIdClassifier
        .predictions(docs, "doc_id", "text", lid)
        .groupBy("lang").count().collect()
        .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
      println(s"LANGID-TRAINED corpus mix: $lidPreds")
      val lmStats = graft.operators.Corpus.ngramLmStats(
          docs, "doc_id", "text", docs.where($"doc_id" % 7 === 0), "text")
        .agg(min($"ppl"), max($"ppl")).head()
      println(f"NGRAM-LM ppl range: ${lmStats.getDouble(0)}%.1f .. ${lmStats.getDouble(1)}%.1f")
      val bpe = graft.operators.Bpe.fit(docs, "doc_id", "text", numMerges = 40)
      val bpeAgg = graft.operators.Bpe.tokenCounts(docs, "doc_id", "text", bpe)
        .agg(sum($"n_pretokens"), sum($"n_bpe_tokens")).head()
      println(s"BPE fit 40 merges: ${bpeAgg.getLong(0)} pretokens -> " +
        s"${bpeAgg.getLong(1)} bpe tokens " +
        s"(driver check: ${bpe.tokenCount(docs.select("text").as[String].head())})")
      val cePairs = docs.limit(40).select($"text".as("q"), $"text".as("c"))
        .withColumn("label", lit(1.0))
        .unionByName(docs.limit(40).select($"text".as("q"),
          reverse($"text").as("c")).withColumn("label", lit(0.0)))
      val ce = graft.functions.CrossEncoderReranker.fit(
        cePairs, "q", "c", "label", graft.functions.HashEmbedder(64))
      println(s"CROSS-ENCODER weights: " +
        ce.weights.map(w => f"$w%.2f").mkString(" ") + f" b=${ce.intercept}%.2f")

      // round-12 surfaces: warm-start tune, trained NER, chat façade
      val wsReg = java.nio.file.Files.createTempDirectory("graft_drive_ws_").toString
      val wsTr = new graft.ml.Trainer(spark, wsReg)
      val wsRel = docs.limit(80)
        .select($"text", ($"doc_id" % 2).cast("double").as("label"))
      val base = wsTr.tune("drive_ws", "text_classification", wsRel,
        "text", "label", "distilbert-stand-in")
      val tuned = wsTr.tune("drive_ws", "text_classification", wsRel,
        "text", "label", "distilbert-stand-in")
      println(f"WARM-START TUNE: base f1 ${base.metrics("f1")}%.3f -> " +
        f"tuned f1 ${tuned.metrics("f1")}%.3f (model ${tuned.modelId})")
      val nerM = graft.operators.NerClassifier.fit(
        Seq(("Mr Alto visited Basel in spring", Seq(2, 4))).toDF("text", "ents"),
        "text", "ents")
      graft.operators.Transform.registerModel(
        "drive-ner", graft.operators.TrainedNerModel(nerM))
      val nerOut = graft.operators.Transform(
          docs.limit(20).select($"doc_id",
            concat(lit("Mr Alto visited Basel in "), $"text").as("text")),
          "token-classification", "text", args = Map("model" -> "drive-ner"))
        .select(get_json_object($"output", "$[0].word")).as[String].collect()
      println(s"TRAINED-NER first entities: ${nerOut.take(3).mkString(", ")}")
      val chat = graft.store.OpenSourceAI.chatCompletionsCreate(
        "test-model", Seq("system" -> "be brief", "user" -> "hello spark world"))
      println(s"CHAT envelope: ${chat.take(120)}")
      spark.stop()

    case "ivf-recall" :: rest =>
      val sfDir = rest.headOption.getOrElse(TestSpark.sf0001)
      val spark = session()
      import spark.implicits._
      val emb = Tables.load(spark, sfDir, "embeddings").cache()
      val queries = emb.where(col("vec_id") % 50 === 7)
        .select("vec_id", "embedding").as[(Long, Array[Float])].collect().take(20)
      val idx = graft.operators.IvfIndex.build(spark, emb, "embedding", nlist = 16)
      val recalls = queries.map { case (_, qv) =>
        val exact = graft.operators.VectorSearch.topK(emb, "embedding", qv, 10, Seq("vec_id"))
          .select("vec_id").as[Long].collect().toSet
        val approx = idx.search(qv, 10, nprobe = 4, Seq("vec_id"))
          .select("vec_id").as[Long].collect().toSet
        approx.intersect(exact).size / 10.0
      }
      println(f"MEAN RECALL: ${recalls.sum / recalls.length}%.3f  MIN: ${recalls.min}%.2f")
      spark.stop()

    case "lsh-buckets" :: rest =>
      // band-bucket size distribution of the d1/d3 LSH core at a given
      // corpus: the band self-join materializes sum(m·(m−1)/2) rows, so a
      // heavy bucket tail is the quadratic-knee signature
      val sfDir = rest.headOption.getOrElse("/tmp/graft_sf10")
      val shingle = rest.drop(1).headOption.map(_.toInt).getOrElse(1)
      val spark = session()
      val docs = Tables.load(spark, sfDir, "documents")
      val base = docs.select(col("doc_id").as("id"),
        array_sort(array_distinct(split(trim(lower(col("text"))), "\\s+"))).as("toks"))
      val groups = base.groupBy(xxhash64(col("toks")).as("g"))
        .agg(first(col("toks")).as("toks"))
      val (k, bands) = (128, 16)
      val rows = k / bands
      val sig = groups.select(col("g"), size(col("toks")).as("sz"),
        graft.functions.TextFunctions.minhashSignature(
          concat_ws(" ", col("toks")), k, shingle).as("sig"))
      val banded = sig.select(col("g"), col("sz"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(b, slice(col("sig"), b * rows + 1, lit(rows)))))
          .as(Seq("band", "bucket")))
      val bstats = banded.groupBy("band", "bucket")
        .agg(count(lit(1)).as("m")).cache()
      println("=== totals (nGroups, nBuckets, joinRows=sum m^2, candPairs=sum m(m-1)/2, maxBucket) ===")
      bstats.agg(sum(col("m")).as("rows_banded"),
        count(lit(1)).as("n_buckets"),
        sum(col("m") * col("m")).as("join_rows"),
        sum(col("m") * (col("m") - 1) / 2).as("cand_pairs"),
        max(col("m")).as("max_bucket")).show(false)
      println("=== top-20 buckets by size ===")
      bstats.orderBy(desc("m")).show(20, false)
      // class-keyed join size: what the (band, bucket, cls) join with the
      // probe side emitted at cls and cls+1 actually materializes
      val w = -math.log(0.9) * (1 + 1e-9)
      val cstats = banded
        .withColumn("cls", floor(log(col("sz").cast("double")) / lit(w)))
        .groupBy("band", "bucket", "cls").agg(count(lit(1)).as("m"))
      val probe = cstats.select(col("band"), col("bucket"),
        explode(array(col("cls"), col("cls") + 1)).as("cls"), col("m").as("mb"))
      println("=== class-keyed join rows (build x probe incl. cls+1 emission) ===")
      cstats.join(probe, Seq("band", "bucket", "cls"))
        .agg(sum(col("m") * col("mb")).as("join_rows_clskey")).show(false)
      spark.stop()

    case "stages" :: q :: rest =>
      // per-stage CPU/records/shuffle attribution of one catalog query run
      // (after a warm-up) — finds the hot stage the job-level census hides
      val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.1")
      val spark = session()
      val fn = SparkEntry.queries(q)
      fn(spark, sfDir).count() // warm
      val out = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val i = s.stageInfo
          val m = i.taskMetrics
          out.add(f"stage ${i.stageId}%4d run ${m.executorRunTime / 1e3}%8.1f s " +
            f"cpu ${m.executorCpuTime / 1e9}%8.1f s gc ${m.jvmGCTime / 1e3}%6.1f s " +
            f"in ${m.inputMetrics.recordsRead}%12d sr ${m.shuffleReadMetrics.recordsRead}%12d " +
            f"sw ${m.shuffleWriteMetrics.recordsWritten}%12d  ${i.name.take(60)}")
          ()
        }
      }
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      spark.sparkContext.removeSparkListener(listener)
      println(f"QUERY $q wall ${wall}%.3f s")
      import scala.jdk.CollectionConverters._
      out.asScala.toSeq.sorted.foreach(println)
      spark.stop()

    case "jobs" :: q :: rest =>
      // count spark jobs + their wall time inside one catalog query run
      // (after a warm-up): many small jobs = driver-side overhead dominates
      val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.1")
      val spark = session()
      val fn = SparkEntry.queries(q)
      fn(spark, sfDir).count() // warm
      val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, String)]()
      val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          starts.put(j.jobId, (j.time,
            Option(j.properties.getProperty("spark.job.description")).getOrElse("?")))
        override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val (t0, desc) = starts.getOrDefault(j.jobId, (j.time, "?"))
          jobs.add((j.jobId, j.time - t0, desc))
        }
      }
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // let listener drain
      spark.sparkContext.removeSparkListener(listener)
      import scala.jdk.CollectionConverters._
      val js = jobs.asScala.toSeq.sortBy(_._1)
      println(f"QUERY $q wall ${wall}%.3f s, ${js.size} jobs, job-time sum ${js.map(_._2).sum / 1e3}%.3f s")
      js.foreach { case (id, ms, desc) =>
        println(f"  job $id%3d ${ms / 1e3}%7.3f s  ${desc.take(90)}") }
      spark.stop()

    case "v9-decompose" :: rest =>
      // split the v9_knn_hnsw bench leg into its serving components so the
      // single-query latency floor is attributed, not guessed: (a) the
      // query-vector parquet fetch, (b) serveOrBuild home resolution,
      // (c) building + analyzing the search DataFrame (Catalyst), (d) the
      // probe job itself (executed plan re-collected), (e) the merged
      // count the bench times. 5 passes after warm-up.
      val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.1")
      val spark = session()
      import spark.implicits._
      def leg(): Unit = {
        val emb = Tables.load(spark, sfDir, "embeddings")
        val q = emb.where(col("vec_id") === 13).select("embedding")
          .as[Array[Float]].head()
        val idx = graft.operators.HnswIndex.serveOrBuild(
          spark, s"$sfDir/embeddings.parquet", emb, "embedding", "vec_id",
          m = 16, efConstruction = 64, numPartitions = 8)
        idx.search(q, 10, ef = 64, idName = "vec_id").count(); ()
      }
      leg(); leg() // warm: index build + JIT + classload
      for (pass <- 1 to 5) {
        val t0 = System.nanoTime()
        val emb = Tables.load(spark, sfDir, "embeddings")
        val q = emb.where(col("vec_id") === 13).select("embedding")
          .as[Array[Float]].head()
        val t1 = System.nanoTime()
        val idx = graft.operators.HnswIndex.serveOrBuild(
          spark, s"$sfDir/embeddings.parquet", emb, "embedding", "vec_id",
          m = 16, efConstruction = 64, numPartitions = 8)
        val t2 = System.nanoTime()
        val df = idx.search(q, 10, ef = 64, idName = "vec_id")
        val plan = df.queryExecution.executedPlan // force analysis+planning
        val t3 = System.nanoTime()
        val n = df.count()
        val t4 = System.nanoTime()
        // re-run the already-planned frame: pure job cost, no Catalyst
        df.count()
        val t5 = System.nanoTime()
        println(f"pass $pass: fetch ${(t1 - t0) / 1e9}%.4f  resolve ${(t2 - t1) / 1e9}%.4f  " +
          f"plan ${(t3 - t2) / 1e9}%.4f  count ${(t4 - t3) / 1e9}%.4f  " +
          f"recount ${(t5 - t4) / 1e9}%.4f  rows $n  total ${(t4 - t0) / 1e9}%.4f")
        if (pass == 1) println(plan.toString.linesIterator.take(12).mkString("\n"))
      }
      // the PREPARED serving path (what the bench leg now runs): analyzed-
      // once point-lookup Dataset + serveDistributed's persisted-RDD probe
      val emb0 = Tables.load(spark, sfDir, "embeddings")
      val fetchDs = emb0.where(col("vec_id") === 13).select("embedding")
        .as[Array[Float]]
      val idx0 = graft.operators.HnswIndex.serveOrBuild(
        spark, s"$sfDir/embeddings.parquet", emb0, "embedding", "vec_id",
        m = 16, efConstruction = 64, numPartitions = 8)
      idx0.serveDistributed(fetchDs.head(), 10, ef = 64) // warm probe RDD
      for (pass <- 1 to 5) {
        val t0 = System.nanoTime()
        val q = fetchDs.head()
        val t1 = System.nanoTime()
        val hits = idx0.serveDistributed(q, 10, ef = 64)
        val t2 = System.nanoTime()
        val tl = Tables.load(spark, sfDir, "embeddings")
        val t3 = System.nanoTime()
        val n = hits.toSeq.toDF("vec_id", "score").count()
        val t4 = System.nanoTime()
        println(f"prepared pass $pass: fetch ${(t1 - t0) / 1e9}%.4f  " +
          f"probe ${(t2 - t1) / 1e9}%.4f  tablesLoad ${(t3 - t2) / 1e9}%.4f  " +
          f"localCount ${(t4 - t3) / 1e9}%.4f  rows ${hits.length}/$n  " +
          f"cols ${tl.columns.length}  total ${(t2 - t0) / 1e9}%.4f")
      }
      spark.stop()

    case "hnsw-bench" :: rest =>
      val n = rest.headOption.map(_.toInt).getOrElse(5000)
      val dim = rest.drop(1).headOption.map(_.toInt).getOrElse(64)
      val rnd = new java.util.SplittableRandom(7)
      val pts = Array.tabulate(n)(i =>
        (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat)))
      for (pass <- 1 to 3) {
        val b = new graft.operators.HnswGraphBuilder(16, 64, 42L)
        val t0 = System.nanoTime()
        pts.foreach { case (id, v) => b.add(id, v) }
        val tAdd = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val g = b.freeze()
        val tSer = (System.nanoTime() - t1) / 1e9
        println(f"pass $pass: add $tAdd%.3f s (${tAdd * 1e6 / n}%.1f us/insert), " +
          f"freeze $tSer%.3f s, nodes ${g.size}")
      }

    case "hybrid-filter" :: rest =>
      // per-call cost of hybrid search (s7's query shape) on the e2e
      // collection, unfiltered and under filters passing ~40%, one and no
      // document: median wall and process CPU ms, and Spark jobs per call
      val sfDir = rest.headOption.getOrElse(sys.error("usage: hybrid-filter <sfDir> [calls]"))
      val calls = rest.drop(1).headOption.map(_.toInt).getOrElse(10)
      val spark = session(4)
      val (c, p) = graft.queries.QueryCatalog.e2eCollection(spark, sfDir, 100000, 0)
      val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      val jobs = new java.util.concurrent.atomic.AtomicLong(0)
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      })
      val filters = Seq("none" -> None,
        "s10" -> Some("""{"$and": [{"lang": {"$in": ["en", "de"]}}, {"n_chars": {"$gt": 300}}]}"""),
        "one" -> Some("""{"id": {"$eq": 7}}"""),
        "nothing" -> Some("""{"n_chars": {"$lt": 0}}"""))
      for ((name, f) <- filters) {
        def call(): Int = c.search(p,
          semantic = Seq(graft.store.VectorSearchField("text", "spark query table join", boost = 0.75)),
          fullText = Seq(graft.store.FullTextField("text", "spark data", boost = 0.5)),
          limit = 10, filterJson = f).collect().length
        (1 to 3).foreach(_ => call())
        val runs = (1 to calls).map { _ =>
          val j0 = jobs.get(); val c0 = os.getProcessCpuTime; val t0 = System.nanoTime()
          val n = call()
          ((System.nanoTime() - t0) / 1e6, (os.getProcessCpuTime - c0) / 1e6, jobs.get() - j0, n)
        }
        def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)
        println(f"HYBRID $name%-8s rows ${runs.head._4}%2d wall ${med(runs.map(_._1))}%8.1f ms " +
          f"cpu ${med(runs.map(_._2))}%8.1f ms jobs ${med(runs.map(_._3.toDouble))}%5.1f")
      }
      spark.stop()

    case "serve-driver" :: rest =>
      // a warm call of each serve kind over a synced GenData collection
      // (serve_read's pipeline and model): Spark jobs, Catalyst rule runs
      // and indylambda closure cleans inside the call, and the calling
      // thread's CPU per call (median); the executor CPU of the call's
      // tasks and the bytes it read through Hadoop's local FileSystem
      // (mean per call); then, as a separate layer, the thread CPU and
      // rule runs of the caller's collect() of the returned frame
      // (median); then the storage memory the prepared reads' resident
      // rows take
      val docs = rest.headOption.map(_.toLong).getOrElse(1000L)
      val calls = rest.drop(1).headOption.map(_.toInt).getOrElse(20)
      val spark = session(4)
      import graft.store._
      val wh = java.nio.file.Files.createTempDirectory("graft_serve_driver_").toString
      val corpus = GenData.documents(spark, docs, 1L).cache()
      val coll = new Collection(spark, "docs", wh)
      coll.upsertDocuments(corpus.select(to_json(struct(col("doc_id").as("id"), col("text"),
        col("lang"), col("source"), col("n_chars"))).as("document")))
      val p = Pipeline("p", Seq(PipelineField("text", splitter = Some((1500, 40)),
        semanticSearch = Some(graft.functions.HashEmbedder(64)), fullTextSearch = true,
        hnswIndex = Some((16, 64)))))
      coll.syncPipeline(p)
      val trainer = new graft.ml.Trainer(spark, s"$wh/registry")
      trainer.train("chars", "regression", corpus.select(
        size(split(col("text"), " ")).cast("double").as("tc"),
        size(array_distinct(split(col("text"), " "))).cast("double").as("uniq"),
        col("n_chars").cast("double")), Some("n_chars"), "linear", testSize = 0.0)
      val queries = corpus.select("text").as[String](org.apache.spark.sql.Encoders.STRING)
        .take(calls + 3).map(_.split(" ").take(4).mkString(" "))
      def lang(i: Int) = Some(s"""{"lang": {"$$eq": "${Seq("en", "de", "fr")(i % 3)}"}}""")
      // each kind's call; a frame it returns is collected apart
      val kinds: Seq[(String, Int => Any)] = Seq(
        "vector_search" -> (i => coll.vectorSearch(p, Seq(VectorSearchField("text", queries(i))))),
        "filtered" -> (i =>
          coll.vectorSearch(p, Seq(VectorSearchField("text", queries(i))), filterJson = lang(i))),
        "hybrid" -> (i => coll.search(p, Seq(VectorSearchField("text", queries(i))),
          Seq(FullTextField("text", queries(i))))),
        "hybrid_filtered" -> (i => coll.search(p, Seq(VectorSearchField("text", queries(i))),
          Seq(FullTextField("text", queries(i))), filterJson = lang(i))),
        "hnsw_search" -> (i => coll.hnswSearch(p, "text",
          graft.functions.HashEmbedder(64).embedOne(queries(i)), 10)),
        "predict_row" -> (i => trainer.registry.predictRow("chars",
          Map("tc" -> i.toDouble, "uniq" -> (i / 2).toDouble))))
      def collected(frame: Any): Unit = frame match {
        case df: org.apache.spark.sql.DataFrame => df.collect(); ()
        case _ => ()
      }
      kinds.foreach { case (_, f) => (0 until 3).foreach(i => collected(f(i))) }
      coll.awaitMaintenance()
      val threads = java.lang.management.ManagementFactory.getThreadMXBean
      def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)
      for ((kind, f) <- kinds) {
        val jobs = TestSpark.jobsOf(spark)(f(3))
        var runs = IndexedSeq.empty[(Double, Double, Double, Double, Double)]
        var taskCpu = 0.0
        val fsBytes = TestSpark.localBytesReadOf {
          taskCpu = TestSpark.jobsAndTaskCpuOf(spark) {
            runs = (3 until calls + 3).map { i =>
              var cpu = 0L
              var cleans = 0L
              var frame: Any = null
              val rules = TestSpark.ruleRunsOf {
                cleans = TestSpark.closureCleansOf {
                  val c0 = threads.getCurrentThreadCpuTime
                  frame = f(i)
                  cpu = threads.getCurrentThreadCpuTime - c0
                }
              }
              var collectCpu = 0L
              val collectRules = TestSpark.ruleRunsOf {
                val c0 = threads.getCurrentThreadCpuTime
                collected(frame)
                collectCpu = threads.getCurrentThreadCpuTime - c0
              }
              (rules.toDouble, cleans.toDouble, cpu / 1e6, collectRules.toDouble, collectCpu / 1e6)
            }
          }._2
        }
        println(f"SERVE $kind%-16s jobs $jobs%2d rules ${med(runs.map(_._1))}%6.0f " +
          f"cleans ${med(runs.map(_._2))}%3.0f thread_cpu ${med(runs.map(_._3))}%8.2f ms " +
          f"task_cpu ${taskCpu / calls}%8.2f ms fs_read ${fsBytes / calls}%9d B | collect " +
          f"rules ${med(runs.map(_._4))}%4.0f thread_cpu ${med(runs.map(_._5))}%6.2f ms")
      }
      val resident = spark.sparkContext.getRDDStorageInfo.filter(_.name.startsWith("snapshot read "))
      resident.foreach(r => println(f"RESIDENT ${r.memSize}%10d B ${r.numCachedPartitions}%2d/" +
        f"${r.numPartitions}%-2d partitions  ${r.name}"))
      println(f"RESIDENT ${resident.map(_.memSize).sum}%10d B in ${resident.length} prepared reads")
      spark.stop()

    case "serve-floor" :: rest =>
      // how much of v9d/v5d's per-request latency is the irreducible
      // local-mode job floor vs anything ours: times an EMPTY n-task job
      // on a prepared cached RDD against serveDistributed percentiles
      val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.1")
      val spark = session()
      import org.apache.spark.sql.functions.col
      import spark.implicits._
      val emb = Tables.load(spark, sfDir, "embeddings")
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
        .collect().toSeq.sortBy(_._1)
      def pct(xs: Seq[Double], p: Double): Double = {
        val s = xs.sorted
        s(math.max(0, math.min(s.length - 1, math.ceil(p * s.length).toInt - 1)))
      }
      // empty prepared 8-task RDD job: the pure scheduling floor
      val probeShape = spark.sparkContext.parallelize(1 to 8, 8).cache()
      probeShape.count()
      for (n <- Seq(8, 4, 1)) {
        val rdd = spark.sparkContext.parallelize(1 to n, n).cache()
        rdd.count()
        val times = (1 to 200).map { _ =>
          val t0 = System.nanoTime()
          rdd.mapPartitions(it => it.map(_ + 1)).collect()
          (System.nanoTime() - t0) / 1e6
        }
        println(f"FLOOR ${n}-task job: p50 ${pct(times, 0.5)}%.3f ms p99 ${pct(times, 0.99)}%.3f ms")
      }
      val idx = graft.operators.HnswIndex.serveOrBuild(
        spark, s"$sfDir/embeddings.parquet", emb, "embedding", "vec_id",
        m = 16, efConstruction = 64, numPartitions = 8)
      idx.serveDistributed(queries.head._2, 10, ef = 64) // warm
      val hnswTimes = (1 to 100).flatMap { _ =>
        queries.take(2).map { case (_, q) =>
          val t0 = System.nanoTime()
          idx.serveDistributed(q, 10, ef = 64)
          (System.nanoTime() - t0) / 1e6
        }
      }
      println(f"SERVE v9d hnsw: p50 ${pct(hnswTimes, 0.5)}%.3f ms p99 ${pct(hnswTimes, 0.99)}%.3f ms")
      val ivf = graft.operators.IvfIndex.serveOrBuild(
        spark, s"$sfDir/embeddings.parquet", emb, "embedding", nlist = 16,
        nassign = 3)
      ivf.serveDistributed(queries.head._2, 10, 4, "vec_id") // warm
      val ivfTimes = (1 to 100).flatMap { _ =>
        queries.take(2).map { case (_, q) =>
          val t0 = System.nanoTime()
          ivf.serveDistributed(q, 10, 4, "vec_id")
          (System.nanoTime() - t0) / 1e6
        }
      }
      println(f"SERVE v5d ivf: p50 ${pct(ivfTimes, 0.5)}%.3f ms p99 ${pct(ivfTimes, 0.99)}%.3f ms")
      spark.stop()

    case "s4-trace" :: rest =>
      // EXACT bench-leg replicas of s4_ingest and s4_sync_steady (the
      // bench's e2e pipeline: splitter only + hash embed + tsvector, NO
      // ann indexes — ingest-jobs/delta-jobs probe a heavier indexed
      // shape), with wall + process-CPU per pass and a job census on the
      // last pass. Run with SPARK_GRAFT_TRACE=1 for Collection's
      // per-section walls.
      val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.1")
      val n = rest.drop(1).headOption.map(_.toInt).getOrElse(3)
      val spark = session()
      import spark.implicits._
      def cpuNs(): Long =
        java.lang.management.ManagementFactory.getOperatingSystemMXBean
          .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
      def benchPipeline(chunkSize: Int) = graft.store.Pipeline("p",
        Seq(graft.store.PipelineField("text", splitter = Some((chunkSize, 0)),
          semanticSearch = Some(graft.functions.HashEmbedder(64)),
          fullTextSearch = true)))
      val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, String)]()
      val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          starts.put(j.jobId, (j.time,
            j.stageInfos.map(_.name.takeWhile(_ != '\n')).distinct.mkString(" | ")))
        override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val (t0, desc) = starts.getOrDefault(j.jobId, (j.time, "?"))
          jobs.add((j.jobId, j.time - t0, desc))
        }
      }
      def census[A](label: String)(f: => A): A = {
        jobs.clear(); starts.clear()
        spark.sparkContext.addSparkListener(listener)
        val r = f
        Thread.sleep(300)
        spark.sparkContext.removeSparkListener(listener)
        import scala.jdk.CollectionConverters._
        val js = jobs.asScala.toSeq.sortBy(_._1)
        println(f"CENSUS $label: ${js.size} jobs, job-time sum ${js.map(_._2).sum / 1e3}%.3f s")
        js.foreach { case (id, ms, desc) =>
          println(f"  job $id%4d ${ms / 1e3}%7.3f s  ${desc.take(110)}") }
        r
      }
      // ---- s4_ingest: re-ingest the full corpus into a REUSED warehouse
      val whI = java.nio.file.Files.createTempDirectory("graft_s4t_ing_").toString
      def ingestPass(): Unit = {
        val c = new graft.store.Collection(spark, "docs", whI)
        val pp = benchPipeline(100000)
        c.upsertDocuments(
          Tables.load(spark, sfDir, "documents").select(
            to_json(struct(col("doc_id").as("id"), col("text"), col("lang"),
              col("source"), col("n_chars"))).as("document")))
        c.syncPipeline(pp)
        c.chunks(pp, "text").select("document_id").count()
        ()
      }
      ingestPass(); ingestPass() // warm ×2 (JIT + merge-path warm)
      for (p <- 1 to n) {
        val c0 = cpuNs(); val t0 = System.nanoTime()
        if (p == n) census("s4_ingest")(ingestPass()) else ingestPass()
        println(f"INGEST pass $p wall ${(System.nanoTime() - t0) / 1e9}%.3f s " +
          f"cpu ${(cpuNs() - c0) / 1e9}%.2f s")
      }
      // ---- s4_sync_steady: 8 single-doc micro-batches, mergeEvery=4
      val whS = java.nio.file.Files.createTempDirectory("graft_s4t_std_").toString
      val cS = new graft.store.Collection(spark, "docs", whS)
      val pS = benchPipeline(99998)
      cS.upsertDocuments(
        Tables.load(spark, sfDir, "documents").select(
          to_json(struct(col("doc_id").as("id"), col("text"), col("lang"),
            col("source"), col("n_chars"))).as("document")))
      cS.syncPipeline(pS)
      cS.mergeEvery = 4
      val rev = new java.util.concurrent.atomic.AtomicLong(0)
      def steadyPass(label: String): Unit = {
        val batchTimes = (1 to 8).map { _ =>
          val r = rev.incrementAndGet()
          val t0 = System.nanoTime()
          cS.upsertDocuments(Seq(
            s"""{"id": 2, "text": "steady ingest probe revision $r of document two"}""")
            .toDF("document"))
          val t1 = System.nanoTime()
          cS.syncPipelineIncremental(pS)
          ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
        }
        println(s"STEADY $label batches " +
          batchTimes.map { case (u, s) => f"$u%.3f+$s%.3f" }
            .mkString("[", ",", "]"))
      }
      steadyPass("warm")
      for (p <- 1 to n) {
        val c0 = cpuNs(); val t0 = System.nanoTime()
        if (p == n) census("s4_sync_steady")(steadyPass(s"p$p"))
        else steadyPass(s"p$p")
        println(f"STEADY pass $p wall ${(System.nanoTime() - t0) / 1e9}%.3f s " +
          f"cpu ${(cpuNs() - c0) / 1e9}%.2f s")
      }
      spark.stop()

    case "ingest-jobs" :: rest =>
      // job census of the FULL first sync (bench s4_ingest shape): upsert
      // the whole corpus + syncPipeline on a fresh warehouse, after one
      // warm-up ingest on a separate warehouse
      val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.1")
      val spark = session()
      import spark.implicits._
      def p() = graft.store.Pipeline("p", Seq(graft.store.PipelineField(
        "text", splitter = Some((100000, 0)),
        semanticSearch = Some(graft.functions.HashEmbedder(64)), fullTextSearch = true,
        hnswIndex = Some((16, 64)), binaryIndex = true)))
      // bench shape: REUSE one warehouse across passes (the e2eIngest
      // contract), so the timed upsert takes the merge path
      val wh = java.nio.file.Files.createTempDirectory("graft_ij_wh_").toString
      def ingest(): (Double, Double) = {
        val c = new graft.store.Collection(spark, "docs", wh)
        val t0 = System.nanoTime()
        c.upsertDocuments(
          Tables.load(spark, sfDir, "documents").select(
            to_json(struct(col("doc_id").as("id"), col("text"), col("lang"),
              col("source"), col("n_chars"))).as("document")))
        val t1 = System.nanoTime()
        c.syncPipeline(p())
        val t2 = System.nanoTime()
        ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
      }
      ingest() // warm
      ingest() // second warm: the merge path's first JIT
      val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, String)]()
      val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          starts.put(j.jobId, (j.time,
            j.stageInfos.map(_.name.takeWhile(_ != '\n')).distinct.mkString(" | ")))
        override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val (t0, desc) = starts.getOrDefault(j.jobId, (j.time, "?"))
          jobs.add((j.jobId, j.time - t0, desc))
        }
      }
      spark.sparkContext.addSparkListener(listener)
      val (up, sync) = ingest()
      Thread.sleep(500)
      spark.sparkContext.removeSparkListener(listener)
      import scala.jdk.CollectionConverters._
      val js = jobs.asScala.toSeq.sortBy(_._1)
      println(f"INGEST upsert ${up}%.3f s sync ${sync}%.3f s, ${js.size} jobs, job-time sum ${js.map(_._2).sum / 1e3}%.3f s")
      js.foreach { case (id, ms, desc) =>
        println(f"  job $id%3d ${ms / 1e3}%7.3f s  ${desc.take(100)}") }
      spark.stop()

    case "delta-jobs" :: rest =>
      // job census of ONE micro-batch (1-doc upsert + incremental sync)
      // against a warm corpus: the fixed driver-side overhead every
      // continuous-ingest batch pays, independent of machine load
      val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.01")
      val spark = session()
      val wh = java.nio.file.Files.createTempDirectory("graft_dj_wh_").toString
      val c = new graft.store.Collection(spark, "docs", wh)
      c.upsertDocuments(
        Tables.load(spark, sfDir, "documents").select(
          to_json(struct(col("doc_id").as("id"), col("text"), col("lang"),
            col("source"), col("n_chars"))).as("document")))
      val p = graft.store.Pipeline("p", Seq(graft.store.PipelineField(
        "text", splitter = Some((99999, 0)),
        semanticSearch = Some(graft.functions.HashEmbedder(64)), fullTextSearch = true,
        hnswIndex = Some((16, 64)), binaryIndex = true)))
      c.syncPipeline(p)
      import spark.implicits._
      // warm one micro-batch (JIT + classload), then census the second
      def batch(rev: Int): Unit = {
        val t0 = System.nanoTime()
        c.upsertDocuments(Seq(
          s"""{"id": 1, "text": "delta probe revision $rev of document one"}""")
          .toDF("document"))
        val t1 = System.nanoTime()
        c.syncPipelineIncremental(p)
        val t2 = System.nanoTime()
        println(f"  batch $rev: upsert ${(t1 - t0) / 1e9}%.3f s, sync ${(t2 - t1) / 1e9}%.3f s")
      }
      batch(1)
      // second warm batch: the first append after a full sync creates the
      // manifest literal-map cache entries; steady state starts at batch 3
      batch(2)
      val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, String)]()
      val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          starts.put(j.jobId, (j.time,
            j.stageInfos.map(_.name.takeWhile(_ != '\n')).distinct.mkString(" | ")))
        override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val (t0, desc) = starts.getOrDefault(j.jobId, (j.time, "?"))
          jobs.add((j.jobId, j.time - t0, desc))
        }
      }
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      batch(3)
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      spark.sparkContext.removeSparkListener(listener)
      import scala.jdk.CollectionConverters._
      val js = jobs.asScala.toSeq.sortBy(_._1)
      println(f"DELTA-BATCH wall ${wall}%.3f s, ${js.size} jobs, job-time sum ${js.map(_._2).sum / 1e3}%.3f s")
      js.foreach { case (id, ms, desc) =>
        println(f"  job $id%3d ${ms / 1e3}%7.3f s  ${desc.take(100)}") }
      spark.stop()

    case "profile" :: rest =>
      val dir = rest.headOption.getOrElse("/root/testdata/sf0.1")
      val spark = session()
      // m1 stage decomposition
      val li = time("m1 load") {
        val d = Tables.load(spark, dir, "lineitem")
          .select(col("l_quantity"), col("l_extendedprice"))
        d.count(); d
      }
      val reg = java.nio.file.Files.createTempDirectory("graft_prof_reg_").toString
      val tr = new graft.ml.Trainer(spark, reg)
      for (round <- 1 to 2)
        time(s"m1 train (pass $round)") {
          tr.train(s"probe_lin_$round", "regression", li, Some("l_extendedprice"),
            "linear", testSize = 0.0)
        }
      // s4 ingest/search decomposition
      val wh = java.nio.file.Files.createTempDirectory("graft_prof_wh_").toString
      val c = new graft.store.Collection(spark, "docs", wh)
      time("s4 upsert") {
        c.upsertDocuments(
          Tables.load(spark, dir, "documents").select(
            to_json(struct(col("doc_id").as("id"), col("text"), col("lang"),
              col("source"), col("n_chars"))).as("document")))
      }
      val p = graft.store.Pipeline("p", Seq(graft.store.PipelineField(
        "text", splitter = Some((200, 20)),
        semanticSearch = Some(graft.functions.HashEmbedder(64)), fullTextSearch = true)))
      time("s4 sync")(c.syncPipeline(p))
      for (round <- 1 to 2)
        time(s"s4 vectorSearch (pass $round)") {
          c.vectorSearch(p,
            Seq(graft.store.VectorSearchField("text", "spark query table join")), limit = 10).count()
        }
      spark.stop()

    case "c13-bisect" :: rest =>
      // Stage 16 (window-exchange map side) costs ~90 cpu-s for 500k slim
      // rows; the same projection under partial agg costs 9. Bisect which
      // ingredient of scan->project->exchange carries it.
      val dir = rest.headOption.getOrElse("/tmp/graft_sf10")
      val spark = session()
      import spark.implicits._
      val docs = Tables.load(spark, dir, "documents")
        .withColumn("domain",
          when(col("source").isin((0 to 13).map(i => s"src$i"): _*), "head")
            .when(col("source").isin((14 to 17).map(i => s"src$i"): _*), "mid")
            .otherwise("tail"))
      def slim(): org.apache.spark.sql.DataFrame = docs
        .where(col("domain").isNotNull)
        .select(col("doc_id"), col("domain"),
          col("domain").cast("string").as("__src"),
          graft.functions.TextFunctions.mix64(col("doc_id"), 0x425544474554L ^ 13L).as("__draw"),
          graft.functions.TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
        .withColumn("__bucket", shiftright(col("__draw"), 56).cast("int"))
      def cpuS(): Double = java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
        .getProcessCpuTime / 1e9
      def meas(label: String)(f: => Long): Unit = {
        val c0 = cpuS(); val t0 = System.nanoTime()
        val n = f
        println(f"[c13-bisect] $label: rows=$n wall=${(System.nanoTime() - t0) / 1e9}%.2f s cpu=${cpuS() - c0}%.1f s")
      }
      meas("A scan+project only")(slim().count())
      meas("B + exchange (repartition by src,bucket)")(
        slim().repartition(col("__src"), col("__bucket")).count())
      meas("C + sort within partitions")(
        slim().repartition(col("__src"), col("__bucket"))
          .sortWithinPartitions(col("__src"), col("__bucket"), col("__draw"), col("doc_id")).count())
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__src"), col("__bucket"))
        .orderBy(col("__draw"), col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      meas("D + full window cumsum")(
        slim().withColumn("__cum", coalesce(sum(col("n_tokens")).over(w), lit(0L))).count())
      meas("A2 scan+project again (warm)")(slim().count())
      spark.stop()

    case "shards-scale" :: rest =>
      // Time the epoch materialization (full rows incl. text shuffle once,
      // write one ordered file per shard) at a generated corpus size.
      val dir = rest.headOption.getOrElse("/tmp/graft_sf10")
      val shards = rest.drop(1).headOption.map(_.toInt).getOrElse(64)
      val spark = session()
      val docs = Tables.load(spark, dir, "documents")
      val out = java.nio.file.Files.createTempDirectory("graft_shards_scale_").toString
      for (pass <- 1 to 3) {
        val t0 = System.nanoTime()
        graft.operators.Corpus.writeShards(docs, "doc_id", out, shards, seed = 3L)
        println(f"[shards-scale] pass $pass: $shards shards from $dir " +
          f"in ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      val files = new java.io.File(out).listFiles().count(_.getName.startsWith("shard="))
      val rows = spark.read.parquet(out).count()
      println(s"[shards-scale] layout: $files shard dirs, $rows rows")
      spark.stop()

    case "c13-leak" :: rest =>
      // Repeated-invocation residency probe for tokenBudgetMixture: the
      // first decade run showed per-pass CPU escalating 20x at fixed work
      // (38 -> 799 cpu-s at 500k docs) — classic full-GC storm from
      // something retained across calls. Print wall + GC time + live heap
      // after a forced GC per call to localize the accumulation.
      val dir = rest.headOption.getOrElse("/tmp/graft_sf10")
      val spark = session()
      val docs = Tables.load(spark, dir, "documents")
      def gcMs(): Long = {
        import scala.jdk.CollectionConverters._
        java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
          .asScala.map(_.getCollectionTime).sum
      }
      val mode = rest.drop(1).headOption.getOrElse("")
      val forceGc = mode == "gc"
      val catalogFn = graft.queries.QueryCatalog.all
        .find(_.name == "c13_token_budget").get.fn
      // "const": same catalog pipeline but over constant 3-token texts —
      // isolates tokenization garbage from the window/join machinery
      val fn: (SparkSession, String) => org.apache.spark.sql.DataFrame =
        if (mode == "const") (s, d) =>
          graft.operators.Corpus.tokenBudgetMixture(
            Tables.load(s, d, "documents").withColumn("text", lit("a b c")),
            "doc_id", "text", "source", Map("src0" -> 5000L), seed = 13L)
        else catalogFn
      for (i <- 1 to 6) {
        val g0 = gcMs(); val t0 = System.nanoTime()
        val n = fn(spark, dir).count()
        val wall = (System.nanoTime() - t0) / 1e9; val g1 = gcMs()
        if (forceGc) { System.gc(); Thread.sleep(500) }
        val rt = Runtime.getRuntime
        println(f"[c13-leak] call $i: rows=$n wall=$wall%.2f s gc=${g1 - g0} ms " +
          f"heap=${(rt.totalMemory - rt.freeMemory) / 1e6}%.0f MB")
      }
      println(s"[c13-leak] docs ref kept: ${docs.columns.length} cols")
      spark.stop()

    case other =>
      println(s"unknown probe command: $other")
      println("usage: Probe time <query>... [sfDir] [n] | explain <query> [sfDir] | drive | ivf-recall [sfDir] | profile [sfDir]")
  }
}
