package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main — driver contract: run headline queries on
  * SPARK_GRAFT_SF_DIR (default sf0.1) and print ONE JSON line
  * {"metric":…,"value":N,"unit":"sec","queries":{…},"sf":…}.
  *
  * Headline set = one representative per operator family (scan-agg, joins,
  * pushdown, windows, events, KNN, vector agg, LSH dedup, embedding pairs,
  * quality, full-text rank, e2e store search, transform, sessionization,
  * train/predict). Heavy O(n²) exact-verification queries keep their
  * correctness role in Verify but are excluded here in favour of their
  * scalable counterparts.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // scale-run insurance: a 100 GB heap's worst-case full GC exceeds
      // the default 120 s heartbeat window — the 5M 1024-d HNSW build was
      // killed mid-write by HeartbeatReceiver, not by any real failure
      .config("spark.network.timeout", "1200s")
      .config("spark.executor.heartbeatInterval", "30s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Opt-in job trace (SPARK_GRAFT_BENCH_TRACE=/path): every Spark job's
    // start/end with its thread-local description lands in one file, so a
    // slow leg can be attributed — its own jobs vs background maintenance
    // (merges, index rebuilds) bleeding into it. The timed loops label
    // their jobs (guide §1.5); background threads carry no label, which is
    // exactly what makes them visible here.
    val traceWriter: Option[java.io.PrintWriter] =
      sys.env.get("SPARK_GRAFT_BENCH_TRACE").map { tp =>
        new java.io.PrintWriter(new java.io.FileWriter(tp, false))
      }
    def traceLine(s: String): Unit = traceWriter.foreach { w =>
      w.synchronized { w.println(s"${System.currentTimeMillis()} $s"); w.flush() }
    }
    traceWriter.foreach { _ =>
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val desc = Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("-")
          val nTasks = js.stageInfos.map(_.numTasks).sum
          traceLine(s"JOB_START id=${js.jobId} tasks=$nTasks desc=$desc")
        }
        override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          traceLine(s"JOB_END   id=${je.jobId}")
      })
    }

    // SPARK_GRAFT_BENCH_QUERIES=name1,name2 restricts the run to a subset
    // (used for the one-off scale-headroom runs at generated SFs, where
    // only the corpus-proportional legs are of interest and the TPC-H
    // tables are not generated).
    val only = sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val headline = Seq(
      "q1_pricing_agg", "q2_revenue_by_nation", "q3_filter_pushdown",
      "q4_window_topn", "q8_events_hourly", "q9_json_extract",
      "v1_knn_cosine", "v2_vec_avg_by_label", "v3_vec_norms",
      "v4_knn_batch", "v5_knn_ivf", "v9_knn_hnsw", "v9b_hnsw_batch",
      "v9d_hnsw_serve", "v5d_ivf_serve",
      "v9c_hnsw_local", "v5c_ivf_local", "v24c_ivfpq_local",
      "v11_knn_binary", "v12_knn_sq8", "v16_knn_pq", "v24_knn_ivfpq", "v25_knn_ivfpq_residual",
      "t2_token_stats", "t3_quality_score", "t4_bpeish_token_count",
      "t5_lang_id", "t6_fingerprint", "t7_pack_sequences",
      "t8_repetition_stats", "t10_dedup_spans", "t11_gopher_rules",
      "t12_lang_id_trained", "t13_bpe_tokens", "t14_shard_shuffle",
      "t15_read_shards",
      "c3_sample_mixture", "c12_temperature_mixture", "c13_token_budget",
      "c14_pipeline_compose",
      "c6_perplexity", "c7_quality_classifier", "c8_c4_clean", "c9_ngram_lm",
      "c10_dsir_weights",
      "d1_minhash_lsh_pairs",
      "d2_simhash_pairs", "d3_dedup_groups", "d5_decontaminate",
      "d6_dedup_against",
      "s1_chunk", "s3_fulltext_rank",
      "s4_ingest", "s4_sync_delta", "s4_sync_steady", "s4_vector_search_e2e",
      "s6_vector_search_chunked", "s7_hybrid_search", "s10_filtered_search",
      "x1_transform_sentiment", "x2_sessions", "x9_transform_ner",
      "c1_corpus_curate",
      "m1_linear_regression", "m1b_train_docs")
      .filter(n => only.forall(_.contains(n)))

    // s4_ingest times the store's ingest leg (upsert → chunk → embed →
    // tsvector re-sync) in isolation; the s4/s6 entries then reuse the
    // ingested warehouse, so their numbers are pure SEARCH latency — the
    // split the reference's serving-vs-indexing numbers draw too.
    val ingest: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, dir) => {
        val (c, p) = graft.queries.QueryCatalog.e2eIngest(s, dir, 100000, 0)
        c.chunks(p, "text").select("document_id")
      }
    // Query vectors arrive with the request in a real serving flow —
    // fetched once per sf-dir so the timed serving passes measure the
    // probe, not a per-pass Spark job re-reading 10 rows (shared by the
    // v9b/v9d/v5d distributed legs and the v*c local legs).
    val localQueryCache =
      scala.collection.concurrent.TrieMap.empty[String, Seq[(Long, Array[Float])]]
    def envInt(name: String, d: Int): Int =
      sys.env.get(name).map(_.trim.toInt).getOrElse(d)
    // HNSW build partition count: 8 is the committed sf0.1..sf100(64-d)
    // shape; wide/5M runs raise it for build parallelism and per-graph
    // memory (blob-part persistence has removed the old 2 GB
    // byte-array/cell constraint — parts cap at ~100 MB at any width)
    val hnswParts = envInt("SPARK_GRAFT_HNSW_PARTS", 8)
    // Per-probe latency samples for the serving legs (r17 verdict #7):
    // the leg totals are means over 50/1000 sequential probes; at wide
    // dims the per-query variance (graph residency misses, GC) is the
    // SLA number. Samples collect only during the TIMED passes (warm-up
    // cold builds would pollute the distribution) and land as p50/p99
    // per leg in the detail file.
    val latRecording = new java.util.concurrent.atomic.AtomicBoolean(false)
    val latSamples = scala.collection.concurrent.TrieMap
      .empty[String, scala.collection.mutable.ArrayBuffer[Double]]
    def timedProbe[T](leg: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      if (latRecording.get()) {
        val buf = latSamples.getOrElseUpdate(leg,
          scala.collection.mutable.ArrayBuffer.empty[Double])
        buf.synchronized { buf += (System.nanoTime() - t0) / 1e6 }
      }
      r
    }
    // IVF spill assignment: 3 = the recall default; 1 = single assignment
    // (the reference IVFFlat shape, and the 1024-d residency condition)
    val ivfNassign = envInt("SPARK_GRAFT_IVF_NASSIGN", 3)
    // v9b: the PRUNED HNSW batch serving shape (ef = 64, 10 queries) —
    // the catalog's v15 exact-twin (ef = N) is the correctness gate, this
    // is the latency number a serving deployment would see. Served through
    // the prepared serveBatchDistributed (one RDD job, results spec-pinned
    // identical to searchBatch); query vectors arrive with the request
    // (the localQueryCache convention of the v*c legs).
    val hnswBatch: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.functions.col
        lazy val emb = graft.Tables.load(s, dir, "embeddings")
        val queries = localQueryCache.getOrElseUpdate(dir,
          emb.where(col("vec_id") < 10)
            .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
            .collect().toSeq.sortBy(_._1))
        val idx = graft.operators.HnswIndex.serveOrBuild(
          s, s"$dir/embeddings.parquet", emb, "embedding", "vec_id",
          m = 16, efConstruction = 64, numPartitions = hnswParts)
        val hits = idx.serveBatchDistributed(queries, 10, ef = 64)
        queries.flatMap { case (qid, _) =>
          hits(qid).map { case (id, sc) => (qid, id, sc) }
        }.toDF("query_id", "vec_id", "score")
      }
    // v9c: the DRIVER-LOCAL HNSW probe — the reference's own serving shape
    // (an in-process index probe, no distributed work per query; its
    // 17.5 ms baseline number is exactly this tier). 1000 probes (10
    // vectors × 100 repeats) through searchLocal per pass: after warm-up
    // the tier schedules zero Spark jobs, so the leg divided by 1000 is
    // the true per-probe latency with the ~0.15 s count()/setup overhead
    // amortized away.
    // The local-ANN legs pin the CORRECTNESS settings by default (the specs
    // pin those results bit-identical to the distributed paths at sf0.1).
    // The one-off scale-headroom runs (sf30/sf100) override via env so the
    // list count scales with the corpus the way a production deployment
    // would (nlist=0 → ~√N); the defaults are untouched for driver runs.
    val hnswLocal: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.functions.col
        val emb = graft.Tables.load(s, dir, "embeddings")
        // query vectors arrive with the request in a real serving flow —
        // fetch them once so the timed passes measure the probe, not a
        // per-pass Spark job re-reading 10 rows
        val queries = localQueryCache.getOrElseUpdate(dir,
          emb.where(col("vec_id") < 10)
            .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
            .collect().toSeq.sortBy(_._1))
        val p = graft.operators.AnnServing.LocalParams(numPartitions = hnswParts, ef = 64)
        // resolve-once handle, probe 1000x: the production serving shape
        // (per-probe serveLocal re-stats the source home each call)
        val probe = graft.operators.AnnServing.localProber(s, "hnsw",
          s"$dir/embeddings.parquet", emb, "vec_id", "embedding", p)
        var hits: Seq[(Long, Long, Double)] = Nil
        for (_ <- 1 to 100)
          hits = queries.flatMap { case (qid, qv) =>
            timedProbe("v9c_hnsw_local")(probe(qv, 10))
              .map { case (id, sc) => (qid, id, sc) }
          }
        hits.toDF("query_id", "vec_id", "score")
      }

    // v5c / v24c: the driver-local tier for the quantized families — the
    // same 1000-probe shape as v9c (10 vectors × 100 repeats through
    // searchLocal), so the three in-process tiers are directly comparable
    // against the reference's 17.5 ms in-process probe. Results are
    // spec-pinned identical to the distributed v5/v24 paths.
    val ivfLocal: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.functions.col
        val emb = graft.Tables.load(s, dir, "embeddings")
        val queries = localQueryCache.getOrElseUpdate(dir,
          emb.where(col("vec_id") < 10)
            .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
            .collect().toSeq.sortBy(_._1))
        val p = graft.operators.AnnServing.LocalParams(
          nlist = envInt("SPARK_GRAFT_IVF_NLIST", 16),
          nprobe = envInt("SPARK_GRAFT_IVF_NPROBE", 4),
          nassign = ivfNassign)
        val probe = graft.operators.AnnServing.localProber(s, "ivf",
          s"$dir/embeddings.parquet", emb, "vec_id", "embedding", p)
        var hits: Seq[(Long, Long, Double)] = Nil
        for (_ <- 1 to 100)
          hits = queries.flatMap { case (qid, qv) =>
            timedProbe("v5c_ivf_local")(probe(qv, 10))
              .map { case (id, sc) => (qid, id, sc) }
          }
        hits.toDF("query_id", "vec_id", "score")
      }
    val ivfpqLocal: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.functions.col
        val emb = graft.Tables.load(s, dir, "embeddings")
        val queries = localQueryCache.getOrElseUpdate(dir,
          emb.where(col("vec_id") < 10)
            .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
            .collect().toSeq.sortBy(_._1))
        val V = graft.queries.V24OracleSql
        val p = graft.operators.AnnServing.LocalParams(
          nprobe = envInt("SPARK_GRAFT_PQ_NPROBE", V.Nprobe),
          rerank = V.Rerank,
          pqNlist = envInt("SPARK_GRAFT_PQ_NLIST", V.Nlist),
          m = V.M, kCent = V.KCent, nassign = V.Nassign)
        val probe = graft.operators.AnnServing.localProber(s, "ivfpq",
          s"$dir/embeddings.parquet", emb, "vec_id", "embedding", p)
        var hits: Seq[(Long, Long, Double)] = Nil
        for (_ <- 1 to 100)
          hits = queries.flatMap { case (qid, qv) =>
            timedProbe("v24c_ivfpq_local")(probe(qv, 10))
              .map { case (id, sc) => (qid, id, sc) }
          }
        hits.toDF("query_id", "vec_id", "score")
      }
    // v5d: steady-state single-query distributed IVF serving — the v9d
    // twin through IvfIndex.serveDistributed (PartitionPruningRDD: each
    // request's one job runs exactly nprobe tasks). 50 sequential probes
    // (10 vectors × 5 repeats); leg/50 = per-request latency.
    val ivfServeSteady: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.functions.col
        lazy val emb = graft.Tables.load(s, dir, "embeddings")
        val queries = localQueryCache.getOrElseUpdate(dir,
          emb.where(col("vec_id") < 10)
            .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
            .collect().toSeq.sortBy(_._1))
        val nlist = envInt("SPARK_GRAFT_IVF_NLIST", 16)
        val nprobe = envInt("SPARK_GRAFT_IVF_NPROBE", 4)
        val idx = graft.operators.IvfIndex.serveOrBuild(
          s, s"$dir/embeddings.parquet", emb, "embedding", nlist = nlist,
          nassign = ivfNassign)
        var hits: Seq[(Long, Long, Double)] = Nil
        for (_ <- 1 to 5)
          hits = queries.flatMap { case (qid, qv) =>
            timedProbe("v5d_ivf_serve")(
              idx.serveDistributed(qv, 10, nprobe, "vec_id")).take(1)
              .map { case (id, s) => (qid, id, s) }
          }
        hits.toDF("query_id", "vec_id", "score")
      }

    // s4_sync_delta: the incremental-ingest serving shape — ONE changed
    // document upserted and re-synced against an already-ingested corpus.
    // The counterpart of s4_ingest's full re-sync: this is what a
    // continuously-ingesting deployment pays per micro-batch, and it must
    // stay O(batch) no matter the corpus size. Uses its own warehouse
    // (chunk config 99999) so the s4/s6 search legs keep their corpus.
    val deltaCounter = new java.util.concurrent.atomic.AtomicLong(0)
    val syncDelta: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, dir) => {
        import s.implicits._
        val (c, p) = graft.queries.QueryCatalog.e2eCollection(s, dir, 99999, 0)
        val rev = deltaCounter.incrementAndGet()
        c.upsertDocuments(Seq(
          s"""{"id": 1, "text": "delta sync probe revision $rev of document one"}""")
          .toDF("document"))
        c.syncPipelineIncremental(p)
        c.chunks(p, "text").where(
          org.apache.spark.sql.functions.col("document_id") ===
            org.apache.spark.sql.functions.md5(
              org.apache.spark.sql.functions.lit("1")))
      }
    // s4_sync_steady: STEADY-STATE ingest — 8 micro-batches per pass with
    // the merge policy tightened (mergeEvery = 4) so a background
    // compaction fires MID-RUN. The per-batch wall times go to stderr as
    // their own JSON line: the contract under test is that batch latency
    // stays O(batch) while the O(corpus) merge runs on its thread
    // (BackgroundMergeSpec pins the semantics; this measures the
    // throughput claim). Own warehouse (chunk config 99998) so the other
    // s4 legs keep their corpus and merge cadence.
    val steadyCounter = new java.util.concurrent.atomic.AtomicLong(0)
    val syncSteady: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, dir) => {
        import s.implicits._
        val (c, p) = graft.queries.QueryCatalog.e2eCollection(s, dir, 99998, 0)
        c.mergeEvery = 4
        val batchTimes = (1 to 8).map { _ =>
          val rev = steadyCounter.incrementAndGet()
          val t0 = System.nanoTime()
          c.upsertDocuments(Seq(
            s"""{"id": 2, "text": "steady ingest probe revision $rev of document two"}""")
            .toDF("document"))
          c.syncPipelineIncremental(p)
          (System.nanoTime() - t0) / 1e9
        }
        System.err.println(batchTimes.map(t => f"$t%.3f")
          .mkString("""{"steady_batch_sec":[""", ",", "]}"))
        c.chunks(p, "text").where(
          org.apache.spark.sql.functions.col("document_id") ===
            org.apache.spark.sql.functions.md5(
              org.apache.spark.sql.functions.lit("2")))
      }
    // v9: the catalog entry now AUDITS recall against a brute-force pass
    // (its correctness role — the driver row carries a checked recall
    // bound); the bench leg keeps the single-query distributed serving
    // shape — per-pass query-vector fetch + per-pass forest probe — but
    // both legs of it now run PREPARED, the way a serving endpoint would:
    // the point-lookup Dataset is analyzed once and re-executed per pass
    // (the reference serves its probe from a prepared statement over a hot
    // table), and the probe goes through HnswIndex.serveDistributed — one
    // RDD job over the persisted blob rows, no per-query Catalyst, results
    // spec-pinned bit-identical to search() (HnswSpec). What remains per
    // pass is exactly the two jobs a request costs: the vector fetch and
    // the probe wave.
    val preparedFetch =
      scala.collection.concurrent.TrieMap.empty[String, org.apache.spark.sql.Dataset[Array[Float]]]
    val hnswServe: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.functions.col
        // lazy: spark.read.parquet is a per-call listing + footer read on
        // the driver — the steady-state pass needs neither (the prepared
        // Dataset is cached, serveOrBuild's df parameter is by-name)
        lazy val emb = graft.Tables.load(s, dir, "embeddings")
        val q = preparedFetch.getOrElseUpdate(dir,
          emb.where(col("vec_id") === 13).select("embedding")
            .as[Array[Float]]).head()
        val idx = graft.operators.HnswIndex.serveOrBuild(
          s, s"$dir/embeddings.parquet", emb, "embedding", "vec_id",
          m = 16, efConstruction = 64, numPartitions = hnswParts)
        idx.serveDistributed(q, 10, ef = 64).toSeq.toDF("vec_id", "score")
      }
    // v9d: steady-state single-query DISTRIBUTED serving — 50 sequential
    // serveDistributed probes (10 vectors × 5 repeats), each its own
    // independent request/job wave, NOT a batch. v9 keeps the one-shot
    // number (whose ~0.1 s is half fixed harness cost: one count() of the
    // result frame per pass); this leg divided by 50 is the per-request
    // latency a distributed serving endpoint actually pays at steady
    // state — the number to put against the reference's 64.3 ms
    // embed+search and 17.5 ms in-process probe.
    val hnswServeSteady: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.functions.col
        lazy val emb = graft.Tables.load(s, dir, "embeddings")
        val queries = localQueryCache.getOrElseUpdate(dir,
          emb.where(col("vec_id") < 10)
            .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
            .collect().toSeq.sortBy(_._1))
        val idx = graft.operators.HnswIndex.serveOrBuild(
          s, s"$dir/embeddings.parquet", emb, "embedding", "vec_id",
          m = 16, efConstruction = 64, numPartitions = hnswParts)
        var hits: Seq[(Long, Long, Double)] = Nil
        for (_ <- 1 to 5)
          hits = queries.flatMap { case (qid, qv) =>
            // headOption: an empty probe yields no row instead of
            // aborting the whole bench run on NoSuchElementException
            timedProbe("v9d_hnsw_serve")(
              idx.serveDistributed(qv, 10, ef = 64)).take(1)
              .map { case (id, s) => (qid, id, s) }
          }
        hits.toDF("query_id", "vec_id", "score")
      }
    // m1b: the train-family leg that runs on ANY corpus dir (m1 reads the
    // TPC-H lineitem, which generated scale corpora don't have): a full
    // Trainer lifecycle — snapshot → MLlib linear fit → registry →
    // predict — over the documents table, so the sf1..sf100 decade
    // measures training at 5M rows (r16 verdict #6). Each pass re-trains;
    // the leg is fit-bound and expected ~linear in docs.
    val trainDocs: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, dir) => {
        import org.apache.spark.sql.functions.col
        val docs = graft.Tables.load(s, dir, "documents")
          .select(
            graft.functions.TextFunctions.tokenCount(col("text"))
              .cast("double").as("tc"),
            col("n_chars").cast("double").as("n_chars"))
        val reg = java.nio.file.Files.createTempDirectory("graft_m1b_reg_").toString
        val tr = new graft.ml.Trainer(s, reg)
        tr.train("m1b_lin", "regression", docs, Some("n_chars"), "linear",
          testSize = 0.0)
        tr.registry.predict("m1b_lin", docs.limit(100)).select(col("prediction"))
      }
    val queries = SparkEntry.queries +
      ("s4_ingest" -> ingest) + ("m1b_train_docs" -> trainDocs) +
      ("v9_knn_hnsw" -> hnswServe) +
      ("v9b_hnsw_batch" -> hnswBatch) + ("v9d_hnsw_serve" -> hnswServeSteady) +
      ("v5d_ivf_serve" -> ivfServeSteady) +
      ("v9c_hnsw_local" -> hnswLocal) + ("v5c_ivf_local" -> ivfLocal) +
      ("v24c_ivfpq_local" -> ivfpqLocal) + ("s4_sync_delta" -> syncDelta) +
      ("s4_sync_steady" -> syncSteady)
    // How a leg's output is consumed: count() by default. A count lets
    // Catalyst prune output columns nothing reads, and the scoring kernels
    // of c9 (ppl, n_tokens), c7, c10 and t12 are exactly such projections —
    // counted, a leg timed only its model fit — so these legs are consumed
    // by an aggregate over their scores.
    val scoredBy = Map("c9_ngram_lm" -> Seq("ppl", "n_tokens"),
      "c7_quality_classifier" -> Seq("score", "n_toks"),
      "c10_dsir_weights" -> Seq("log_weight", "n_grams"),
      "t12_lang_id_trained" -> Seq("confidence"))
    def consume(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      import org.apache.spark.sql.functions.{col, count, lit, sum}
      scoredBy.get(name) match {
        case Some(cs) =>
          df.agg(count(lit(1)), cs.map(c => sum(col(c))): _*).collect(); ()
        case None => df.count(); ()
      }
    }
    // Warm every headline query once, untimed (JIT + classload + index/
    // warehouse builds — indexes are built at ingest, not per query; the
    // reference's HNSW numbers likewise exclude the 2h51m index build),
    // then measure 3 passes and report the PER-QUERY MEDIAN: one pass
    // cannot distinguish an 80% regression from scheduler noise.
    // warm-up failures surface in the timed loop below; don't hide them here
    for (w <- headline) {
      spark.sparkContext.setJobDescription(s"bench:$w:warm")
      traceLine(s"LEG_START $w:warm")
      try consume(w, queries(w)(spark, sfDir)) catch { case _: Throwable => }
      traceLine(s"LEG_END   $w:warm")
    }
    spark.sparkContext.setJobDescription(null)
    latRecording.set(true)

    // Load evidence: three consecutive driver benches (r6/r7/r8) were
    // polluted by co-located machine load and needed manual re-runs to
    // adjudicate. Capture /proc/loadavg around every pass plus the host
    // cpu count so the JSON itself shows whether a slow number was the
    // code or the machine.
    // Files.readString, not Source.fromFile: these samplers run per pass
    // over every JVM thread's proc files, and an unclosed Source leaks a
    // file descriptor per read until finalization
    def readProc(p: java.io.File): String =
      new String(java.nio.file.Files.readAllBytes(p.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
    def loadavg(): Seq[Double] =
      try readProc(new java.io.File("/proc/loadavg"))
        .split("\\s+").take(3).toSeq.map(_.toDouble)
      catch { case _: Throwable => Seq(-1.0, -1.0, -1.0) }
    val hostCpus = Runtime.getRuntime.availableProcessors()

    // loadavg failed exactly when needed in r10: a co-tenant cgroup or
    // thermal throttle steals CPU without raising THIS host's loadavg.
    // Capture signals that can't miss it: the JVM's own process CPU time
    // (a pass whose wall doubles with flat CPU time was starved, not
    // regressed), /proc/self/schedstat field 2 (ns runnable-but-waiting —
    // direct runqueue contention), and nonvoluntary context switches.
    // Hypervisor steal (/proc/stat cpu col 8, ticks): co-tenant VMs pause
    // our vCPUs without raising loadavg or guest runq wait — the one
    // contention signal the r18 roaming-slow-window investigation found
    // that the existing counters cannot see. Per-pass deltas land in the
    // detail file; a pass with high steal is a machine artifact, not a
    // code regression.
    def stealTicks(): Long =
      try readProc(new java.io.File("/proc/stat")).linesIterator
        .find(_.startsWith("cpu ")).map(_.trim.split("\\s+"))
        .filter(_.length > 8).map(_(8).toLong).getOrElse(-1L)
      catch { case _: Throwable => -1L }
    def processCpuNs(): Long =
      try java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
      catch { case _: Throwable => -1L }
    // schedstat/status are PER-THREAD under /proc/self — the main thread
    // sleeps while executor threads do the work, so sum over
    // /proc/self/task/*. Exited threads drop out of the sum (executor
    // pools are stable across a bench run, so deltas stay meaningful).
    def taskDirs(): Seq[java.io.File] =
      Option(new java.io.File("/proc/self/task").listFiles()).map(_.toSeq)
        .getOrElse(Nil)
    // PER-TID maps, not sums: threads that exit between two samples made
    // a summed delta NEGATIVE (r17's detail file recorded runq -1.6 s,
    // invol -7445). Deltas sum max(0, after - before) per surviving tid
    // (new tids count from 0; exited tids' partial counts drop — a small
    // undercount, never a sign flip).
    def schedstatWaitByTid(): Map[String, Long] =
      try taskDirs().map { d =>
        d.getName -> (try readProc(new java.io.File(d, "schedstat"))
            .trim.split("\\s+")(1).toLong
          catch { case _: Throwable => 0L })
      }.toMap
      catch { case _: Throwable => Map.empty }
    def involCtxtByTid(): Map[String, Long] =
      try taskDirs().map { d =>
        d.getName -> (try readProc(new java.io.File(d, "status")).linesIterator
            .find(_.startsWith("nonvoluntary_ctxt_switches"))
            .map(_.split("\\s+")(1).toLong).getOrElse(0L)
          catch { case _: Throwable => 0L })
      }.toMap
      catch { case _: Throwable => Map.empty }
    def tidDelta(before: Map[String, Long], after: Map[String, Long]): Long =
      after.iterator.map { case (tid, v) =>
        math.max(0L, v - before.getOrElse(tid, 0L)) }.sum
    final case class Steal(cpuNs: Long, waitNs: Map[String, Long],
        ctxt: Map[String, Long], hvSteal: Long)
    def stealNow(): Steal = Steal(processCpuNs(), schedstatWaitByTid(),
      involCtxtByTid(), stealTicks())

    // A query that throws must NOT contribute its (near-zero) failure time —
    // that would silently IMPROVE the headline. Record it as -1 and leave it
    // out of the total so a broken query is visible in the JSON.
    // Pass-major order (pass 1 runs every query, then pass 2, …) so each
    // pass has a meaningful before/after load reading and a transient load
    // spike degrades one PASS, not one query's entire sample.
    val nPasses = 3
    val passLoads = scala.collection.mutable.ArrayBuffer[Seq[Double]](loadavg())
    val passSteals = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Long)]
    val passHvSteal = scala.collection.mutable.ArrayBuffer.empty[Double]
    val ticksPerSec = 100.0 // USER_HZ; Linux fixes it at 100 on every arch here
    val perPass: Seq[Seq[(String, Double)]] = (1 to nPasses).map { p =>
      val s0 = stealNow()
      val pass = headline.flatMap { name =>
        queries.get(name).map { fn =>
          spark.sparkContext.setJobDescription(s"bench:$name:p$p")
          traceLine(s"LEG_START $name:p$p")
          val t0 = System.nanoTime()
          val ok = try { consume(name, fn(spark, sfDir)); true }
            catch { case e: Throwable =>
              System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false }
          val dt = (System.nanoTime() - t0) / 1e9
          traceLine(f"LEG_END   $name:p$p $dt%.3f")
          name -> (if (ok) dt else -1.0)
        }
      }
      spark.sparkContext.setJobDescription(null)
      passLoads += loadavg()
      val s1 = stealNow()
      passSteals += (((s1.cpuNs - s0.cpuNs) / 1e9,
        tidDelta(s0.waitNs, s1.waitNs) / 1e9, tidDelta(s0.ctxt, s1.ctxt)))
      passHvSteal +=
        (if (s0.hvSteal < 0 || s1.hvSteal < 0) -1.0
         else (s1.hvSteal - s0.hvSteal) / ticksPerSec)
      pass
    }
    val results = headline.flatMap { name =>
      if (!queries.contains(name)) None else {
        val times = perPass.map(_.find(_._1 == name).get._2)
        Some(name -> (if (times.contains(-1.0)) -1.0 else times.sorted.apply(nPasses / 2)))
      }
    }
    val qs = results.map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }
      .mkString("{", ",", "}")
    val passesJson = results.map { case (k, _) =>
      val ts = perPass.map(_.find(_._1 == k).get._2)
      "\"" + k + "\":" + ts.map(t => f"$t%.3f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val loadJson = passLoads
      .map(l => l.map(x => f"$x%.2f").mkString("[", ",", "]"))
      .mkString("[", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum
    val failed = results.count(_._2 < 0)
    if (failed > 0) System.err.println(s"[bench] $failed queries failed; excluded from total")
    val cpuJson = passSteals.map(s => f"${s._1}%.1f").mkString("[", ",", "]")
    val waitJson = passSteals.map(s => f"${s._2}%.1f").mkString("[", ",", "]")
    val ctxtJson = passSteals.map(_._3.toString).mkString("[", ",", "]")
    val hvStealJson = passHvSteal.map(s => f"$s%.1f").mkString("[", ",", "]")
    // The FULL record (per-pass arrays, loadavg, steal counters) goes to a
    // FILE: the driver captures only the tail of stdout, and two rounds
    // running the full line was truncated head-first into an unparseable
    // artifact (r14/r15 "parsed": null). stdout carries one COMPACT line —
    // totals + per-leg medians, ~¼ the bytes — printed LAST so a tail
    // capture always keeps it whole; the detail path rides along in it.
    val latJson = latSamples.toSeq.sortBy(_._1).map { case (leg, buf) =>
      val sorted = buf.synchronized { buf.toArray }.sorted
      def pct(p: Double): Double =
        sorted(math.max(0, math.min(sorted.length - 1,
          math.ceil(p * sorted.length).toInt - 1)))
      "\"" + leg +
        f"""\":{"p50_ms":${pct(0.50)}%.3f,"p99_ms":${pct(0.99)}%.3f,"max_ms":${sorted.last}%.3f,"n":${sorted.length}}"""
    }.mkString("{", ",", "}")
    // Self-describing artifact: the 256-d 5M record shipped without its
    // build knobs and the round record had to guess them — pin every
    // env-tunable that changes what a scale artifact measured.
    val envJson = {
      val mem = sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")
      val jvm = sys.env.getOrElse("SPARK_GRAFT_JVM_OPTS", "")
      f"""{"hnsw_parts":$hnswParts,"ivf_nlist":${envInt("SPARK_GRAFT_IVF_NLIST", 16)},"ivf_nprobe":${envInt("SPARK_GRAFT_IVF_NPROBE", 4)},"ivf_nassign":$ivfNassign,"cpus":"$cpus","driver_mem":"$mem","jvm_opts":"$jvm"}"""
    }
    val fullJson =
      f"""{"metric":"headline_total","value":$total%.3f,"unit":"sec","queries":$qs,"passes":$passesJson,"loadavg_per_pass":$loadJson,"cpu_sec_per_pass":$cpuJson,"runq_wait_sec_per_pass":$waitJson,"invol_ctxt_per_pass":$ctxtJson,"hv_steal_sec_per_pass":$hvStealJson,"latency_ms":$latJson,"env":$envJson,"host_cpus":$hostCpus,"sf":"$sfDir"}"""
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      "/tmp/graft_bench_detail.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
      (fullJson + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[bench] detail write failed: ${e.getMessage}") }
    val headlineLine =
      f"""{"metric":"headline_total","value":$total%.3f,"unit":"sec","queries":$qs,"cpu_sec_per_pass":$cpuJson,"host_cpus":$hostCpus,"sf":"$sfDir","detail":"$detailPath"}"""
    // Belt and braces for the driver's parser: the headline ALSO lands in
    // a repo-path file (r16 verdict #1 — three rounds of "parsed": null
    // from sbt-decorated stdout; build.sbt's StdoutOutput strips the
    // decoration at the source, this file survives any capture).
    // cwd-relative default (ADVICE r17): a checkout elsewhere writes its
    // own copy instead of failing every run against a hardcoded /root/repo
    val headlinePath = sys.env.getOrElse("SPARK_GRAFT_BENCH_HEADLINE",
      "bench_headline.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(headlinePath),
      (headlineLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[bench] headline write failed: ${e.getMessage}") }
    println(headlineLine)
    spark.stop()
  }
}
