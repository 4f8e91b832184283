package graftbench

import java.io.{File, PrintWriter}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark entry point. One JVM runs one workload:
  *
  *   --workload serve_read|curate_batch --seed N --seconds S
  *   --trace 0|1 --work DIR [--docs N] [--setups K] [--spans FILE]
  *
  * It sets up K times (the last set-up is measured; `setup_s` is session
  * start + the median set-up + the warm-up), runs the workload's closed
  * loop for S seconds, checks the outputs, and prints one JSON line last:
  * the end-to-end metrics untraced, the per-layer metrics traced. A traced
  * run measures two loops of S seconds, untraced then traced; the
  * per-layer metrics come from the traced one, and its mean latency against
  * the untraced one is the tracing overhead.
  *
  * The cost of a call is gated as CPU time (`cpu_ms_per_op`, see [[Calls]]),
  * not wall time: on a shared host, co-tenants steal a varying share of the
  * CPUs, and wall-clock latency and throughput moved by more than a quarter
  * between runs of the same code. They are reported per layer (`wall.*`). */
object Main {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "cpu_ms_per_op" -> "ms", "recall" -> "ratio")

  /** Ops that run Spark jobs (`predictRow` runs none). */
  val Ops: Seq[String] = Seq("vector_search", "hybrid", "filtered",
    "curate", "minhash_pairs", "ngram_lm", "bpe", "train", "predict_batch")

  val PerLayer: Seq[(String, String)] = Seq(
    "setup.generate_s" -> "s", "setup.warmup_s" -> "s",
    "functions.embed_one_us" -> "us", "functions.text_kernels_s" -> "s",
    "operators.hnsw_serve_ms_p50" -> "ms", "operators.hnsw_serve_ms_p90" -> "ms",
    "operators.hnsw_local_ms_p50" -> "ms",
    "operators.curate_s" -> "s", "operators.minhash_pairs_s" -> "s",
    "operators.ngram_lm_s" -> "s", "operators.bpe_s" -> "s",
    "operators.minhash_pairs_found" -> "count", "operators.minhash_planted_recall" -> "ratio",
    "store.bulk_upsert_s" -> "s", "store.sync_full_s" -> "s",
    "store.vector_search_ms_p50" -> "ms", "store.vector_search_ms_p90" -> "ms",
    "store.hybrid_search_ms_p50" -> "ms", "store.hybrid_search_ms_p90" -> "ms",
    "store.filtered_search_ms_p50" -> "ms", "store.filtered_search_ms_p90" -> "ms",
    "store.vector_search_overhead_ms_p50" -> "ms",
    "store.files_per_table_max" -> "count", "store.warehouse_mb" -> "MB",
    "store.space_amp" -> "ratio",
    "ml.train_s" -> "s", "ml.predict_batch_rows_per_s" -> "rows/s",
    "ml.predict_row_ms_p50" -> "ms",
    "wall.ops_per_s" -> "ops/s", "wall.p50_ms" -> "ms") ++
    Ops.flatMap(op => Seq(
      s"spark.jobs_per_op.$op" -> "count", s"spark.task_cpu_ms_per_op.$op" -> "ms",
      s"spark.planning_ms_per_op.$op" -> "ms", s"spark.driver_gap_ms_per_op.$op" -> "ms",
      s"spark.scan_bytes_per_op.$op" -> "bytes", s"spark.shuffle_bytes_per_op.$op" -> "bytes")) ++
    Seq(
      "spark.job_floor_ms" -> "ms",
      "self_ms_per_call.store" -> "ms", "self_ms_per_call.operators" -> "ms",
      "self_ms_per_call.ml" -> "ms", "self_ms_per_call.spark" -> "ms",
      "jvm.gc_ms" -> "ms", "jvm.process_cpu_s" -> "s", "jvm.process_cpu_ms_per_op" -> "ms",
      "jvm.jit_cpu_s" -> "s", "jvm.peak_rss_mb" -> "MB",
      "host.steal_s" -> "s", "host.runq_wait_s" -> "s", "host.calib_ms" -> "ms",
      "trace.overhead_pct" -> "%", "trace.spans" -> "count")

  /** Corpus size in documents. On a 4-core host a curate pass over 500
    * documents costs 8.8 s of CPU against 11.3 s over 1,000 (most of it is
    * per-job overhead), and the first, cold pass 20 s of wall time instead
    * of 30 s, which leaves room in a run for two measured passes. */
  val DefaultDocs = Map("serve_read" -> 1000, "curate_batch" -> 500)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val workDir = new File(a("work"))
    workDir.mkdirs()
    val code =
      try { run(workload, a, workDir); 0 }
      catch { case NonFatal(e) => e.printStackTrace(); 1 }
    System.exit(code)
  }

  private def run(workload: String, a: Map[String, String], workDir: File): Unit = {
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.get("trace").contains("1")
    // two task slots and two clients: with the JVM's compiler threads, as
    // many busy threads as a 4-core host has
    val slots = math.min(2, Runtime.getRuntime.availableProcessors())
    val load0 = Health.loadavg1m()
    val calib0 = Health.calibrationMs()

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", new File(workDir, "spark-warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val ctx = new Ctx(spark, workload, seed,
      a.get("docs").map(_.toInt).getOrElse(DefaultDocs(workload)), workDir)
    val w = Workload(ctx)
    val setups = a.get("setups").map(_.toInt).getOrElse(w.setups)
    val setupRuns = (1 to setups).map { k =>
      val (parts, s) = ctx.time(w.setup(k))
      println(f"SETUP $k $s%.3f s " + parts.map { case (n, v) => f"$n=$v%.3f" }.mkString(" "))
      (parts, s)
    }
    val (_, warmS) = ctx.time(w.warmup())
    val setupS = sessionS + Stats.pct(setupRuns.map(_._2), 50) + warmS
    println(f"WARMUP $warmS%.3f s (session start $sessionS%.3f s)")
    ctx.layer("setup.warmup_s") = warmS
    setupRuns.flatMap(_._1.keys).distinct.foreach { k =>
      ctx.layer(k) = Stats.pct(setupRuns.flatMap(_._1.get(k)), 50)
    }
    w.settle()

    val calls = ctx.calls
    def primaryLatencies = w.primaryOps.flatMap(calls.latencies)
    calls.reset()
    def meanMs(xs: Seq[Double]) = xs.sum / math.max(1, xs.size)
    // an untraced loop before the traced one: the tracing overhead is the
    // traced mean latency against its mean
    val untracedMs = if (!traced) 0.0 else {
      w.measure(seconds)
      val m = meanMs(primaryLatencies)
      calls.reset()
      m
    }
    val tracer = if (!traced) None else {
      val tr = new SparkTrace(spark.sparkContext)
      spark.sparkContext.addSparkListener(tr)
      spark.listenerManager.register(tr)
      calls.trace = Some(tr)
      Some(tr)
    }
    val h0 = Health.sample()
    val wallS = w.measure(seconds)
    val h1 = Health.sample()
    val completed = calls.completed
    val attempted = calls.attempted.get()
    val failed = calls.failed.get()
    val lat = primaryLatencies
    val latByOp = w.primaryOps.map(op => op -> calls.latencies(op))
    val cpuPerOp = w.cpuPerOp(calls.cpuMs)
    val processCpuPerOp = (h1.cpuNs - h0.cpuNs) / 1e6 / math.max(1L, completed)
    tracer.foreach { tr =>
      val callsOf = (op: String) => calls.latencies(op).size
      ctx.layer ++= tr.perOp(callsOf) ++ tr.selfTimes()
      spark.sparkContext.removeSparkListener(tr)
      spark.listenerManager.unregister(tr)
      calls.trace = None
      ctx.layer("trace.spans") = tr.spans.size().toDouble
      a.get("spans").foreach { path =>
        val out = new PrintWriter(path)
        try tr.spanLines().foreach(out.println) finally out.close()
      }
    }
    layerFromLatencies(ctx, calls)
    ctx.layer ++= Seq("wall.ops_per_s" -> completed / wallS, "wall.p50_ms" -> Stats.pct(lat, 50),
      "jvm.process_cpu_ms_per_op" -> processCpuPerOp)
    if (traced) ctx.layer("trace.overhead_pct") = (meanMs(lat) - untracedMs) / untracedMs * 100
    ctx.layer ++= Health.delta(h0, h1)
    ctx.layer("host.calib_ms") = Health.calibrationMs()

    w.finish()
    if (traced) w.probes()
    ctx.layer("jvm.peak_rss_mb") = Health.peakRssMb()

    // per-layer figures the metric list leaves out (background jobs, spill)
    if (traced) println("LAYER_EXTRA " + json(ctx.layer.toSeq
      .filterNot { case (k, _) => PerLayer.exists(_._1 == k) }.sortBy(_._1)))
    println("HEALTH " + json(Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors().toDouble,
      "spark_slots" -> slots.toDouble,
      "loadavg_1m_start" -> load0, "loadavg_1m_end" -> Health.loadavg1m(),
      "calib_ms_start" -> calib0, "calib_ms_end" -> ctx.layer("host.calib_ms")) ++
      Health.delta(h0, h1).toSeq.sortBy(_._1)))

    val e2e = Map("setup_s" -> setupS, "cpu_ms_per_op" -> cpuPerOp, "recall" -> ctx.recall)
    println(f"SAMPLES primary=${lat.size} completed=$completed wall_s=$wallS%.3f " +
      f"ops_per_s=${completed / wallS}%.3f p50_ms=${Stats.pct(lat, 50)}%.1f " +
      f"p75_ms=${Stats.pct(lat, 75)}%.1f process_cpu_ms_per_op=$processCpuPerOp%.1f " +
      latByOp.map { case (op, xs) => f"$op=${xs.size}x${Stats.pct(xs, 50)}%.1f" }.mkString(" "))
    println("CPU_MS " + calls.ops.sorted.filter(op => calls.cpuMs(op).nonEmpty).map { op =>
      val xs = calls.cpuMs(op)
      f"$op=${xs.size}x${Stats.pct(xs, 50)}%.1f" }.mkString(" "))
    val (names, values) =
      if (traced) (PerLayer, ctx.layer.toMap.withDefaultValue(0.0)) else (EndToEnd, e2e)
    val correct = ctx.checks.nonEmpty && ctx.checks.forall(_._2) && failed == 0
    val metrics = names.map { case (n, unit) =>
      s""""$n": {"value": ${num(values(n))}, "unit": "$unit"}""" }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${math.max(1L, attempted)}, """ +
      s""""failed": $failed, "metrics": {$metrics}}""")
    System.out.flush()
    spark.stop()
  }

  /** Per-layer latency figures taken from the recorded calls. */
  private def layerFromLatencies(ctx: Ctx, calls: Calls): Unit = {
    def p(op: String, q: Double) = Stats.pct(calls.latencies(op), q)
    val fromOps = Seq(
      "store.vector_search_ms_p50" -> p("vector_search", 50),
      "store.vector_search_ms_p90" -> p("vector_search", 90),
      "store.hybrid_search_ms_p50" -> p("hybrid", 50),
      "store.hybrid_search_ms_p90" -> p("hybrid", 90),
      "store.filtered_search_ms_p50" -> p("filtered", 50),
      "store.filtered_search_ms_p90" -> p("filtered", 90),
      "ml.predict_row_ms_p50" -> p("predict_row", 50),
      "operators.curate_s" -> p("curate", 50) / 1000,
      "operators.minhash_pairs_s" -> p("minhash_pairs", 50) / 1000,
      "operators.ngram_lm_s" -> p("ngram_lm", 50) / 1000,
      "operators.bpe_s" -> p("bpe", 50) / 1000)
    ctx.layer ++= fromOps
    if (calls.latencies("train").nonEmpty) ctx.layer("ml.train_s") = p("train", 50) / 1000
    if (calls.latencies("predict_batch").nonEmpty)
      ctx.layer("ml.predict_batch_rows_per_s") = ctx.docs / (p("predict_batch", 50) / 1000)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else v.toString

  private def json(kv: Seq[(String, Double)]): String =
    kv.map { case (k, v) => s""""$k": ${num(v)}""" }.mkString("{", ", ", "}")
}
