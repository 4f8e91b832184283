package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Plan inspection + assertions for scale-critical queries.
  * Run: sbt "Test/runMain graft.ExplainCheck"
  *
  * Prints formatted plans AND asserts the plan properties the 100 TB
  * design depends on: parquet filter pushdown, broadcast of small dims,
  * no cartesian products, TakeOrdered for top-k.
  */
object ExplainCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.01"

    def planOf(name: String): String = {
      val df = SparkEntry.queries(name)(spark, dir)
      println(s"===== $name =====")
      df.explain("formatted")
      df.queryExecution.executedPlan.toString
    }

    var failures = List.empty[String]
    def check(name: String, what: String)(ok: String => Boolean): Unit = {
      val p = planOf(name)
      if (!ok(p)) failures ::= s"$name: $what"
      else println(s"CHECK OK $name: $what")
    }

    check("q3_filter_pushdown", "filters pushed to parquet scan")(
      p => p.contains("PushedFilters: [IsNotNull"))
    check("q2_revenue_by_nation", "nation dim broadcast, no cartesian")(
      p => p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct"))
    check("v1_knn_cosine", "KNN is TakeOrderedAndProject (no global sort)")(
      p => p.contains("TakeOrderedAndProject"))
    check("m4_dbscan", "grid-blocked neighbor join, no cartesian")(
      p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    check("d1_minhash_lsh_pairs", "band join is a hash join, no cartesian")(
      p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    check("s2_filter_compiler", "compiled JSON filter reaches parquet PushedFilters uncast")(
      p => p.contains("GreaterThan(n_chars,500)") && p.contains("In(lang"))
    // the persisted IVF index must serve probes via directory-level
    // partition pruning (read ~nprobe/nlist of the files, the 100 TB
    // serving contract)
    check("v5_knn_ivf", "IVF probe shows cluster_id PartitionFilters")(
      p => "PartitionFilters: \\[[^\\]]*cluster_id".r.findFirstIn(p).isDefined)
    // the transform surface must be batched mapPartitions (one model call
    // per batch), never a per-row UDF — the accelerator-backed-model shape
    check("x1_transform_sentiment", "transform runs as MapPartitions, no per-row UDF")(
      p => p.contains("MapPartitions") && !p.contains("ScalaUDF"))
    // the trained NER serves through the same batched dispatch: model in
    // the closure, one call per batch, never a per-row UDF
    check("x9_transform_ner", "trained NER runs as MapPartitions, no per-row UDF")(
      p => p.contains("MapPartitions") && !p.contains("ScalaUDF"))
    // deletes cascade to pipeline tables, so the unfiltered vector search
    // must NOT pay a pre-limit corpus-wide semi-join gate per query
    check("s4_vector_search_e2e", "no corpus-wide LeftSemi gate in unfiltered search")(
      p => !p.contains("LeftSemi"))
    // the group-representative stage is a window min over the component
    // key — a groupBy+self-join here re-shuffles the membership AND
    // re-evaluates the token-hash lineage once per consumer (the d3/d4
    // −27% rewrite; Window appears once, no extra join after components)
    check("d3_dedup_groups", "representative is a window min, not agg+self-join")(
      p => p.contains("Window") && !p.contains("SortMergeJoin [ck"))
    // the binary-quantized re-rank must fetch its R candidates through a
    // pushed In(id…) filter (parquet row-group pruning on id stats), and
    // both quantized top-k scans must merge via TakeOrdered, never a
    // global sort
    check("v11_knn_binary", "rerank pushes In(vec_id…) to parquet; TakeOrdered merge")(
      p => p.contains("In(vec_id") && p.contains("TakeOrderedAndProject"))
    check("v12_knn_sq8", "SQ8 ADC scan merges via TakeOrdered")(
      p => p.contains("TakeOrderedAndProject"))
    check("v16_knn_pq", "PQ re-rank pushes In(vec_id…) to parquet; TakeOrdered merge")(
      p => p.contains("In(vec_id") && p.contains("TakeOrderedAndProject"))

    // the curation gates are scan-fused filters: the only exchange in
    // each plan is the output-ordering sort the catalog query adds — no
    // aggregation or join shuffle anywhere (the corpus never re-shuffles)
    for ((q, what) <- Seq(
        "c3_sample_mixture" -> "mixture sampling is a scan-stage filter",
        "c5_assign_splits" -> "split assignment is a scan-stage projection",
        "t8_repetition_stats" -> "repetition stats compute in the scan stage",
        "t9_redact_pii" -> "PII redaction computes in the scan stage",
        "c8_c4_clean" -> "C4 line/page gates compute in the scan stage",
        "t11_gopher_rules" -> "Gopher rules compute in the scan stage"))
      check(q, s"$what (no join/agg shuffle)")(p =>
        !p.contains("Join") && !p.contains("HashAggregate") &&
          "Exchange [a-z]*partitioning".r.findAllIn(p).size <=
            "rangepartitioning".r.findAllIn(p.toLowerCase).size)

    // metric-parameterized quantized serving keeps the cosine paths' plan
    // shape: byte-code scans merge via TakeOrdered under l2 too
    check("v21_knn_sq8_l2", "SQ8 l2 quadratic-ADC scan merges via TakeOrdered")(
      p => p.contains("TakeOrderedAndProject"))
    check("v23_knn_binary_l2", "binary l2 re-rank pushes In(vec_id…); TakeOrdered merge")(
      p => p.contains("In(vec_id") && p.contains("TakeOrderedAndProject"))
    // the perplexity LM is vocabulary-sized: both count frames must
    // BROADCAST into the scoring join — the corpus side streams once and
    // never shuffles for the lookup
    check("c6_perplexity", "LM count frames broadcast into the scoring join")(
      p => p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct"))
    // …and the broadcast must be carried by the EXPLICIT hint, not the
    // optimizer's 10 MB auto-threshold: with auto-broadcast disabled the
    // LM lookups stay BroadcastHashJoin and no SortMergeJoin ever touches
    // the fingerprint keys (a real Wikipedia-scale count frame blows the
    // auto threshold — the hint is the 100 TB contract)
    def checkNoAutoBroadcast(name: String, what: String)(ok: String => Boolean): Unit = {
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        check(name, what)(ok)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
    checkNoAutoBroadcast("c6_perplexity",
      "LM lookups broadcast via hint with auto-broadcast DISABLED")(p =>
      "BroadcastHashJoin".r.findAllIn(p).size >= 2 &&
        !"SortMergeJoin [^\n]*__j[12]".r.findFirstIn(p).isDefined)
    // incremental dedup: the corpus folds to a broadcast sketch; the only
    // joins are the exact verify semi-join over bloom-positives and the
    // small confirmed-flag join — never a corpus-wide exchange
    check("d6_dedup_against", "bloom prefilter; corpus streams, never sort-merge shuffled")(
      p => p.contains("LeftSemi") && p.contains("BroadcastHashJoin") &&
        !p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    // the r18 scan-reuse shape: d2's 16 B (id, sk) sketch frame must stay
    // PERSISTED — both band-join sides read the InMemoryRelation instead
    // of re-running the text scan + simhash64 fold (two corpus passes at
    // any scale). A refactor that drops the persist silently restores the
    // double scan; this gate pins the plan shape the r18 win depends on.
    check("d2_simhash_pairs", "sketch frame persisted: both band sides read InMemoryTableScan [id, sk]")(
      p => "InMemoryTableScan \\[id#\\d+L?, sk#\\d+".r.findAllIn(p).size >= 2)
    // …and d6's slim persisted projections (corpus __h hashes + bloom
    // positives) likewise: the final plan's joins must read cached frames,
    // never re-derive md5 from the corpus/batch text
    check("d6_dedup_against", "corpus-hash + positives frames persisted (InMemoryTableScan over __h)")(
      p => "InMemoryTableScan \\[[^\\]]*__h#\\d+".r.findAllIn(p).size >= 2)
    // the quality classifier serves MAP-SIDE at any dim: the weights are
    // one broadcast row and the per-doc fold runs over the bucket array —
    // no join, no aggregation, the corpus streams once through the scan
    check("c7_quality_classifier", "broadcast-weight scoring is scan-fused (no join/agg)")(
      p => !p.contains("Join") && !p.contains("HashAggregate"))
    // DSIR's ratio table folds the same way, so the weights leg is the
    // scan plus the fold
    check("c10_dsir_weights", "scan-fused (no join/agg)")(
      p => !p.contains("Join") && !p.contains("HashAggregate"))
    // span dedup's gram-keyed work is hash joins over fixed-width rows
    check("t10_dedup_spans", "no cartesian/nested-loop in the span-dedup plan")(
      p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))

    // trained langid serves MAP-SIDE like c7: the per-class weight rows
    // are one broadcast, the per-doc folds run over the shared bucket
    // array — no join, no aggregation, the corpus streams once through
    // the scan
    check("t12_lang_id_trained", "broadcast-weight multiclass scoring is scan-fused (no join/agg)")(
      p => !p.contains("Join") && !p.contains("HashAggregate"))
    // the 5-gram LM ships its per-order count tables as one broadcast
    // variable and scores each document in place: scan-fused like c7/t12
    check("c9_ngram_lm", "order-5 LM scoring is scan-fused (no join/agg)")(
      p => !p.contains("Join") && !p.contains("HashAggregate"))
    // registry probability serving is model.transform over a literal-free
    // plan — no shuffle beyond the output sort, never a cartesian
    check("m9_predict_proba", "predict_proba plan is shuffle-lean, no cartesian")(
      p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // BPE serving: the merge steps run over the vocabulary-sized distinct-
    // pretoken frame and the per-occurrence lookup BROADCASTS it — the
    // corpus never sort-merge shuffles for encoding
    check("t13_bpe_tokens", "BPE count lookup broadcasts the vocab side")(
      p => p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin") &&
        !p.contains("CartesianProduct"))

    // c12: the temperature mixture's keep decision is a scan-fused
    // map-side filter — the corpus never joins, aggregates, or hash-
    // shuffles (the count pass ran eagerly at construction; the returned
    // plan is the decision only). rangepartitioning = the catalog's
    // output orderBy.
    check("c12_temperature_mixture", "temperature keep-filter is scan-fused (no join/agg/hash shuffle)")(
      p => !p.contains("Join") && !p.contains("HashAggregate") &&
        "Exchange hashpartitioning".r.findAllIn(p).isEmpty)

    // t14 + c13 contract gates on the OPERATOR plans (the catalog entries
    // append an output orderBy for the oracle, which adds a legitimate
    // global sort) — AQE off for the inspection so exchanges are visible
    {
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
      def gate(name: String, what: String)(
          plan: org.apache.spark.sql.execution.SparkPlan)(
          ok: org.apache.spark.sql.execution.SparkPlan => Boolean): Unit =
        if (!ok(plan)) failures ::= s"$name: $what"
        else println(s"CHECK OK $name: $what")
      def hashExchanges(p: org.apache.spark.sql.execution.SparkPlan) =
        p.collectWithSubqueries {
          case e: ShuffleExchangeLike
              if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
        }
      def globalSorts(p: org.apache.spark.sql.execution.SparkPlan) =
        p.collectWithSubqueries {
          case s: org.apache.spark.sql.execution.SortExec if s.global => s
        }
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
      try {
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        val docs = Tables.load(spark, dir, "documents")
        // t14: exactly ONE hash exchange (the window's shard
        // partitioning), no global sort anywhere
        val t14 = graft.operators.Corpus.shuffleToShards(
          docs, "doc_id", numShards = 7, seed = 3L).queryExecution.executedPlan
        gate("t14_shard_shuffle", "exactly one hash exchange, no global sort")(t14)(
          p => hashExchanges(p).length == 1 && globalSorts(p).isEmpty)
        // c13: one hash exchange (the striped window) + one broadcast for
        // the offsets — never a sort-merge join or a global sort; and the
        // text is tokenized ONCE: every TokenCount lives inside the
        // persisted slim frame (InMemoryTableScan), none in the live plan
        val c13 = graft.operators.Corpus.tokenBudgetMixture(
            docs.withColumn("domain", col("source")),
            "doc_id", "text", "domain", Map("src0" -> 1000L), seed = 13L)
          .queryExecution.executedPlan
        gate("c13_token_budget",
          "one hash exchange + broadcast offsets, no SMJ/global sort")(c13)(p =>
          hashExchanges(p).length == 1 && globalSorts(p).isEmpty &&
            !p.toString.contains("SortMergeJoin") &&
            p.toString.contains("BroadcastHashJoin"))
        gate("c13_token_budget", "text tokenized once (no TokenCount outside the cached slim frame)")(c13)(p =>
          p.collectWithSubqueries { case n =>
            n.expressions.flatMap(_.collect {
              case t: graft.functions.TokenCount => t })
          }.flatten.isEmpty &&
            p.collectWithSubqueries {
              case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s
            }.nonEmpty)
      } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }

    // train-split must be a filter cut, not orderBy+limit: a GlobalLimit
    // would funnel the whole train relation through one partition
    {
      val rel = Tables.load(spark, dir, "customer")
      val (tr, te) = graft.ml.Sampling.split(rel, 0.25, "random", "c_custkey")
      val plans = tr.queryExecution.executedPlan.toString +
        te.queryExecution.executedPlan.toString
      if (plans.contains("GlobalLimit"))
        failures ::= "train_split: GlobalLimit in train/test split plan"
      else println("CHECK OK train_split: split is a filter, no GlobalLimit")
    }

    if (failures.nonEmpty) {
      failures.foreach(f => println(s"CHECK FAILED $f"))
      sys.exit(1)
    }
    println("ALL PLAN CHECKS PASSED")
    spark.stop()
  }
}
