package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions
import graft.functions.VecFunctions._
import graft.operators.{Dedup, VectorSearch}

/** One verifiable query per implemented operator (SURVEY.md §2 inventory).
  * Each entry pairs a Spark DataFrame program with the ANSI-SQL oracle the
  * driver runs in DuckDB on the same parquet. Column names/aliases MUST match
  * between both sides; floating aggregates are rounded identically on both
  * sides (the driver hash-compares values).
  */
final case class GraftQuery(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    // data-dependent oracles (e.g. a fitted-model replay whose parameters
    // must be inlined as literals) are generated per scale factor at
    // Verify-dump time instead of being a static string
    oracleGen: Option[(SparkSession, String) => String] = None)

object QueryCatalog {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  /** [[t]] with the tiny-input scan spread (Tables.loadSpread) — used by
    * the legs whose scan-stage per-row work (gram hashing, LM probes,
    * batched model inference) measured as the leg's dominant cost and
    * parallelizes cleanly; a no-op at production input sizes. */
  private def tS(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.loadSpread(spark, dir, name)

  // ---------------------------------------------------------------- relational

  /** Pricing-summary aggregation (grouped agg with partial/map-side combine). */
  val q1PricingAgg: GraftQuery = GraftQuery(
    "q1_pricing_agg",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some("""SELECT l_returnflag, l_linestatus,
            round(sum(l_quantity),2) AS sum_qty,
            round(sum(l_extendedprice),2) AS sum_base_price,
            round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
            round(avg(l_quantity),4) AS avg_qty,
            round(avg(l_discount),4) AS avg_disc,
            count(*) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus"""))

  /** Multi-way join + grouped agg + top-k: revenue per nation.
    * nation/region are broadcast (tiny dims); customer/orders/lineitem join
    * on their natural keys — at cluster scale AQE picks shuffle strategy.
    */
  val q2TopkJoin: GraftQuery = GraftQuery(
    "q2_revenue_by_nation",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("n_name"))
        .limit(10)
    },
    Some("""SELECT n_name, round(sum(l_extendedprice*(1-l_discount)),2) AS revenue,
            count(*) AS n_items
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name ORDER BY revenue DESC, n_name LIMIT 10"""))

  /** Predicate-pushdown scan (TPC-H Q6 shape): filters must reach parquet. */
  val q3FilterPushdown: GraftQuery = GraftQuery(
    "q3_filter_pushdown",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      li.where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
          count(lit(1)).as("n_rows"))
    },
    Some("""SELECT round(sum(l_extendedprice*l_discount),2) AS revenue, count(*) AS n_rows
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
            AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"""))

  /** Window function: top-3 orders per customer (row_number dedup pattern —
    * the rewrite of the reference's recursive-CTE best-chunk-per-document,
    * search_query_builder.rs:111-187).
    */
  val q4WindowTopn: GraftQuery = GraftQuery(
    "q4_window_topn",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      o.withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), round(col("o_totalprice"), 2).as("price"), col("rn"))
        .orderBy(col("o_custkey"), col("rn"))
    },
    Some("""SELECT o_custkey, o_orderkey, round(o_totalprice,2) AS price, rn FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC, o_orderkey) AS rn
              FROM orders) WHERE rn <= 3
            ORDER BY o_custkey, rn"""))

  /** Keyset pagination (collection.rs:776-829: id > last_row_id ORDER BY id LIMIT n). */
  val q5KeysetPage: GraftQuery = GraftQuery(
    "q5_keyset_page",
    (s, dir) =>
      t(s, dir, "documents")
        .where(col("doc_id") > 100)
        .orderBy(col("doc_id"))
        .limit(50)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars")),
    Some("""SELECT doc_id, lang, source, n_chars FROM documents
            WHERE doc_id > 100 ORDER BY doc_id LIMIT 50"""))

  /** Anti join: customers with no orders (NOT EXISTS shape). */
  val q6AntiJoin: GraftQuery = GraftQuery(
    "q6_anti_join",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o.where(col("o_orderstatus") === "F"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
            ORDER BY c_custkey"""))

  /** Semi join: parts that appear in any lineitem (EXISTS shape). */
  val q7SemiJoin: GraftQuery = GraftQuery(
    "q7_semi_join",
    (s, dir) => {
      val p = t(s, dir, "part")
      val li = t(s, dir, "lineitem")
      p.join(li, col("p_partkey") === col("l_partkey"), "left_semi")
        .select(col("p_partkey"), col("p_brand"))
        .orderBy(col("p_partkey"))
    },
    Some("""SELECT p_partkey, p_brand FROM part
            WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
            ORDER BY p_partkey"""))

  /** Tumbling-window event aggregation (batch form of the Structured
    * Streaming windowed agg; `window()` aligns to epoch = date_trunc hour).
    */
  val q8EventsHourly: GraftQuery = GraftQuery(
    "q8_events_hourly",
    (s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), (round(sum("value"), 4) + lit(0.0)).as("sum_value"))
        .select(col("w.start").as("hour_start"), col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("hour_start"), col("event_type")),
    Some("""SELECT date_trunc('hour', ts) AS hour_start, event_type,
            count(*) AS n, round(sum(value),4) + 0.0 AS sum_value
            FROM events GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** JSON extraction from a string column (jsonb-style metadata access,
    * filter_builder.rs semantics are tested separately).
    */
  val q9JsonExtract: GraftQuery = GraftQuery(
    "q9_json_extract",
    (s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .where(col("k") > 50)
        .orderBy(col("event_id")),
    Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
            FROM events WHERE CAST(json_extract_string(props, '$.k') AS INT) > 50
            ORDER BY event_id"""))

  /** Union + distinct across sources (set-op surface, §2.7). */
  val q10Union: GraftQuery = GraftQuery(
    "q10_union",
    (s, dir) => {
      val e = t(s, dir, "events")
      val hi = e.where(col("value") > 50).select(col("user_id"))
      val lo = e.where(col("event_type") === "purchase").select(col("user_id"))
      hi.union(lo).distinct().orderBy(col("user_id"))
    },
    Some("""SELECT DISTINCT user_id FROM (
              SELECT user_id FROM events WHERE value > 50
              UNION ALL
              SELECT user_id FROM events WHERE event_type = 'purchase')
            ORDER BY user_id"""))

  // ---------------------------------------------------------------- vector

  /** Brute-force exact KNN: top-10 cosine to the vec_id=0 embedding.
    * Plan: pruned parquet scan → codegen cosine → TakeOrderedAndProject
    * (no shuffle; per-partition k-heaps merged on the driver).
    */
  val v1KnnCosine: GraftQuery = GraftQuery(
    "v1_knn_cosine",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      import s.implicits._
      val q = emb.where(col("vec_id") === 0).select("embedding").as[Array[Float]].head()
      VectorSearch.topK(emb, "embedding", q, 10, Seq("vec_id"))
        .select(col("vec_id"), round(col("score"), 5).as("score"))
    },
    Some("""SELECT vec_id,
            round(CAST(list_cosine_similarity(embedding,
              (SELECT embedding FROM embeddings WHERE vec_id = 0)) AS DOUBLE),5) AS score
            FROM embeddings
            ORDER BY list_cosine_similarity(embedding,
              (SELECT embedding FROM embeddings WHERE vec_id = 0)) DESC, vec_id
            LIMIT 10"""))

  /** Grouped elementwise vector aggregate (pgml.sum / divide idiom →
    * mean vector per label), flattened to (label, pos, val) for the oracle.
    */
  val v2VecAvgByLabel: GraftQuery = GraftQuery(
    "v2_vec_avg_by_label",
    (s, dir) =>
      t(s, dir, "embeddings")
        .groupBy(col("label"))
        .agg(vecAvgAgg(col("embedding")).as("avg_vec"))
        .select(col("label"), posexplode(col("avg_vec")).as(Seq("pos", "v")))
        // + 0.0 canonicalizes rounded -0.0 (see v26) — per-label element
        // means cross zero by construction.
        .select(col("label"), col("pos"), (round(col("v"), 5) + lit(0.0)).as("val"))
        .orderBy(col("label"), col("pos")),
    Some("""SELECT label, CAST(i - 1 AS INT) AS pos, round(avg(embedding[CAST(i AS INT)]),5) + 0.0 AS val
            FROM embeddings, range(1, 65) t(i)
            GROUP BY label, i ORDER BY label, pos"""))

  /** Vector norms surface (norm_l1/l2 + dot with self). */
  val v3VecNorms: GraftQuery = GraftQuery(
    "v3_vec_norms",
    (s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          round(vecNormL1(col("embedding")), 5).as("n1"),
          round(vecNormL2(col("embedding")), 5).as("n2"),
          round(vecDot(col("embedding"), col("embedding")), 5).as("self_dot"))
        .orderBy(col("vec_id")),
    Some("""SELECT vec_id,
            round(list_aggregate(list_transform(embedding, x -> abs(x)), 'sum'),5) AS n1,
            round(sqrt(list_dot_product(embedding, embedding)),5) AS n2,
            round(list_dot_product(embedding, embedding),5) AS self_dot
            FROM embeddings ORDER BY vec_id"""))

  /** Batch KNN: top-5 per query for 10 broadcast query vectors — the
    * many-queries shape (cross score partition-locally, window top-k; one
    * shuffle on query_id only).
    */
  val v4KnnBatch: GraftQuery = GraftQuery(
    "v4_knn_batch",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      VectorSearch.topKBatch(emb, "embedding", queries, 5, Seq("vec_id"))
        .select(col("query_id"), col("vec_id"), round(col("score"), 5).as("score"), col("rn"))
        .orderBy(col("query_id"), col("rn"))
    },
    Some("""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10)
            SELECT qid AS query_id, vec_id,
              round(CAST(list_cosine_similarity(embedding, qe) AS DOUBLE), 5) AS score,
              CAST(rn AS INT) AS rn
            FROM (SELECT q.qid, e.vec_id, e.embedding, q.qe,
                    row_number() OVER (PARTITION BY q.qid
                      ORDER BY list_cosine_similarity(e.embedding, q.qe) DESC, e.vec_id) AS rn
                  FROM embeddings e, q)
            WHERE rn <= 5 ORDER BY query_id, rn"""))

  /** IVF-pruned ANN (scale path): exact within nprobe probed clusters.
    * Assignment depends on KMeans init → rows-only; recall contract tested
    * in IvfSpec.
    */
  val v5KnnIvf: GraftQuery = GraftQuery(
    "v5_knn_ivf",
    (s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") === 0).select("embedding").as[Array[Float]].head()
      // persisted path: first session builds + saves; later sessions load and
      // probe only nprobe/nlist of the cluster_id=… directories
      val idx = graft.operators.IvfIndex.serveOrBuild(
        s, s"$dir/embeddings.parquet", emb, "embedding", nlist = 16)
      idx.search(q, 10, nprobe = 4, Seq("vec_id"))
        .select(col("vec_id"), round(col("score"), 5).as("score"))
    },
    None,
    // the pruned probe is deterministic GIVEN the index; the oracle inlines
    // the served index's centroids per scale factor and replays probe
    // selection → spill membership → exact top-k (see V5OracleSql)
    oracleGen = Some((s, dir) => V5OracleSql.sql(s, dir)))

  /** IVF probing ALL clusters (nprobe = nlist): partition pruning admits
    * every partition, so the result must equal exact KNN — this puts the
    * whole IVF build/assign/probe machinery behind the DuckDB gate (the
    * pruned-recall contract stays in IvfSpec and v5).
    */
  val v7KnnIvfFull: GraftQuery = GraftQuery(
    "v7_knn_ivf_full",
    (s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") === 7).select("embedding").as[Array[Float]].head()
      val idx = graft.operators.IvfIndex.serveOrBuild(
        s, s"$dir/embeddings.parquet", emb, "embedding", nlist = 16)
      idx.search(q, 10, nprobe = 16, Seq("vec_id"))
        .select(col("vec_id"), round(col("score"), 5).as("score"))
    },
    Some("""SELECT vec_id,
            round(CAST(list_cosine_similarity(embedding,
              (SELECT embedding FROM embeddings WHERE vec_id = 7)) AS DOUBLE),5) AS score
            FROM embeddings
            ORDER BY list_cosine_similarity(embedding,
              (SELECT embedding FROM embeddings WHERE vec_id = 7)) DESC, vec_id
            LIMIT 10"""))

  /** Pure-SQL surface (Builtins.query escape hatch, builtins.rs:51): the
    * same KNN expressed entirely in spark.sql over registered views and
    * graft-registered SQL functions.
    */
  val v6SqlSurface: GraftQuery = GraftQuery(
    "v6_sql_surface",
    (s, dir) => {
      graft.functions.VecFunctions.registerAll(s)
      Tables.load(s, dir, "embeddings").createOrReplaceTempView("embeddings_v")
      s.sql("""
        SELECT vec_id,
               round(cosine_similarity(embedding,
                 (SELECT embedding FROM embeddings_v WHERE vec_id = 42)), 5) AS score
        FROM embeddings_v
        ORDER BY cosine_similarity(embedding,
          (SELECT embedding FROM embeddings_v WHERE vec_id = 42)) DESC, vec_id
        LIMIT 10""")
    },
    Some("""SELECT vec_id,
            round(CAST(list_cosine_similarity(embedding,
              (SELECT embedding FROM embeddings WHERE vec_id = 42)) AS DOUBLE), 5) AS score
            FROM embeddings
            ORDER BY list_cosine_similarity(embedding,
              (SELECT embedding FROM embeddings WHERE vec_id = 42)) DESC, vec_id
            LIMIT 10"""))

  // ---------------------------------------------------------------- text / docs

  /** Exact deduplication: representative (min id) + duplicate count per
    * identical text (hash-groupBy; at scale this groups on a 128-bit text
    * hash rather than the full text — same result, smaller shuffle).
    */
  val t1DedupExact: GraftQuery = GraftQuery(
    "t1_dedup_exact",
    (s, dir) =>
      t(s, dir, "documents")
        .groupBy(md5(col("text")))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("dup_count"))
        .select(col("doc_id"), col("dup_count"))
        .orderBy(col("doc_id")),
    Some("""SELECT min(doc_id) AS doc_id, count(*) AS dup_count
            FROM documents GROUP BY md5(text) ORDER BY doc_id"""))

  /** Token / length stats per document (whitespace tokenization) — runs
    * the allocation-free TokenCount kernel, so this oracle gates the
    * kernel's split-equivalence on the real corpus. */
  val t2TokenStats: GraftQuery = GraftQuery(
    "t2_token_stats",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          length(col("text")).as("n_chars_text"),
          graft.functions.TextFunctions.tokenCount(col("text")).as("n_tokens"))
        .orderBy(col("doc_id")),
    Some("""SELECT doc_id, length(text) AS n_chars_text,
            len(string_split_regex(trim(text), '\s+')) AS n_tokens
            FROM documents ORDER BY doc_id"""))

  /** Quality scoring for corpus filtering — formula mirrored exactly in the
    * oracle (same operation order → bit-identical doubles).
    */
  val t3QualityScore: GraftQuery = GraftQuery(
    "t3_quality_score",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
            round(least(length(text)/200.0, 1.0)*0.4
              + CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
                / greatest(CAST(length(text) AS DOUBLE), 1.0)*0.4
              + least(CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                  x -> list_contains(['the','a','of','and','to','in','is','it','that','for'], x))) AS DOUBLE)
                / greatest(CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE), 1.0)
                * 5.0, 1.0)*0.2, 5) AS quality
            FROM documents ORDER BY doc_id"""))

  /** BPE-ish token counting (GPT-2 pre-tokenizer shape, regex-only). */
  val t4BpeishCount: GraftQuery = GraftQuery(
    "t4_bpeish_token_count",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.bpeishTokenCount(col("text")).as("n_bpeish"))
        .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
            len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS n_bpeish
            FROM documents ORDER BY doc_id"""))

  /** Language identification (stopword-profile heuristic). The kernel
    * ranks languages by stopword hits with a lexicographic tie-break, so
    * the per-doc argmax is exactly expressible in SQL (the shared
    * denominator cancels — ranking by hit count is identical).
    */
  val t5LangId: GraftQuery = GraftQuery(
    "t5_lang_id",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.langId(col("text")).as("pred_lang"))
        .groupBy(col("pred_lang")).agg(count(lit(1)).as("n"))
        .orderBy(col("pred_lang")),
    Some("""WITH tk AS (SELECT doc_id,
              string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
            sc AS (
              SELECT doc_id, 'de' AS lang, len(list_filter(toks, x -> list_contains(
                ['der','die','das','und','ist','nicht','ein','eine','zu','mit','auf','für'], x))) AS hits FROM tk
              UNION ALL SELECT doc_id, 'en', len(list_filter(toks, x -> list_contains(
                ['the','a','of','and','to','in','is','it','that','for','on','with','as','was'], x))) FROM tk
              UNION ALL SELECT doc_id, 'es', len(list_filter(toks, x -> list_contains(
                ['el','la','de','y','que','en','un','una','es','no','con','por','para'], x))) FROM tk
              UNION ALL SELECT doc_id, 'fr', len(list_filter(toks, x -> list_contains(
                ['le','la','de','et','est','un','une','que','pour','dans','sur','avec'], x))) FROM tk
              UNION ALL SELECT doc_id, 'zh', len(list_filter(toks, x -> list_contains(
                ['的','是','了','在','和','有','我','不','这','他'], x))) FROM tk),
            pred AS (SELECT doc_id,
              CASE WHEN hits > 0 THEN lang ELSE 'und' END AS pred_lang,
              row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang) AS rn FROM sc)
            SELECT pred_lang, count(*) AS n FROM pred WHERE rn = 1
            GROUP BY pred_lang ORDER BY pred_lang"""))

  /** Winnowing fingerprints (Schleimer et al.): per-doc fingerprint set
    * size + first hash. ORACLED: the rolling-FNV + window-min + signed-sort
    * pipeline replays in DuckDB (T6OracleSql) — the rightmost-min
    * tie-break only affects indices, never the published value set.
    */
  val t6Fingerprint: GraftQuery = GraftQuery(
    "t6_fingerprint",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.winnowFingerprint(col("text"), 8, 4).as("fp"))
        .select(col("doc_id"), size(col("fp")).cast("long").as("fp_size"),
          element_at(col("fp"), 1).as("fp_first"))
        .orderBy(col("doc_id")),
    Some(T6OracleSql.sql))

  /** Composed corpus curation (operators/Corpus.curate): language gate →
    * quality gate → exact dedup keep-min-id → per-doc stats as ONE fused
    * pipeline — the gates run inside the scan stage, the dedup window is
    * the only shuffle and sees only survivors. The oracle replays all four
    * stages (the t5/t3/t1/t2 kernel replays composed end-to-end).
    */
  val c1CorpusCurate: GraftQuery = GraftQuery(
    "c1_corpus_curate",
    (s, dir) =>
      graft.operators.Corpus.curate(t(s, dir, "documents"), "doc_id", "text",
          lang = "en", minQuality = 0.3)
        .orderBy(col("doc_id")),
    Some("""WITH tk AS (SELECT doc_id,
              string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
            sc AS (
              SELECT doc_id, 'de' AS lang, len(list_filter(toks, x -> list_contains(
                ['der','die','das','und','ist','nicht','ein','eine','zu','mit','auf','für'], x))) AS hits FROM tk
              UNION ALL SELECT doc_id, 'en', len(list_filter(toks, x -> list_contains(
                ['the','a','of','and','to','in','is','it','that','for','on','with','as','was'], x))) FROM tk
              UNION ALL SELECT doc_id, 'es', len(list_filter(toks, x -> list_contains(
                ['el','la','de','y','que','en','un','una','es','no','con','por','para'], x))) FROM tk
              UNION ALL SELECT doc_id, 'fr', len(list_filter(toks, x -> list_contains(
                ['le','la','de','et','est','un','une','que','pour','dans','sur','avec'], x))) FROM tk
              UNION ALL SELECT doc_id, 'zh', len(list_filter(toks, x -> list_contains(
                ['的','是','了','在','和','有','我','不','这','他'], x))) FROM tk),
            pred AS (SELECT doc_id,
              CASE WHEN hits > 0 THEN lang ELSE 'und' END AS pred_lang,
              row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang) AS rn FROM sc),
            langd AS (SELECT doc_id FROM pred WHERE rn = 1 AND pred_lang = 'en'),
            qual AS (SELECT doc_id,
              round(least(length(text)/200.0, 1.0)*0.4
                + CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
                  / greatest(CAST(length(text) AS DOUBLE), 1.0)*0.4
                + least(CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                    x -> list_contains(['the','a','of','and','to','in','is','it','that','for'], x))) AS DOUBLE)
                  / greatest(CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE), 1.0)
                  * 5.0, 1.0)*0.2, 5) AS quality
              FROM documents),
            gated AS (SELECT d.doc_id, d.text, q.quality FROM documents d
              JOIN langd USING (doc_id) JOIN qual q USING (doc_id)
              WHERE q.quality >= 0.3),
            keep AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(text))
            SELECT g.doc_id, 'en' AS lang, g.quality,
              len(string_split_regex(trim(g.text), '\s+')) AS n_tokens,
              len(regexp_extract_all(g.text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS n_bpeish
            FROM gated g JOIN keep USING (doc_id)
            ORDER BY g.doc_id"""))

  /** Curation with the near-dup stage enabled (the full pretraining front
    * door: lang gate → quality gate → exact dedup → MinHash near-dedup →
    * stats). Oracle composes the c1 gate/dedup replay with the d4
    * recursive-closure keep-one replay over the mechanism-replayed LSH
    * pair graph of the gated survivors ([[LshOracleSql]]).
    */
  val c2CorpusCurateNearDup: GraftQuery = GraftQuery(
    "c2_corpus_curate_neardup",
    (s, dir) =>
      graft.operators.Corpus.curate(t(s, dir, "documents"), "doc_id", "text",
          lang = "en", minQuality = 0.3, nearDupThreshold = Some(0.9))
        .orderBy(col("doc_id")),
    Some("""WITH RECURSIVE tk AS (SELECT doc_id,
              string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
            sc AS (
              SELECT doc_id, 'de' AS lang, len(list_filter(toks, x -> list_contains(
                ['der','die','das','und','ist','nicht','ein','eine','zu','mit','auf','für'], x))) AS hits FROM tk
              UNION ALL SELECT doc_id, 'en', len(list_filter(toks, x -> list_contains(
                ['the','a','of','and','to','in','is','it','that','for','on','with','as','was'], x))) FROM tk
              UNION ALL SELECT doc_id, 'es', len(list_filter(toks, x -> list_contains(
                ['el','la','de','y','que','en','un','una','es','no','con','por','para'], x))) FROM tk
              UNION ALL SELECT doc_id, 'fr', len(list_filter(toks, x -> list_contains(
                ['le','la','de','et','est','un','une','que','pour','dans','sur','avec'], x))) FROM tk
              UNION ALL SELECT doc_id, 'zh', len(list_filter(toks, x -> list_contains(
                ['的','是','了','在','和','有','我','不','这','他'], x))) FROM tk),
            pred AS (SELECT doc_id,
              CASE WHEN hits > 0 THEN lang ELSE 'und' END AS pred_lang,
              row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang) AS rn FROM sc),
            langd AS (SELECT doc_id FROM pred WHERE rn = 1 AND pred_lang = 'en'),
            qual AS (SELECT doc_id,
              round(least(length(text)/200.0, 1.0)*0.4
                + CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
                  / greatest(CAST(length(text) AS DOUBLE), 1.0)*0.4
                + least(CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                    x -> list_contains(['the','a','of','and','to','in','is','it','that','for'], x))) AS DOUBLE)
                  / greatest(CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE), 1.0)
                  * 5.0, 1.0)*0.2, 5) AS quality
              FROM documents),
            gated AS (SELECT d.doc_id, d.text, q.quality FROM documents d
              JOIN langd USING (doc_id) JOIN qual q USING (doc_id)
              WHERE q.quality >= 0.3),
            keep AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(text)),
            ek AS (SELECT g.doc_id, g.text, g.quality FROM gated g JOIN keep USING (doc_id)),
            tk2 AS (SELECT doc_id,
              list_distinct(string_split_regex(trim(lower(text)), '\s+')) AS toks FROM ek),
            """ + LshOracleSql.ctes("tk2", 0.9) + """,
            e AS (SELECT ia, ib FROM lsh_pairs),
            sym AS (SELECT ia AS a, ib AS b FROM e
                    UNION ALL SELECT ib, ia FROM e),
            reach(id, r) AS (
              SELECT a, a FROM sym
              UNION
              SELECT s.a, reach.r FROM sym s JOIN reach ON s.b = reach.id),
            dropped AS (SELECT id FROM (
              SELECT id, min(r) AS g FROM reach GROUP BY id) WHERE id <> g)
            SELECT ek.doc_id, 'en' AS lang, ek.quality,
              len(string_split_regex(trim(ek.text), '\s+')) AS n_tokens,
              len(regexp_extract_all(ek.text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS n_bpeish
            FROM ek
            WHERE ek.doc_id NOT IN (SELECT id FROM dropped)
            ORDER BY ek.doc_id"""))

  /** Gopher quality rules (t11): the Rae et al. 2021 §A1.1 heuristics over
    * a corpus with deterministically planted bullets / ellipses / symbol
    * words (the raw corpus exercises only the word-count, mean-length and
    * stop-word rules). Every statistic plus the composite keep goes
    * through the hash gate.
    */
  val t11GopherRules: GraftQuery = GraftQuery(
    "t11_gopher_rules",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val synth = docs.select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 5 === 0,
            lit("\n- a bullet item\n- another bullet here")).otherwise(lit("")),
          when(col("doc_id") % 4 === 0,
            lit("\nthis line trails off...")).otherwise(lit("")),
          when(col("doc_id") % 6 === 0,
            lit(" ## ### #tags")).otherwise(lit(""))).as("text"))
      graft.operators.Corpus.gopherRules(synth, "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    Some {
      val stops = graft.operators.Corpus.gopherStopWords
        .map(sw => s"(CASE WHEN list_contains(lw, '$sw') THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH synth AS (SELECT doc_id, text ||
            (CASE WHEN doc_id % 5 = 0
              THEN chr(10) || '- a bullet item' || chr(10) || '- another bullet here'
              ELSE '' END) ||
            (CASE WHEN doc_id % 4 = 0
              THEN chr(10) || 'this line trails off...' ELSE '' END) ||
            (CASE WHEN doc_id % 6 = 0 THEN ' ## ### #tags' ELSE '' END) AS text
          FROM documents),
          w AS (SELECT doc_id, text,
              list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS words,
              string_split_regex(text, '\\r?\\n') AS lines
            FROM synth),
          st AS (SELECT doc_id,
              len(words) AS n_words,
              round(CAST(list_sum(list_transform(words, x -> length(x))) AS DOUBLE)
                / greatest(CAST(len(words) AS DOUBLE), 1.0), 5) AS mean_word_len,
              round(CAST(len(list_filter(words, x ->
                  contains(x, '#') OR contains(x, '...'))) AS DOUBLE)
                / greatest(CAST(len(words) AS DOUBLE), 1.0), 5) AS symbol_ratio,
              round(CAST(len(list_filter(words, x ->
                  regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                / greatest(CAST(len(words) AS DOUBLE), 1.0), 5) AS alpha_word_frac,
              round(CAST(len(list_filter(lines, l ->
                  starts_with(ltrim(l), '•') OR starts_with(ltrim(l), '- ')
                  OR starts_with(ltrim(l), '* '))) AS DOUBLE)
                / greatest(CAST(len(lines) AS DOUBLE), 1.0), 5) AS bullet_line_frac,
              round(CAST(len(list_filter(lines, l ->
                  right(rtrim(l), 3) = '...' OR right(rtrim(l), 1) = '…')) AS DOUBLE)
                / greatest(CAST(len(lines) AS DOUBLE), 1.0), 5) AS ellipsis_line_frac,
              (SELECT $stops FROM (SELECT list_transform(words, x -> lower(x)) AS lw))
                AS n_stop_hits
            FROM w)
          SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, mean_word_len,
            symbol_ratio, alpha_word_frac, bullet_line_frac, ellipsis_line_frac,
            CAST(n_stop_hits AS BIGINT) AS n_stop_hits,
            (n_words >= 50 AND n_words <= 100000
              AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
              AND symbol_ratio <= 0.1
              AND bullet_line_frac <= 0.9 AND ellipsis_line_frac <= 0.3
              AND alpha_word_frac >= 0.8 AND n_stop_hits >= 2) AS keep
          FROM st ORDER BY doc_id"""
    })

  /** Incremental dedup against an existing corpus (d6): Bloom-prefiltered
    * exact membership — the corpus folds to a broadcast sketch, the batch
    * probes map-side, only bloom-positives reach the exact verify join.
    * The RESULT is exact (false positives removed by the semi-join), so
    * the oracle is the plain hash membership join — filter internals
    * (seed, fpp) cannot leak into the output.
    */
  val d6DedupAgainst: GraftQuery = GraftQuery(
    "d6_dedup_against",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.exactAgainst(
          docs.where(col("doc_id") % 10 < 6), docs, "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    Some("""WITH corpus AS (SELECT DISTINCT md5(text) AS h FROM documents
              WHERE doc_id % 10 < 6),
            b AS (SELECT doc_id, md5(text) AS h FROM documents)
            SELECT b.doc_id, (corpus.h IS NOT NULL) AS is_dup
            FROM b LEFT JOIN corpus ON b.h = corpus.h
            ORDER BY b.doc_id"""))

  /** Benchmark decontamination: drop corpus docs sharing any 8-token
    * window with the (synthetic stand-in) benchmark set — the eval-leakage
    * gate. Oracle replays tokenization → n-gram windows → semi-join →
    * anti-join on raw gram strings.
    */
  val d5Decontaminate: GraftQuery = GraftQuery(
    "d5_decontaminate",
    (s, dir) => {
      val docs = tS(s, dir, "documents")
      graft.operators.Corpus.decontaminate(
          docs, "doc_id", "text",
          docs.where(col("doc_id") % 97 === 0), "text", n = 8)
        .select(col("doc_id")).orderBy(col("doc_id"))
    },
    Some("""WITH tk AS (SELECT doc_id,
              string_split_regex(trim(lower(text)), '\s+') AS t FROM documents),
            g AS (SELECT doc_id, unnest(
                CASE WHEN len(t) >= 8
                     THEN list_transform(range(1, len(t) - 6), i -> array_to_string(t[i:i+7], ' '))
                     ELSE [] END) AS gram FROM tk),
            bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
            hit AS (SELECT DISTINCT g.doc_id FROM g JOIN bg USING (gram))
            SELECT doc_id FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM hit)
            ORDER BY doc_id"""))

  /** Concat-and-chunk sequence packing (GPT-style loader layout): stripe
    * by id, running token cumsum per stripe, pack = the fixed-budget chunk
    * the document's first token lands in. Oracle = the same window cumsum
    * in SQL — exact integer math end to end.
    */
  val t7PackSequences: GraftQuery = GraftQuery(
    "t7_pack_sequences",
    (s, dir) =>
      graft.operators.Corpus.packSequences(
          t(s, dir, "documents"), "doc_id", "text", budget = 512, stripes = 8)
        .orderBy(col("doc_id")),
    Some("""WITH tk AS (SELECT doc_id, CAST(doc_id % 8 AS INT) AS stripe,
              CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
              FROM documents),
            c AS (SELECT doc_id, stripe, n_tokens,
              COALESCE(sum(n_tokens) OVER (PARTITION BY stripe ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_start
              FROM tk)
            SELECT doc_id, stripe, CAST(tok_start // 512 AS BIGINT) AS pack_id,
              n_tokens, CAST(tok_start AS BIGINT) AS tok_start
            FROM c ORDER BY doc_id"""))

  /** Gopher-style repetition stats (duplicate-n-gram fractions): the
    * boilerplate/spam gate run alongside the heuristic quality score.
    * Oracle = the same gram construction + distinct-count arithmetic in
    * DuckDB list SQL — exact integer counts, identical IEEE division.
    */
  val t8RepetitionStats: GraftQuery = GraftQuery(
    "t8_repetition_stats",
    (s, dir) =>
      graft.operators.Corpus.repetitionStats(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
    Some("""WITH tk AS (SELECT doc_id,
              string_split_regex(trim(lower(text)), '\s+') AS t FROM documents),
            g AS (SELECT doc_id, t,
              CASE WHEN len(t) >= 2
                   THEN list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' '))
                   ELSE [] END AS g2,
              CASE WHEN len(t) >= 3
                   THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
                   ELSE [] END AS g3
              FROM tk)
            SELECT doc_id, CAST(len(t) AS INT) AS n_tokens,
              CASE WHEN len(g2) > 0
                   THEN round((len(g2) - len(list_distinct(g2))) / CAST(len(g2) AS DOUBLE), 5)
                   ELSE 0.0 END AS dup2_frac,
              CASE WHEN len(g3) > 0
                   THEN round((len(g3) - len(list_distinct(g3))) / CAST(len(g3) AS DOUBLE), 5)
                   ELSE 0.0 END AS dup3_frac
            FROM g ORDER BY doc_id"""))

  /** Deterministic per-source mixture sampling (domain reweighting). The
    * keep rule is a pure hash of (id, seed), so the oracle replays it
    * exactly: splitmix64 in HUGEINT limb math, top-24-bit threshold per
    * source (C3OracleSql shares the ⌊w·2²⁴⌋ threshold computation with
    * the operator's own math).
    */
  val c3SampleMixture: GraftQuery = GraftQuery(
    "c3_sample_mixture",
    (s, dir) =>
      graft.operators.Corpus.sampleMixture(
          t(s, dir, "documents"), "doc_id", "source",
          C3OracleSql.weights, C3OracleSql.defaultWeight, C3OracleSql.seed)
        .select(col("doc_id"), col("source")).orderBy(col("doc_id")),
    Some(C3OracleSql.sql))

  /** Batch-mode run of the STREAMING curation operator (the x2 pattern:
    * one logical operator over both modes, oracled through its batch
    * semantics). dropDuplicates keeps an arbitrary representative per
    * text, so the query projects the text-keyed DETERMINISTIC profile
    * (md5, lang, quality, dup3_frac, n_tokens); the oracle composes the
    * c1 gate replays with the t8 repetition arithmetic and a DISTINCT
    * per text hash.
    */
  val c4CurateStream: GraftQuery = GraftQuery(
    "c4_curate_stream",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("ts", to_timestamp(lit("2026-01-01 00:00:00")))
      graft.operators.Corpus.curateStream(docs, "doc_id", "text", "ts",
          lang = "en", minQuality = 0.3, maxDup3 = 0.9)
        .join(docs.select(col("doc_id"), md5(col("text")).as("text_md5")), Seq("doc_id"))
        .select(col("text_md5"), col("lang"), col("quality"),
          col("dup3_frac"), col("n_tokens"))
        .orderBy(col("text_md5"))
    },
    Some("""WITH tk AS (SELECT doc_id,
              string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
            sc AS (
              SELECT doc_id, 'de' AS lang, len(list_filter(toks, x -> list_contains(
                ['der','die','das','und','ist','nicht','ein','eine','zu','mit','auf','für'], x))) AS hits FROM tk
              UNION ALL SELECT doc_id, 'en', len(list_filter(toks, x -> list_contains(
                ['the','a','of','and','to','in','is','it','that','for','on','with','as','was'], x))) FROM tk
              UNION ALL SELECT doc_id, 'es', len(list_filter(toks, x -> list_contains(
                ['el','la','de','y','que','en','un','una','es','no','con','por','para'], x))) FROM tk
              UNION ALL SELECT doc_id, 'fr', len(list_filter(toks, x -> list_contains(
                ['le','la','de','et','est','un','une','que','pour','dans','sur','avec'], x))) FROM tk
              UNION ALL SELECT doc_id, 'zh', len(list_filter(toks, x -> list_contains(
                ['的','是','了','在','和','有','我','不','这','他'], x))) FROM tk),
            pred AS (SELECT doc_id,
              CASE WHEN hits > 0 THEN lang ELSE 'und' END AS pred_lang,
              row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang) AS rn FROM sc),
            langd AS (SELECT doc_id FROM pred WHERE rn = 1 AND pred_lang = 'en'),
            qual AS (SELECT doc_id,
              round(least(length(text)/200.0, 1.0)*0.4
                + CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
                  / greatest(CAST(length(text) AS DOUBLE), 1.0)*0.4
                + least(CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                    x -> list_contains(['the','a','of','and','to','in','is','it','that','for'], x))) AS DOUBLE)
                  / greatest(CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE), 1.0)
                  * 5.0, 1.0)*0.2, 5) AS quality
              FROM documents),
            rep AS (SELECT doc_id,
              CASE WHEN len(toks) >= 3
                   THEN round((len(toks) - 2 - len(list_distinct(
                          list_transform(range(1, len(toks) - 1),
                            i -> array_to_string(toks[i:i+2], ' ')))))
                        / CAST(len(toks) - 2 AS DOUBLE), 5)
                   ELSE 0.0 END AS dup3_frac
              FROM tk),
            gated AS (SELECT d.doc_id, d.text, q.quality, r.dup3_frac,
                CAST(len(string_split_regex(trim(d.text), '\s+')) AS INT) AS n_tokens
              FROM documents d
              JOIN langd USING (doc_id) JOIN qual q USING (doc_id)
              JOIN rep r USING (doc_id)
              WHERE q.quality >= 0.3 AND r.dup3_frac <= 0.9)
            SELECT DISTINCT md5(text) AS text_md5, 'en' AS lang, quality,
              dup3_frac, n_tokens
            FROM gated ORDER BY text_md5"""))

  /** Deterministic train/val/test split assignment: the c3 hash draw
    * bucketed by cumulative thresholds (C5OracleSql shares the threshold
    * arithmetic with the operator).
    */
  val c5AssignSplits: GraftQuery = GraftQuery(
    "c5_assign_splits",
    (s, dir) =>
      graft.operators.Corpus.assignSplits(
          t(s, dir, "documents"), "doc_id", C5OracleSql.splits, C5OracleSql.seed)
        .select(col("doc_id"), col("split")).orderBy(col("doc_id")),
    Some(C5OracleSql.sql))

  /** Temperature-α domain reweighting (mC4/XLM-R p_i ∝ n_i^α), rates
    * LEARNED from per-domain counts. α pinned at 0.5 so the oracle's
    * independent sqrt∘division threshold recomputation is bit-exact
    * (C12OracleSql — counts, rates, thresholds, and draw all replayed
    * from scratch in SQL; nothing shared with the operator). Sources
    * fold into skewed head/mid/tail tiers first (~7:2:1) so the rates
    * are genuinely fractional — the corpus's raw sources are uniform,
    * which would make every rate 1 and the gate vacuous.
    */
  val c12TemperatureMixture: GraftQuery = GraftQuery(
    "c12_temperature_mixture",
    (s, dir) =>
      graft.operators.Corpus.temperatureMixture(
          t(s, dir, "documents").withColumn("domain",
            when(col("source").isin(C12OracleSql.headSrcs: _*), "head")
              .when(col("source").isin(C12OracleSql.midSrcs: _*), "mid")
              .otherwise("tail")),
          "doc_id", "domain",
          C12OracleSql.alpha, C12OracleSql.seed)
        .select(col("doc_id"), col("domain")).orderBy(col("doc_id")),
    Some(C12OracleSql.sql))

  /** Token-budget mixture selection: per skewed domain tier, take
    * documents in seeded-draw order until the tier's TOKEN budget is
    * exhausted (head/mid budgets bind; tail rides the uncapped default).
    * The operator's order-preserving striped prefix sum is oracled
    * against the NAIVE global per-domain window in DuckDB — the oracle
    * IS the distributed-mechanism ≡ sequential-semantics proof, in pure
    * integer arithmetic (C13OracleSql).
    */
  val c13TokenBudget: GraftQuery = GraftQuery(
    "c13_token_budget",
    (s, dir) =>
      graft.operators.Corpus.tokenBudgetMixture(
          t(s, dir, "documents").withColumn("domain",
            when(col("source").isin(C12OracleSql.headSrcs: _*), "head")
              .when(col("source").isin(C12OracleSql.midSrcs: _*), "mid")
              .otherwise("tail")),
          "doc_id", "text", "domain",
          C13OracleSql.budgets, seed = C13OracleSql.seed)
        .orderBy(col("doc_id")),
    Some(C13OracleSql.sql))

  /** The full deterministic sampling pipeline chained under ONE user
    * seed: mixture sample → split assignment → keep train → epoch
    * shuffle-to-shards. Gates the hash-family INTERACTION design (each
    * stage draws from a distinct tagged family so chaining under one
    * seed stays independent); the oracle composes all three draw replays
    * in one WITH clause (C14OracleSql).
    */
  val c14PipelineCompose: GraftQuery = GraftQuery(
    "c14_pipeline_compose",
    (s, dir) => {
      val sampled = graft.operators.Corpus.sampleMixture(
        t(s, dir, "documents"), "doc_id", "source",
        C14OracleSql.weights, C14OracleSql.defaultWeight, C14OracleSql.seed)
      val train = graft.operators.Corpus.assignSplits(
          sampled, "doc_id", C14OracleSql.splits, C14OracleSql.seed)
        .where(col("split") === "train")
      graft.operators.Corpus.shuffleToShards(
          train, "doc_id", C14OracleSql.numShards, C14OracleSql.seed)
        .orderBy(col("doc_id"))
    },
    Some(C14OracleSql.sql))

  /** Deterministic epoch shuffle into shards: shard = pmod of the seeded
    * splitmix64 draw, pos = within-shard rank of (draw, id) — one hash
    * exchange, no global sort. The oracle replays draw, shard, and rank
    * from scratch (T14OracleSql; 7 shards exercises signed-pmod folding).
    */
  val t14ShardShuffle: GraftQuery = GraftQuery(
    "t14_shard_shuffle",
    (s, dir) =>
      graft.operators.Corpus.shuffleToShards(
          t(s, dir, "documents"), "doc_id",
          T14OracleSql.numShards, T14OracleSql.seed)
        .orderBy(col("doc_id")),
    Some(T14OracleSql.sql))

  /** Epoch WRITE→READ round trip (r17 verdict #5): writeShards
    * materializes the one-file-per-shard layout (row order = draw order,
    * no stored position), readShards reconstructs (shard, pos) from
    * `_metadata.row_index` — the frame must equal the coordinate replay
    * exactly, document text included (md5), proving the write→read epoch
    * contract end to end under the driver's hash gate. */
  val t15ReadShards: GraftQuery = GraftQuery(
    "t15_read_shards",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val out = new java.io.File(
        new java.io.File(sys.props("java.io.tmpdir")),
        "graft_t15_shards_" + java.lang.Integer.toHexString(dir.hashCode)).toString
      graft.operators.Corpus.writeShards(
        docs.select(col("doc_id"), col("text")), "doc_id", out,
        T15OracleSql.numShards, T15OracleSql.seed)
      graft.operators.Corpus.readShards(s, out)
        .select(col("doc_id"), col("shard"), col("pos"),
          md5(col("text")).as("text_md5"))
        .orderBy(col("doc_id"))
    },
    Some(T15OracleSql.sql))

  /** PII redaction (C4-style scrubbing): email → IPv4 → phone-shaped
    * regexp_replace chain. The corpus text carries no PII, so the query
    * plants a deterministic PII suffix on every document and redacts it —
    * exercising all three patterns; the oracle replays the same chain
    * (patterns kept alternation-free so Java regex and RE2 match
    * identically — see TextFunctions.piiPatterns).
    */
  val t9RedactPii: GraftQuery = GraftQuery(
    "t9_redact_pii",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.TextFunctions.redactPii(concat(col("text"),
            lit(" reach me at jane.doe+x@mail-host.org or 10.0.42.7 or +1 (555) 123-4567 at 3pm")))
            .as("redacted"))
        .orderBy(col("doc_id")),
    Some {
      // fold the operator's OWN pattern strings into the SQL — mirrors
      // redactPii's foldLeft chain exactly, so pattern edits cannot drift
      val planted =
        "text || ' reach me at jane.doe+x@mail-host.org or 10.0.42.7 or +1 (555) 123-4567 at 3pm'"
      val chain = graft.functions.TextFunctions.piiPatterns.foldLeft(planted) {
        case (e, (pat, repl)) => s"regexp_replace($e, '$pat', '$repl', 'g')"
      }
      s"SELECT doc_id, $chain AS redacted FROM documents ORDER BY doc_id"
    })

  /** CCNet-style perplexity scoring (c6): add-α bigram LM fit on the
    * doc_id % 7 = 0 reference slice, every document scored. The per-doc
    * sum is the BLOCKED left-associative fold (1024-position blocks,
    * then block sums in block order — bounded agg state) on BOTH engines
    * (0.0 + x = x exactly, so Spark's 0-seeded fold and DuckDB's
    * seedless list_reduce agree at each level), making the ppl values
    * IEEE-replayable behind round(4). */
  val c6Perplexity: GraftQuery = GraftQuery(
    "c6_perplexity",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Corpus.perplexityStats(
          docs, "doc_id", "text",
          docs.where(col("doc_id") % 7 === 0), "text", alpha = 0.1)
        .select(col("doc_id"), col("n_bigrams"), (round(col("ppl"), 4) + lit(0.0)).as("ppl"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH tk AS (SELECT doc_id,
              string_split_regex(trim(lower(text)), '\s+') AS t FROM documents),
            bg AS (SELECT doc_id, CAST(i AS INT) AS pos,
                t[CAST(i AS INT)] AS w1, t[CAST(i AS INT) + 1] AS w2
              FROM (SELECT doc_id, t, unnest(
                  CASE WHEN len(t) >= 2 THEN range(1, len(t)) ELSE [] END) AS i
                FROM tk)),
            c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg
              WHERE doc_id % 7 = 0 GROUP BY 1, 2),
            c1 AS (SELECT w1, count(*) AS c1 FROM bg
              WHERE doc_id % 7 = 0 GROUP BY 1),
            vv AS (SELECT count(DISTINCT w) AS v
              FROM (SELECT unnest(t) AS w FROM tk WHERE doc_id % 7 = 0)),
            sc AS (SELECT bg.doc_id, bg.pos,
                ln((coalesce(c2.c2, 0) + 0.1) / (coalesce(c1.c1, 0) + 0.1 * vv.v)) AS lnp
              FROM bg LEFT JOIN c2 ON bg.w1 = c2.w1 AND bg.w2 = c2.w2
                      LEFT JOIN c1 ON bg.w1 = c1.w1, vv),
            agg1 AS (SELECT doc_id, (pos - 1) // 1024 AS blk,
                count(*) AS n_b,
                list_reduce(list(lnp ORDER BY pos), (x, y) -> x + y) AS s_b
              FROM sc GROUP BY doc_id, blk),
            agg AS (SELECT doc_id, sum(n_b) AS n_bigrams,
                list_reduce(list(s_b ORDER BY blk), (x, y) -> x + y) AS s
              FROM agg1 GROUP BY doc_id)
            SELECT tk.doc_id, CAST(coalesce(agg.n_bigrams, 0) AS BIGINT) AS n_bigrams,
              round(exp(-agg.s / agg.n_bigrams), 4) + 0.0 AS ppl
            FROM tk LEFT JOIN agg ON tk.doc_id = agg.doc_id
            ORDER BY tk.doc_id"""))

  /** Backoff 5-gram LM perplexity (c9): the CCNet gate at its ACTUAL
    * model order — Stupid Backoff (Brants et al. 2007) over orders 5→1
    * with an add-α unigram ground, LM fit on the doc_id % 7 = 0 reference
    * slice, every document scored. One (k, gram, count) frame serves all
    * orders; the longest matched order wins via struct/arg max; per-doc
    * ln-score sums run the BLOCKED left-associative fold (1024-position
    * blocks, then block sums in block order) on both engines — ppl
    * replays behind round(4). ln λ is inlined as the same JVM double
    * literal on both sides.
    */
  val c9NgramLm: GraftQuery = GraftQuery(
    "c9_ngram_lm",
    (s, dir) => {
      val docs = tS(s, dir, "documents")
      graft.operators.Corpus.ngramLmStats(
          docs, "doc_id", "text",
          docs.where(col("doc_id") % 7 === 0), "text",
          order = 5, lambda = 0.4, alpha = 0.1)
        .select(col("doc_id"), col("n_tokens"), (round(col("ppl"), 4) + lit(0.0)).as("ppl"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH tk AS (SELECT doc_id,
              list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                x -> x <> '') AS t FROM documents),
            pos1 AS (SELECT doc_id, t, CAST(i AS INT) AS i
              FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM tk)),
            rws AS (SELECT doc_id, i AS pos, CAST(k AS INT) AS k,
                array_to_string(t[i - CAST(k AS INT) + 1 : i], ' ') AS g,
                array_to_string(t[i - CAST(k AS INT) + 1 : i - 1], ' ') AS h
              FROM (SELECT doc_id, t, i, unnest(range(1, least(i, 5) + 1)) AS k
                FROM pos1)),
            cnt AS (SELECT k, g, count(*) AS c FROM rws
              WHERE doc_id % 7 = 0 GROUP BY k, g),
            uni AS (SELECT sum(c) AS t_total, count(*) AS v FROM cnt WHERE k = 1),
            cand AS (SELECT r.doc_id, r.pos, r.k,
                CASE WHEN r.k = 1
                  THEN ln((coalesce(cg.c, 0) + 0.1) / (uni.t_total + 0.1 * uni.v))
                  WHEN cg.c IS NOT NULL THEN ln(cg.c / ch.c) END AS lnp
              FROM rws r
              LEFT JOIN cnt cg ON r.k = cg.k AND r.g = cg.g
              LEFT JOIN cnt ch ON r.k = ch.k + 1 AND r.h = ch.g, uni),
            best AS (SELECT doc_id, pos, max(k) AS kstar, arg_max(lnp, k) AS lnp
              FROM cand WHERE lnp IS NOT NULL GROUP BY doc_id, pos),
            sc AS (SELECT doc_id, pos,
                (least(pos, 5) - kstar) * (${math.log(0.4).toString}) + lnp AS lns
              FROM best),
            agg1 AS (SELECT doc_id, (pos - 1) // 1024 AS blk,
                count(*) AS n_b,
                list_reduce(list(lns ORDER BY pos), (x, y) -> x + y) AS s_b
              FROM sc GROUP BY doc_id, blk),
            agg AS (SELECT doc_id, sum(n_b) AS n_tokens,
                list_reduce(list(s_b ORDER BY blk), (x, y) -> x + y) AS s
              FROM agg1 GROUP BY doc_id)
            SELECT tk.doc_id,
              CAST(coalesce(agg.n_tokens, 0) AS BIGINT) AS n_tokens,
              round(exp(-agg.s / agg.n_tokens), 4) + 0.0 AS ppl
            FROM tk LEFT JOIN agg ON tk.doc_id = agg.doc_id
            ORDER BY tk.doc_id"""))

  /** DSIR importance weights (c10): distribution-matching data selection
    * (Xie et al., NeurIPS 2023) with the target domain = the corpus's
    * `lang = 'en'` slice — every document's hashed-unigram+bigram
    * importance log-weight. The oracle recomputes the smoothed bucket
    * models from scratch in SQL (full mechanism replay — the fit is pure
    * counting, so nothing is inlined); weights behind round(4), the c9
    * ln convention. */
  val c10DsirWeights: GraftQuery = GraftQuery(
    "c10_dsir_weights",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val m = graft.operators.Dsir.fit(
        docs.where(col("lang") === C10OracleSql.TargetLang), "text",
        docs, "text",
        dim = C10OracleSql.Dim, ngrams = 2, alpha = C10OracleSql.Alpha)
      graft.operators.Dsir.logWeights(docs, "doc_id", "text", m)
        .select(col("doc_id"), col("n_grams"),
          (round(col("log_weight"), 4) + lit(0.0)).as("log_weight"))
        .orderBy(col("doc_id"))
    },
    Some(C10OracleSql.weightsSql))

  /** DSIR top-k selection (c11): the 60 most target-like documents.
    * Both sides rank by the ROUNDED weight with an id tiebreak, so the
    * selected set is rounding-stable across engines. */
  val c11DsirSelect: GraftQuery = GraftQuery(
    "c11_dsir_select",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val m = graft.operators.Dsir.fit(
        docs.where(col("lang") === C10OracleSql.TargetLang), "text",
        docs, "text",
        dim = C10OracleSql.Dim, ngrams = 2, alpha = C10OracleSql.Alpha)
      graft.operators.Dsir.logWeights(docs, "doc_id", "text", m)
        .select(col("doc_id"),
          (round(col("log_weight"), 4) + lit(0.0)).as("log_weight"))
        .orderBy(col("log_weight").desc, col("doc_id").asc)
        .limit(C10OracleSql.SelectN)
    },
    Some(C10OracleSql.selectSql))

  /** DSIR Gumbel-top-k resample (c15): the paper's actual selection —
    * sampling without replacement ∝ exp(log_weight) via Gumbel keys
    * key = log_weight − ln(−ln u), u built bit-exactly from
    * splitmix64(seed, doc_id). Both sides rank by the ROUNDED key with
    * an id tiebreak (the c11 rounding-stable-rank convention); the
    * oracle replays mix64 → u → key → top-k from scratch
    * (C10OracleSql.resampleSql). DsirSpec separately pins the tilt
    * property (higher weight ⇒ higher selection frequency) and resample
    * determinism on the exact keys. */
  val c15DsirResample: GraftQuery = GraftQuery(
    "c15_dsir_resample",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val m = graft.operators.Dsir.fit(
        docs.where(col("lang") === C10OracleSql.TargetLang), "text",
        docs, "text",
        dim = C10OracleSql.Dim, ngrams = 2, alpha = C10OracleSql.Alpha)
      graft.operators.Dsir.gumbelKeys(docs, "doc_id", "text", m,
          C10OracleSql.ResampleSeed)
        .select(col("doc_id"),
          (round(col("gumbel_key"), 4) + lit(0.0)).as("gumbel_key"))
        .orderBy(col("gumbel_key").desc, col("doc_id").asc)
        .limit(C10OracleSql.SelectN)
    },
    Some(C10OracleSql.resampleSql))

  /** C4 line/page cleaning (c8): the published Raffel et al. 2020 §2.2
    * heuristics over a deterministically synthesized multi-line corpus
    * (the driver corpus has no newlines or punctuation, so the query
    * plants lines that exercise every rule — terminal-punctuation keep,
    * short-line drop, javascript drop, lorem-ipsum / curly-brace /
    * sentence-count page gates). Oracle rebuilds text_clean line for
    * line behind the hash gate.
    */
  val c8C4Clean: GraftQuery = GraftQuery(
    "c8_c4_clean",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val synth = docs.select(col("doc_id"),
        concat(
          concat_ws("\n",
            concat(col("text"), lit(".")),
            lit("short line"),
            concat(lit("javascript talk about "), substring(col("text"), 1, 40), lit(".")),
            when(col("doc_id") % 7 === 0, lit("plain words with no marks here"))
              .otherwise(lit("second sentence goes here! third one too? and a fourth statement lands.")),
            substring(col("text"), 1, 30)),
          when(col("doc_id") % 11 === 0, lit("\nthis has lorem ipsum inside.")).otherwise(lit("")),
          when(col("doc_id") % 13 === 0, lit("\ncurly { brace } page.")).otherwise(lit(""))
        ).as("text"))
      graft.operators.Corpus.c4Clean(synth, "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    Some("""WITH synth AS (SELECT doc_id,
              (text || '.') || chr(10) ||
              'short line' || chr(10) ||
              'javascript talk about ' || substr(text, 1, 40) || '.' || chr(10) ||
              CASE WHEN doc_id % 7 = 0 THEN 'plain words with no marks here'
                   ELSE 'second sentence goes here! third one too? and a fourth statement lands.' END
              || chr(10) || substr(text, 1, 30) ||
              CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'this has lorem ipsum inside.' ELSE '' END ||
              CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'curly { brace } page.' ELSE '' END AS text
            FROM documents),
            ln AS (SELECT doc_id, text, string_split(text, chr(10)) AS lines FROM synth),
            kept AS (SELECT doc_id, text, lines, list_filter(lines, l ->
                right(rtrim(l), 1) IN ('.', '!', '?', '"')
                AND len(string_split_regex(trim(l), '\s+')) >= 5
                AND NOT contains(lower(l), 'javascript')) AS kl
              FROM ln),
            cl AS (SELECT doc_id, text, lines, kl,
                array_to_string(kl, chr(10)) AS clean FROM kept)
            SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines,
              CAST(len(kl) AS BIGINT) AS n_kept, clean AS text_clean
            FROM cl
            WHERE NOT contains(lower(text), 'lorem ipsum')
              AND NOT contains(text, '{') AND NOT contains(text, '}')
              AND length(clean) - length(regexp_replace(clean, '[.!?]', '', 'g')) >= 3
            ORDER BY doc_id"""))

  /** Trained quality classifier (c7): a real MLlib LogisticRegression fit
    * over hashed bag-of-words tf features (GPT-3/DCLM-style quality
    * filter), labels distilled from the heuristic curation gates, every
    * document scored. Generated oracle: the fitted coefficients are
    * inlined as exact double literals and the whole serving pipeline —
    * per-token FNV bucketing, tf dot product folded left-associatively in
    * token order, sigmoid — replays in DuckDB behind round(4).
    */
  val c7QualityClassifier: GraftQuery = GraftQuery(
    "c7_quality_classifier",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val model = C7OracleSql.fitted(s, dir)
      graft.operators.QualityClassifier.scores(docs, "doc_id", "text", model)
        .select(col("doc_id"), col("n_toks"), (round(col("score"), 4) + lit(0.0)).as("score"))
        .orderBy(col("doc_id"))
    },
    None,
    oracleGen = Some((s, dir) => C7OracleSql.sql(s, dir)))

  /** Trained language identification (t12): a real MLlib multinomial
    * LogisticRegression over hashed char-bigram tf features (the fastText
    * lid shape, Joulin et al. 2016), fit on the deterministic
    * multi-language fixture corpus and serving every document fully
    * map-side (the per-class weight rows as one broadcast, each class
    * logit one fold of the bucket array). Generated oracle: the fitted
    * per-class coefficients inline as exact double literals and the whole
    * serving pipeline — char-window FNV bucketing, per-class left-assoc
    * folds, struct-sort argmax, label-order softmax — replays in DuckDB
    * behind round(4) on the confidence.
    */
  val t12LangIdTrained: GraftQuery = GraftQuery(
    "t12_lang_id_trained",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val model = T12OracleSql.fitted(s)
      graft.operators.LangIdClassifier.predictions(docs, "doc_id", "text", model)
        .select(col("doc_id"), col("lang"),
          round(col("confidence"), 4).as("confidence"))
        .orderBy(col("doc_id"))
    },
    None,
    oracleGen = Some((s, dir) => T12OracleSql.sql(s, dir)))

  /** Exact-substring span dedup (Lee et al. 2022): every non-canonical
    * occurrence of a duplicated 4-token window is cut out of the text,
    * canonical = lowest (doc, pos). ORACLED end to end: the DuckDB replay
    * recomputes windows → canonical owner (row_number over (doc, pos)) →
    * covered token indexes → surviving-token string_agg, so the rebuilt
    * deduplicated TEXT goes through the hash gate, not just the counts.
    * (n=4 on this corpus yields a few hundred genuine cross-document
    * window collisions — enough to exercise interval merging.)
    */
  val t10DedupSpans: GraftQuery = GraftQuery(
    "t10_dedup_spans",
    (s, dir) =>
      graft.operators.Corpus.dedupSpans(t(s, dir, "documents"), "doc_id", "text", n = 4)
        .orderBy(col("doc_id")),
    Some("""WITH tk AS (SELECT doc_id,
              string_split_regex(trim(text), '\s+') AS t FROM documents),
            occ AS (SELECT doc_id, CAST(i AS INT) AS pos,
                md5(array_to_string(t[CAST(i AS INT):CAST(i AS INT)+3], ' ')) AS gh
              FROM (SELECT doc_id, t, unnest(
                  CASE WHEN len(t) >= 4 THEN range(1, len(t) - 2) ELSE [] END) AS i
                FROM tk)),
            rk AS (SELECT doc_id, pos, gh,
                row_number() OVER (PARTITION BY gh ORDER BY doc_id, pos) AS rn,
                count(*) OVER (PARTITION BY gh) AS cnt
              FROM occ),
            cov AS (SELECT DISTINCT doc_id, pos + CAST(k AS INT) AS j
              FROM rk, range(0, 4) s(k) WHERE rn > 1),
            pro AS (SELECT DISTINCT doc_id, pos + CAST(k AS INT) AS j
              FROM rk, range(0, 4) s(k) WHERE rn = 1 AND cnt > 1),
            tok AS (SELECT doc_id, unnest(t) AS w,
                unnest(range(1, len(t) + 1)) AS j FROM tk),
            keptw AS (SELECT tok.doc_id, tok.w, tok.j
              FROM tok LEFT JOIN cov
                ON tok.doc_id = cov.doc_id AND tok.j = cov.j
              LEFT JOIN pro
                ON tok.doc_id = pro.doc_id AND tok.j = pro.j
              WHERE cov.j IS NULL OR pro.j IS NOT NULL),
            agg AS (SELECT doc_id, count(*) AS n_kept,
                string_agg(w, ' ' ORDER BY j) AS text_dedup
              FROM keptw GROUP BY doc_id)
            SELECT tk.doc_id, CAST(len(tk.t) AS BIGINT) AS n_tokens,
              CAST(len(tk.t) - coalesce(agg.n_kept, 0) AS BIGINT) AS n_removed,
              coalesce(agg.text_dedup, '') AS text_dedup
            FROM tk LEFT JOIN agg ON tk.doc_id = agg.doc_id
            ORDER BY tk.doc_id"""))

  /** MinHash+LSH near-dup pairs at jaccard >= 0.9, production banding
    * (k=128, 16 bands × 8 rows — the Lee et al. 2022 / RefinedWeb
    * regime; r=4 measured quadratic on a 1.5M-doc Zipf corpus). The
    * oracle replays the LSH MECHANISM itself in DuckDB — FNV token hash,
    * splitmix64 families, signed minima, band agreement — then the exact
    * jaccard verify over the candidates ([[LshOracleSql]]): the gate
    * covers the operator's actual S-curve semantics at any band width.
    * A separate TextDedupSpec gate measures candidate recall against
    * brute force on a planted corpus.
    */
  val d1MinhashLsh: GraftQuery = GraftQuery(
    "d1_minhash_lsh_pairs",
    (s, dir) =>
      Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text", 0.9)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 5).as("jaccard"))
        .orderBy(col("id_a"), col("id_b")),
    Some(s"""WITH tk AS (SELECT doc_id,
              list_distinct(string_split_regex(trim(lower(text)), '\\s+')) AS toks
              FROM documents),
            ${LshOracleSql.ctes("tk", 0.9)}
            SELECT ia AS id_a, ib AS id_b, round(jaccard, 5) AS jaccard
            FROM lsh_pairs
            ORDER BY id_a, id_b"""))

  /** SimHash near-dup pairs (hamming <= 3 via 4×16-bit pigeonhole bands).
    * The FNV-1a-64 hash family IS SQL-expressible: the oracle recomputes
    * per-token FNV over UTF-8 bytes with HUGEINT mod-2⁶⁴ arithmetic, takes
    * the 64 bit votes, and brute-forces all pairs at hamming <= 3 (the
    * banding is exact by pigeonhole, so brute force is the right oracle).
    */
  /** Brute-force simhash oracle: full sketch replay (FNV-1a token hash →
    * per-bit majority vote) + all-pairs bit_count filter at `maxH`. */
  private def simhashOracleSql(maxH: Int): String =
    simhashOracleTemplate.replace("__MAXH__", maxH.toString)

  val d2Simhash: GraftQuery = GraftQuery(
    "d2_simhash_pairs",
    (s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text", 3)
        .orderBy(col("id_a"), col("id_b")),
    Some(simhashOracleSql(3)))

  /** simhashPairs at radius 5 (d2b): the 3-part multi-index scheme —
    * exactness past the 2-half radius-3 contract, same brute-force oracle
    * at the wider threshold. */
  val d2bSimhashR5: GraftQuery = GraftQuery(
    "d2b_simhash_pairs_r5",
    (s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text", 5)
        .orderBy(col("id_a"), col("id_b")),
    Some(simhashOracleSql(5)))

  // lazy: referenced by simhashOracleSql during d2/d2b's own val init,
  // which runs before this declaration in object-initialization order
  private lazy val simhashOracleTemplate: String =
    ("""WITH tk AS (
              SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
                t -> t <> '') AS toks FROM documents),
            tok AS (SELECT doc_id, unnest(toks) AS t FROM tk),
            tb AS (SELECT doc_id, t,
              flatten(list_transform(string_split(t, ''), ch ->
                CASE WHEN unicode(ch) < 128 THEN [unicode(ch)]
                     WHEN unicode(ch) < 2048 THEN [192 + unicode(ch) // 64, 128 + unicode(ch) % 64]
                     WHEN unicode(ch) < 65536 THEN [224 + unicode(ch) // 4096, 128 + (unicode(ch) // 64) % 64, 128 + unicode(ch) % 64]
                     ELSE [240 + unicode(ch) // 262144, 128 + (unicode(ch) // 4096) % 64, 128 + (unicode(ch) // 64) % 64, 128 + unicode(ch) % 64]
                END)) AS bytes FROM tok),
            th AS (SELECT doc_id, list_reduce(
                list_concat([14695981039346656037::HUGEINT], list_transform(bytes, b -> b::HUGEINT)),
                (h, b) -> (xor(h, b) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT) AS h
              FROM tb),
            votes AS (SELECT doc_id, bit,
                sum(CASE WHEN ((h >> bit) & 1) = 1 THEN 1 ELSE -1 END) AS v
              FROM th, (SELECT unnest(range(0, 64)) AS bit)
              GROUP BY doc_id, bit),
            sk0 AS (SELECT doc_id,
                sum(CASE WHEN v > 0 THEN (1::HUGEINT << bit) ELSE 0::HUGEINT END) AS u
              FROM votes GROUP BY doc_id),
            sh AS (SELECT doc_id,
                CAST(CASE WHEN u >= 9223372036854775808::HUGEINT
                     THEN u - 18446744073709551616::HUGEINT ELSE u END AS BIGINT) AS sk
              FROM sk0)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              CAST(bit_count(xor(a.sk, b.sk)) AS INT) AS hamming
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.sk, b.sk)) <= __MAXH__
            ORDER BY id_a, id_b""").stripMargin

  /** Near-dup GROUPS (connected components over the verified LSH pair
    * graph, group = min doc id): the dedup pipeline's clustering step.
    * Oracle replays it as a transitive-closure recursive CTE over the
    * mechanism-replayed LSH pair graph ([[LshOracleSql]]).
    */
  val d3DedupGroups: GraftQuery = GraftQuery(
    "d3_dedup_groups",
    (s, dir) =>
      Dedup.nearDupGroups(t(s, dir, "documents"), "doc_id", "text", 0.9)
        .orderBy(col("doc_id")),
    Some(s"""WITH RECURSIVE tk AS (SELECT doc_id,
              list_distinct(string_split_regex(trim(lower(text)), '\\s+')) AS toks
              FROM documents),
            ${LshOracleSql.ctes("tk", 0.9)},
            e AS (SELECT ia, ib FROM lsh_pairs),
            sym AS (SELECT ia AS a, ib AS b FROM e
                    UNION ALL SELECT ib, ia FROM e),
            reach(id, r) AS (
              SELECT a, a FROM sym
              UNION
              SELECT s.a, reach.r FROM sym s JOIN reach ON s.b = reach.id)
            SELECT id AS doc_id, min(r) AS group_id
            FROM reach GROUP BY id ORDER BY doc_id"""))

  /** Keep-one-per-group deduplication: the output a pretraining pipeline
    * feeds to tokenization — all singletons plus the min-id representative
    * of every near-dup group.
    */
  val d4Deduplicate: GraftQuery = GraftQuery(
    "d4_deduplicate",
    (s, dir) =>
      Dedup.deduplicate(t(s, dir, "documents"), "doc_id", "text", 0.9)
        .select(col("doc_id"))
        .orderBy(col("doc_id")),
    Some(s"""WITH RECURSIVE tk AS (SELECT doc_id,
              list_distinct(string_split_regex(trim(lower(text)), '\\s+')) AS toks
              FROM documents),
            ${LshOracleSql.ctes("tk", 0.9)},
            e AS (SELECT ia, ib FROM lsh_pairs),
            sym AS (SELECT ia AS a, ib AS b FROM e
                    UNION ALL SELECT ib, ia FROM e),
            reach(id, r) AS (
              SELECT a, a FROM sym
              UNION
              SELECT s2.a, reach.r FROM sym s2 JOIN reach ON s2.b = reach.id),
            dropped AS (SELECT id FROM (
              SELECT id, min(r) AS g FROM reach GROUP BY id) WHERE id <> g)
            SELECT doc_id FROM documents
            WHERE doc_id NOT IN (SELECT id FROM dropped)
            ORDER BY doc_id"""))

  /** Embedding cosine near-dup pairs (exact threshold self-join baseline). */
  val e1EmbeddingPairs: GraftQuery = GraftQuery(
    "e1_embedding_pairs",
    (s, dir) =>
      Dedup.embeddingPairsExact(t(s, dir, "embeddings"), "vec_id", "embedding", 0.45)
        .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
        .orderBy(col("id_a"), col("id_b")),
    Some("""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              round(CAST(list_cosine_similarity(a.embedding, b.embedding) AS DOUBLE), 4) AS cos
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.45
            ORDER BY id_a, id_b"""))

  /** SemDeDup (e2): cluster-scoped semantic dedup — seeded KMeans
    * partitions the embedding space (fitted centroids inlined into the
    * generated oracle), assignment is a map-side argmax-cosine literal
    * expression, and the only shuffle is the within-cluster pair join.
    * Drop rule: a smaller-id same-cluster vector at >= threshold cosine
    * exists.
    */
  val e2SemDedup: GraftQuery = GraftQuery(
    "e2_semdedup",
    (s, dir) =>
      Dedup.semDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
          k = E2OracleSql.K, threshold = E2OracleSql.Threshold,
          fittedCenters = Some(E2OracleSql.fittedCenters(s, dir)))
        .orderBy(col("vec_id")),
    None,
    oracleGen = Some((s, dir) => E2OracleSql.sql(s, dir)))

  /** Elementwise vector math surface (§2.8: ± × ÷ scalar|vector as
    * codegen'd higher-order built-ins): v = 2a + a∘a per position.
    */
  val v8VecElementwise: GraftQuery = GraftQuery(
    "v8_vec_elementwise",
    (s, dir) => {
      import graft.functions.VecFunctions._
      val ad = transform(col("embedding"), x => x.cast("double"))
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          posexplode(vecAdd(vecMulScalar(ad, lit(2.0)), vecMul(ad, ad))).as(Seq("pos", "v")))
        .select(col("vec_id"), col("pos"),
          // + 0.0 canonicalizes rounded -0.0 (see v26) — 2a + a² is
          // negative-and-tiny for a ∈ (-2.5e-6, 0).
          (round(col("v"), 5) + lit(0.0)).as("val"))
        .orderBy(col("vec_id"), col("pos"))
    },
    Some("""SELECT vec_id, CAST(i - 1 AS INT) AS pos,
            round(2.0 * CAST(embedding[CAST(i AS INT)] AS DOUBLE)
                  + CAST(embedding[CAST(i AS INT)] AS DOUBLE)
                    * CAST(embedding[CAST(i AS INT)] AS DOUBLE), 5) + 0.0 AS val
            FROM embeddings, range(1, 65) t(i)
            ORDER BY vec_id, pos"""))

  /** Vector normalize family (v26): normalize_l1/l2/max as codegen
    * kernels (vectors.rs:176-236 — v / norm with the norm computed ONCE
    * in double, each element scaled by the reciprocal and narrowed back
    * to float32). The oracle replays the exact float discipline: double
    * left-assoc norm folds, 1/norm reciprocal, per-element double
    * multiply, CAST to REAL — behind round(5).
    */
  val v26VecNormalize: GraftQuery = GraftQuery(
    "v26_vec_normalize",
    (s, dir) => {
      import graft.functions.VecFunctions._
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"),
          vecNormalizeL1(col("embedding")).as("a1"),
          vecNormalizeL2(col("embedding")).as("a2"),
          vecNormalizeMax(col("embedding")).as("am"))
      // `+ 0.0` after every round() canonicalizes the sign of zero on both
      // engines (IEEE: -0.0 + 0.0 = +0.0). DuckDB's round() preserves -0.0
      // for inputs in (-0.5e-5, 0) while Spark's BigDecimal-backed Round
      // emits +0.0 — value-equal but hash-DIFFERENT in the driver's
      // byte-level compare (the one red row of round 12).
      emb.select(col("vec_id"),
          posexplode(arrays_zip(col("a1"), col("a2"), col("am"))).as(Seq("pos", "z")))
        .select(col("vec_id"), col("pos"),
          (round(col("z.a1").cast("double"), 5) + lit(0.0)).as("v_l1"),
          (round(col("z.a2").cast("double"), 5) + lit(0.0)).as("v_l2"),
          (round(col("z.am").cast("double"), 5) + lit(0.0)).as("v_max"))
        .orderBy(col("vec_id"), col("pos"))
    },
    Some("""WITH n AS (SELECT vec_id, embedding,
              list_reduce(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))),
                (a, b) -> a + b) AS n1,
              sqrt(list_reduce(list_transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS n2,
              list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))),
                'max') AS nm
            FROM embeddings)
            SELECT vec_id, CAST(i - 1 AS INT) AS pos,
              round(CAST(CAST(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * (1.0 / n1) AS REAL) AS DOUBLE), 5) + 0.0 AS v_l1,
              round(CAST(CAST(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * (1.0 / n2) AS REAL) AS DOUBLE), 5) + 0.0 AS v_l2,
              round(CAST(CAST(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * (1.0 / nm) AS REAL) AS DOUBLE), 5) + 0.0 AS v_max
            FROM n, range(1, 65) t(i)
            ORDER BY vec_id, pos"""))

  /** HNSW-forest ANN (the reference's actual index type — pgvector HNSW,
    * pipeline.rs:526-543): per-partition graph search + a (partitions×k)-row
    * global merge, served from a persisted forest. Approximate by design
    * (ef trades recall for traversal cost), so the result rows cannot be
    * SQL-derived — instead the CORRECTNESS entry carries a CHECKED RECALL
    * BOUND: the query measures recall@10 against its own exact brute
    * force (the v1 kernel, v10's tie-break) and emits it per row with an
    * honest `recall_pass = recall ≥ 0.95`; the oracle recomputes the
    * exact top-10 INDEPENDENTLY in DuckDB, intersects it with the served
    * ids, and asserts `recall_pass = true` as a constant — so a pruned
    * traversal whose recall slips below the bound turns the driver row
    * red (spark false vs oracle true), and a disagreement between the
    * two engines' exact top-10 surfaces in the recall value itself. The
    * serving-latency shape stays pure in the bench (Bench overrides this
    * leg with the search-only body — the recall audit is a correctness
    * cost, not a serving cost).
    */
  val v9KnnHnsw: GraftQuery = GraftQuery(
    "v9_knn_hnsw",
    (s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") === 13).select("embedding").as[Array[Float]].head()
      val idx = graft.operators.HnswIndex.serveOrBuild(
        s, s"$dir/embeddings.parquet", emb, "embedding", "vec_id",
        m = 16, efConstruction = 64, numPartitions = 8)
      val approx = idx.search(q, 10, ef = 64, idName = "vec_id")
        .select(col("vec_id"), round(col("score"), 5).as("score"))
        .as[(Long, Double)].collect().sortBy { case (id, sc) => (-sc, id) }
      val exactIds = graft.operators.VectorSearch
        .topK(emb, "embedding", q, 10, Seq("vec_id"))
        .select("vec_id").as[Long].collect().toSet
      val recall = approx.map(_._1).count(exactIds.contains) / 10.0
      approx.toSeq
        .map { case (id, sc) => (id, sc, recall, recall >= 0.95) }
        .toDF("vec_id", "score", "recall10", "recall_pass")
    },
    None,
    oracleGen = Some { (s, dir) =>
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") === 13).select("embedding").as[Array[Float]].head()
      val idx = graft.operators.HnswIndex.serveOrBuild(
        s, s"$dir/embeddings.parquet", emb, "embedding", "vec_id",
        m = 16, efConstruction = 64, numPartitions = 8)
      val approx = idx.search(q, 10, ef = 64, idName = "vec_id")
        .select(col("vec_id"), round(col("score"), 5).as("score"))
        .as[(Long, Double)].collect().sortBy { case (id, sc) => (-sc, id) }
      val values = approx
        .map { case (id, sc) => s"($id, ${dlit(sc)})" }.mkString(", ")
      s"""WITH approx(vec_id, score) AS (VALUES $values),
          exact AS (SELECT vec_id FROM embeddings
            ORDER BY list_cosine_similarity(embedding,
              (SELECT embedding FROM embeddings WHERE vec_id = 13)) DESC, vec_id
            LIMIT 10),
          r AS (SELECT count(*) / 10.0 AS recall10
            FROM approx JOIN exact USING (vec_id))
          SELECT approx.vec_id, approx.score, r.recall10, true AS recall_pass
          FROM approx, r
          ORDER BY approx.score DESC, approx.vec_id"""
    })

  /** HNSW full sweep (ef = N): the layer-0 search admits every reachable
    * node, so on a connected graph the result equals exact KNN — this puts
    * the whole graph build/link/traverse machinery behind the DuckDB gate
    * (the pruned-recall contract stays in HnswSpec and v9), the same
    * exact-twin pattern as v7 for IVF.
    */
  val v10KnnHnswFull: GraftQuery = GraftQuery(
    "v10_knn_hnsw_full",
    (s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") === 21).select("embedding").as[Array[Float]].head()
      val n = emb.count().toInt
      val idx = graft.operators.HnswIndex.serveOrBuild(
        s, s"$dir/embeddings.parquet", emb, "embedding", "vec_id",
        m = 16, efConstruction = 64, numPartitions = 8)
      idx.search(q, 10, ef = n, idName = "vec_id")
        .select(col("vec_id"), round(col("score"), 5).as("score"))
    },
    Some("""SELECT vec_id,
            round(CAST(list_cosine_similarity(embedding,
              (SELECT embedding FROM embeddings WHERE vec_id = 21)) AS DOUBLE),5) AS score
            FROM embeddings
            ORDER BY list_cosine_similarity(embedding,
              (SELECT embedding FROM embeddings WHERE vec_id = 21)) DESC, vec_id
            LIMIT 10"""))

  /** Binary-quantized ANN (pgvector's bit-quantization scale path): sign
    * bits pack 32× smaller, candidates come from the persisted skinny
    * signature index ordered by Hamming distance (total order: ham, id),
    * and the top-100 shortlist is re-ranked by exact cosine. Fully
    * deterministic — the oracle replays pack → Hamming → re-rank in SQL.
    */
  val v11KnnBinary: GraftQuery = GraftQuery(
    "v11_knn_binary",
    (s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") === 7).select("embedding").as[Array[Float]].head()
      graft.operators.Quantized.binaryKnnIndexed(
          s, s"$dir/embeddings.parquet", emb, "vec_id", "embedding", q, 10, rerank = 100)
        .select(col("vec_id"), round(col("score"), 5).as("score"))
    },
    Some("""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 7),
            h AS (SELECT e.vec_id,
                sum(CASE WHEN (e.embedding[CAST(i AS INT)] > 0)
                         <> (q.qe[CAST(i AS INT)] > 0) THEN 1 ELSE 0 END) AS ham
              FROM embeddings e, q, range(1, 65) t(i)
              GROUP BY e.vec_id),
            cand AS (SELECT vec_id FROM h ORDER BY ham, vec_id LIMIT 100)
            SELECT e.vec_id,
              round(CAST(list_cosine_similarity(e.embedding, q.qe) AS DOUBLE), 5) AS score
            FROM embeddings e JOIN cand USING (vec_id), q
            ORDER BY list_cosine_similarity(e.embedding, q.qe) DESC, e.vec_id
            LIMIT 10"""))

  /** SQ8 scalar-quantized top-k by ADC inner product: per-dimension affine
    * uint8 codes (4× compression), scored as base + Σ wᵢ·codeᵢ with
    * query-precomputed weights. The oracle replays fit (per-dim min/max)
    * → encode (round + clamp) → ADC in SQL.
    */
  val v12KnnSq8: GraftQuery = GraftQuery(
    "v12_knn_sq8",
    (s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") === 9).select("embedding").as[Array[Float]].head()
      val model = graft.operators.Quantized.sq8Fit(emb, "embedding")
      graft.operators.Quantized.sq8Knn(emb, "vec_id", "embedding", q, 10, model)
        .select(col("vec_id"), round(col("qscore"), 4).as("qscore"))
    },
    Some("""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 9),
            x AS (SELECT vec_id, CAST(i AS INT) AS d,
                CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS v
              FROM embeddings, range(1, 65) t(i)),
            sc AS (SELECT d, min(v) AS mn,
                CASE WHEN max(v) = min(v) THEN 0.0
                     ELSE (max(v) - min(v)) / 255.0 END AS scale
              FROM x GROUP BY d),
            codes AS (SELECT x.vec_id, x.d,
                CASE WHEN sc.scale = 0.0 THEN 0
                     ELSE least(greatest(
                       CAST(floor((x.v - sc.mn) / sc.scale + 0.5) AS INT), 0), 255)
                END AS code
              FROM x JOIN sc USING (d)),
            w AS (SELECT sc.d, CAST(q.qe[sc.d] AS DOUBLE) * sc.scale AS wt,
                CAST(q.qe[sc.d] AS DOUBLE) * sc.mn AS b
              FROM sc, q),
            sco AS (SELECT c.vec_id,
                sum(w.wt * c.code) + (SELECT sum(b) FROM w) AS qscore
              FROM codes c JOIN w USING (d) GROUP BY c.vec_id)
            SELECT vec_id, round(qscore, 4) AS qscore FROM sco
            ORDER BY qscore DESC, vec_id LIMIT 10"""))

  /** Exact L2-distance KNN — pgvector's `<->` operator metric
    * (vectors.rs:256-274 distance kernel); completes the three pgvector
    * metrics (cosine v1, L2 v13, inner product v14) on the same
    * scan → codegen kernel → TakeOrderedAndProject plan.
    */
  val v13KnnL2: GraftQuery = GraftQuery(
    "v13_knn_l2",
    (s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") === 33).select("embedding").as[Array[Float]].head()
      emb.select(col("vec_id"),
          vecDistanceL2(col("embedding"), floatVec(q.toIndexedSeq)).as("dist"))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(10)
        .select(col("vec_id"), round(col("dist"), 4).as("dist"))
    },
    Some("""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 33),
            d AS (SELECT e.vec_id,
                sqrt(sum(pow(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
                             - CAST(q.qe[CAST(i AS INT)] AS DOUBLE), 2))) AS dist
              FROM embeddings e, q, range(1, 65) t(i)
              GROUP BY e.vec_id)
            SELECT vec_id, round(dist, 4) AS dist FROM d
            ORDER BY dist, vec_id LIMIT 10"""))

  /** HNSW batch search (many-queries serving shape): each partition's
    * graph deserializes once and answers all queries; the only shuffle is
    * the per-query top-k window over the (partitions×Q×k) hit set. Full
    * sweep (ef = N) equals exact per-query KNN — the v10 exact-twin
    * argument — so the whole batch path sits behind the DuckDB gate (the
    * pruned batch shape is benched as v9b and recall-gated in HnswSpec).
    */
  val v15KnnHnswBatch: GraftQuery = GraftQuery(
    "v15_knn_hnsw_batch",
    (s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
        .collect().toSeq.sortBy(_._1)
      val n = emb.count().toInt
      val idx = graft.operators.HnswIndex.serveOrBuild(
        s, s"$dir/embeddings.parquet", emb, "embedding", "vec_id",
        m = 16, efConstruction = 64, numPartitions = 8)
      idx.searchBatch(queries, 5, ef = n, idName = "vec_id", queryIdName = "query_id")
        .select(col("query_id"), col("vec_id"),
          round(col("score"), 5).as("score"), col("rn"))
    },
    Some("""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5)
            SELECT qid AS query_id, vec_id,
              round(CAST(list_cosine_similarity(embedding, qe) AS DOUBLE), 5) AS score,
              CAST(rn AS INT) AS rn
            FROM (SELECT q.qid, e.vec_id, e.embedding, q.qe,
                    row_number() OVER (PARTITION BY q.qid
                      ORDER BY list_cosine_similarity(e.embedding, q.qe) DESC, e.vec_id) AS rn
                  FROM embeddings e, q)
            WHERE rn <= 5 ORDER BY query_id, rn"""))

  /** Product-quantized ANN, serving shape: ADC shortlist over the
    * PERSISTED m-byte codes table (32× fewer scan bytes; encode-on-the-fly
    * would cost more than brute force), exact re-rank of the 100 full
    * vectors fetched by a pushed In(id…) filter. Lossy by construction →
    * no exact twin exists at any parameter; rows-only here, the
    * determinism/identity/recall contracts are pinned in PqSpec.
    */
  val v16KnnPq: GraftQuery = GraftQuery(
    "v16_knn_pq",
    (s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") === 7).select("embedding").as[Array[Float]].head()
      graft.operators.Pq.knnIndexed(
          s, s"$dir/embeddings.parquet", emb, "vec_id", "embedding", q, 10,
          rerank = 200, m = 8, kCent = 32)
        .select(col("vec_id"), round(col("score"), 5).as("score"))
    },
    None,
    // fitted-codebook replay: the oracle is generated per scale factor with
    // the model's codebook + ADC LUT inlined as exact double literals
    oracleGen = Some((s, dir) => V16OracleSql.sql(s, dir)))

  /** IVF-PQ composite ANN (v24): coarse-cluster pruning over the
    * persisted PQ codes — the FAISS-IVFPQ serving shape (nprobe/nlist
    * partition pruning × m-byte ADC scan, then exact re-rank). Oracled
    * by COMPOSING the v5 and v16 generated replays: probe selection +
    * spill membership restrict the candidates, encode→ADC→re-rank runs
    * over only those.
    */
  val v24KnnIvfPq: GraftQuery = GraftQuery(
    "v24_knn_ivfpq",
    (s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") === 7).select("embedding").as[Array[Float]].head()
      graft.operators.IvfPq.knnIndexed(
          s, s"$dir/embeddings.parquet", emb, "vec_id", "embedding", q, 10,
          nprobe = V24OracleSql.Nprobe, rerank = V24OracleSql.Rerank,
          nlist = V24OracleSql.Nlist, m = V24OracleSql.M,
          kCent = V24OracleSql.KCent, nassign = V24OracleSql.Nassign)
        .select(col("vec_id"), round(col("score"), 5).as("score"))
    },
    None,
    oracleGen = Some((s, dir) => V24OracleSql.sql(s, dir)))

  /** Residual IVF-PQ (v25): FAISS's by_residual=true refinement — spill
    * copies encode v − c(copy) in float32, scores add the per-cluster
    * ⟨q,c⟩ constant to the shared residual-LUT sum, best copy wins.
    * Oracled via the v24 composition extended with the per-copy residual
    * encode and the MAX-over-copies rule.
    */
  val v25KnnIvfPqResidual: GraftQuery = GraftQuery(
    "v25_knn_ivfpq_residual",
    (s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") === 7).select("embedding").as[Array[Float]].head()
      graft.operators.IvfPq.knnIndexed(
          s, s"$dir/embeddings.parquet", emb, "vec_id", "embedding", q, 10,
          nprobe = V25OracleSql.Nprobe, rerank = V25OracleSql.Rerank,
          nlist = V25OracleSql.Nlist, m = V25OracleSql.M,
          kCent = V25OracleSql.KCent, nassign = V25OracleSql.Nassign,
          byResidual = true)
        .select(col("vec_id"), round(col("score"), 5).as("score"))
    },
    None,
    oracleGen = Some((s, dir) => V25OracleSql.sql(s, dir)))

  /** Exact inner-product KNN — pgvector's `<#>` metric (vectors.rs:276-292
    * dot kernel). */
  val v14KnnIp: GraftQuery = GraftQuery(
    "v14_knn_ip",
    (s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") === 33).select("embedding").as[Array[Float]].head()
      emb.select(col("vec_id"),
          vecDot(col("embedding"), floatVec(q.toIndexedSeq)).as("ip"))
        .orderBy(col("ip").desc, col("vec_id").asc)
        .limit(10)
        .select(col("vec_id"), round(col("ip"), 4).as("ip"))
    },
    Some("""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 33),
            d AS (SELECT e.vec_id,
                sum(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
                    * CAST(q.qe[CAST(i AS INT)] AS DOUBLE)) AS ip
              FROM embeddings e, q, range(1, 65) t(i)
              GROUP BY e.vec_id)
            SELECT vec_id, round(ip, 4) AS ip FROM d
            ORDER BY ip DESC, vec_id LIMIT 10"""))

  // -------------------------------------------- metric-parameterized indexes
  //
  // pgvector indexes un-normalized vectors under vector_l2_ops /
  // vector_ip_ops as well as the default vector_cosine_ops
  // (pipeline.rs:526-543); the testdata embeddings are L2-normalized (all
  // three orderings coincide there), so these twins DE-normalize first —
  // each vector scaled by (vec_id % 7 + 1) in float32 — making the l2/ip
  // orderings genuinely different from cosine's. Full-sweep / full-probe
  // parameters make the index results exact (the v10/v7 exact-twin
  // argument), so the whole metric-specific build/link/probe machinery
  // sits behind the DuckDB gate; pruned-recall contracts per metric live
  // in HnswSpec/IvfSpec.

  private[queries] def scaledEmb(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    emb.select(col("vec_id"),
      vecMulScalar(col("embedding"),
        (col("vec_id") % 7 + 1).cast("float")).as("embedding"))
  }

  private[queries] def scaledQuery(s: SparkSession, dir: String, id: Int): Array[Float] = {
    import s.implicits._
    val raw = t(s, dir, "embeddings").where(col("vec_id") === id)
      .select("embedding").as[Array[Float]].head()
    val f = (id % 7 + 1).toFloat
    raw.map(_ * f)
  }

  // the de-normalized vectors and query, replayed in float32 in DuckDB
  private[queries] def scaledSql(qid: Int) =
    s"""q AS (SELECT list_transform(embedding,
             x -> CAST(x * CAST(${qid % 7 + 1} AS FLOAT) AS FLOAT)) AS qe
           FROM embeddings WHERE vec_id = $qid),
        se AS (SELECT vec_id, list_transform(embedding,
             x -> CAST(x * CAST((vec_id % 7 + 1) AS FLOAT) AS FLOAT)) AS embedding
           FROM embeddings)"""

  /** HNSW forest built on METRIC l2 over un-normalized vectors, full sweep
    * (ef = N) → exact L2 top-k. */
  val v17KnnHnswL2: GraftQuery = GraftQuery(
    "v17_knn_hnsw_l2",
    (s, dir) => {
      import s.implicits._
      val emb = scaledEmb(s, dir)
      val q = scaledQuery(s, dir, 33)
      val n = emb.count().toInt
      val idx = graft.operators.HnswIndex.serveOrBuild(
        s, s"$dir/embeddings.parquet", emb, "embedding", "vec_id",
        m = 16, efConstruction = 64, numPartitions = 8,
        metric = graft.operators.HnswIndex.MetricL2)
      idx.search(q, 10, ef = n, idName = "vec_id")
        .select(col("vec_id"), round(-col("score"), 4).as("dist"))
    },
    Some(s"""WITH ${scaledSql(33)},
            d AS (SELECT e.vec_id,
                sqrt(sum(pow(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
                             - CAST(q.qe[CAST(i AS INT)] AS DOUBLE), 2))) AS dist
              FROM se e, q, range(1, 65) t(i)
              GROUP BY e.vec_id)
            SELECT vec_id, round(dist, 4) AS dist FROM d
            ORDER BY dist, vec_id LIMIT 10"""))

  /** HNSW forest built on METRIC ip over un-normalized vectors, full sweep
    * → exact inner-product top-k (pgvector `<#>`). */
  val v18KnnHnswIp: GraftQuery = GraftQuery(
    "v18_knn_hnsw_ip",
    (s, dir) => {
      import s.implicits._
      val emb = scaledEmb(s, dir)
      val q = scaledQuery(s, dir, 21)
      val n = emb.count().toInt
      val idx = graft.operators.HnswIndex.serveOrBuild(
        s, s"$dir/embeddings.parquet", emb, "embedding", "vec_id",
        m = 16, efConstruction = 64, numPartitions = 8,
        metric = graft.operators.HnswIndex.MetricIp)
      idx.search(q, 10, ef = n, idName = "vec_id")
        .select(col("vec_id"), round(col("score"), 4).as("ip"))
    },
    Some(s"""WITH ${scaledSql(21)},
            d AS (SELECT e.vec_id,
                sum(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
                    * CAST(q.qe[CAST(i AS INT)] AS DOUBLE)) AS ip
              FROM se e, q, range(1, 65) t(i)
              GROUP BY e.vec_id)
            SELECT vec_id, round(ip, 4) AS ip FROM d
            ORDER BY ip DESC, vec_id LIMIT 10"""))

  /** IVF home built on METRIC l2 (assignment, centroid ranking, and
    * scoring all L2), probing every cluster → exact L2 top-k. */
  val v19KnnIvfL2: GraftQuery = GraftQuery(
    "v19_knn_ivf_l2",
    (s, dir) => {
      val emb = scaledEmb(s, dir)
      val q = scaledQuery(s, dir, 33)
      val idx = graft.operators.IvfIndex.serveOrBuild(
        s, s"$dir/embeddings.parquet", emb, "embedding", nlist = 16,
        metric = graft.operators.IvfIndex.MetricL2)
      idx.search(q, 10, nprobe = 16, Seq("vec_id"))
        .select(col("vec_id"), round(-col("score"), 4).as("dist"))
    },
    Some(s"""WITH ${scaledSql(33)},
            d AS (SELECT e.vec_id,
                sqrt(sum(pow(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
                             - CAST(q.qe[CAST(i AS INT)] AS DOUBLE), 2))) AS dist
              FROM se e, q, range(1, 65) t(i)
              GROUP BY e.vec_id)
            SELECT vec_id, round(dist, 4) AS dist FROM d
            ORDER BY dist, vec_id LIMIT 10"""))

  /** IVF home built on METRIC ip, probing every cluster → exact
    * inner-product top-k. */
  val v20KnnIvfIp: GraftQuery = GraftQuery(
    "v20_knn_ivf_ip",
    (s, dir) => {
      val emb = scaledEmb(s, dir)
      val q = scaledQuery(s, dir, 21)
      val idx = graft.operators.IvfIndex.serveOrBuild(
        s, s"$dir/embeddings.parquet", emb, "embedding", nlist = 16,
        metric = graft.operators.IvfIndex.MetricIp)
      idx.search(q, 10, nprobe = 16, Seq("vec_id"))
        .select(col("vec_id"), round(col("score"), 4).as("ip"))
    },
    Some(s"""WITH ${scaledSql(21)},
            d AS (SELECT e.vec_id,
                sum(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
                    * CAST(q.qe[CAST(i AS INT)] AS DOUBLE)) AS ip
              FROM se e, q, range(1, 65) t(i)
              GROUP BY e.vec_id)
            SELECT vec_id, round(ip, 4) AS ip FROM d
            ORDER BY ip DESC, vec_id LIMIT 10"""))

  /** SQ8 scan under METRIC l2 over un-normalized vectors — the quadratic
    * ADC factorization (−‖q − v̂‖² read off the byte codes, never
    * dequantized). The oracle replays fit → encode → reconstruct →
    * squared-distance in SQL. */
  val v21KnnSq8L2: GraftQuery = GraftQuery(
    "v21_knn_sq8_l2",
    (s, dir) => {
      val emb = scaledEmb(s, dir)
      val q = scaledQuery(s, dir, 9)
      val model = graft.operators.Quantized.sq8Fit(emb, "embedding")
      graft.operators.Quantized.sq8Knn(emb, "vec_id", "embedding", q, 10, model,
          metric = graft.operators.HnswIndex.MetricL2)
        .select(col("vec_id"), round(col("qscore"), 4).as("qscore"))
    },
    Some(s"""WITH ${scaledSql(9)},
            x AS (SELECT vec_id, CAST(i AS INT) AS d,
                CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS v
              FROM se, range(1, 65) t(i)),
            sc AS (SELECT d, min(v) AS mn,
                CASE WHEN max(v) = min(v) THEN 0.0
                     ELSE (max(v) - min(v)) / 255.0 END AS scale
              FROM x GROUP BY d),
            codes AS (SELECT x.vec_id, x.d,
                CASE WHEN sc.scale = 0.0 THEN 0
                     ELSE least(greatest(
                       CAST(floor((x.v - sc.mn) / sc.scale + 0.5) AS INT), 0), 255)
                END AS code
              FROM x JOIN sc USING (d)),
            qd AS (SELECT CAST(i AS INT) AS d,
                CAST(qe[CAST(i AS INT)] AS DOUBLE) AS qv
              FROM q, range(1, 65) t(i)),
            sco AS (SELECT c.vec_id,
                -sum(pow(qd.qv - (sc.mn + sc.scale * c.code), 2)) AS qscore
              FROM codes c JOIN sc USING (d) JOIN qd USING (d)
              GROUP BY c.vec_id)
            SELECT vec_id, round(qscore, 4) AS qscore FROM sco
            ORDER BY qscore DESC, vec_id LIMIT 10"""))

  /** PQ serving under METRIC l2 over un-normalized vectors: the l2 ADC
    * LUT (−‖q_g − centroid‖² per subspace, summing to −‖q − v̂‖²
    * because subspaces partition the dims) shortlists, exact L2 re-ranks.
    * Fitted-codebook replay like v16, generated per scale factor. */
  val v22KnnPqL2: GraftQuery = GraftQuery(
    "v22_knn_pq_l2",
    (s, dir) => {
      val emb = scaledEmb(s, dir)
      val q = scaledQuery(s, dir, 7)
      graft.operators.Pq.knnIndexed(
          s, s"$dir/embeddings.parquet", emb, "vec_id", "embedding", q, 10,
          rerank = 200, m = 8, kCent = 32,
          metric = graft.operators.HnswIndex.MetricL2, variant = "scaled7")
        .select(col("vec_id"), round(-col("score"), 4).as("dist"))
    },
    None,
    oracleGen = Some((s, dir) => V22OracleSql.sql(s, dir)))

  /** Binary-signature serving under METRIC l2 over un-normalized vectors:
    * sign-bit Hamming shortlist (scale-invariant, the angular proxy), exact
    * L2 re-rank — pgvector's bit_hamming_ops + re-rank shape. */
  val v23KnnBinaryL2: GraftQuery = GraftQuery(
    "v23_knn_binary_l2",
    (s, dir) => {
      val emb = scaledEmb(s, dir)
      val q = scaledQuery(s, dir, 7)
      graft.operators.Quantized.binaryKnnIndexed(
          s, s"$dir/embeddings.parquet", emb, "vec_id", "embedding", q, 10,
          rerank = 100, metric = graft.operators.HnswIndex.MetricL2,
          variant = "scaled7")
        .select(col("vec_id"), round(-col("score"), 4).as("dist"))
    },
    Some(s"""WITH ${scaledSql(7)},
            h AS (SELECT e.vec_id,
                sum(CASE WHEN (e.embedding[CAST(i AS INT)] > 0)
                         <> (q.qe[CAST(i AS INT)] > 0) THEN 1 ELSE 0 END) AS ham
              FROM se e, q, range(1, 65) t(i)
              GROUP BY e.vec_id),
            cand AS (SELECT vec_id FROM h ORDER BY ham, vec_id LIMIT 100),
            d AS (SELECT e.vec_id,
                sqrt(sum(pow(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
                             - CAST(q.qe[CAST(i AS INT)] AS DOUBLE), 2))) AS dist
              FROM se e JOIN cand USING (vec_id), q, range(1, 65) t(i)
              GROUP BY e.vec_id)
            SELECT vec_id, round(dist, 4) AS dist FROM d
            ORDER BY dist, vec_id LIMIT 10"""))

  // ---------------------------------------------------------------- doc store

  /** Recursive-character chunking (pgml.chunk) over the documents table.
    * ORACLED: on this corpus the recursive separator hierarchy reduces to
    * the greedy word-merge fold, replayed in SQL (S1OracleSql); recursion
    * edge cases stay pinned in CollectionSpec.
    */
  val s1Chunk: GraftQuery = GraftQuery(
    "s1_chunk",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(graft.functions.ChunkFunctions.chunkText(col("text"), 120, 20))
            .as(Seq("chunk_index", "chunk")))
        .select(col("doc_id"), col("chunk_index").cast("long").as("chunk_index"),
          length(col("chunk")).cast("long").as("chunk_len"))
        .orderBy(col("doc_id"), col("chunk_index")),
    Some(S1OracleSql.sql))

  /** Mongo-style filter compiler applied to relational columns — validates
    * filter_builder semantics through the DuckDB gate.
    */
  val s2FilterCompiler: GraftQuery = GraftQuery(
    "s2_filter_compiler",
    (s, dir) =>
      t(s, dir, "documents")
        .where(graft.store.FilterCompiler.compile(
          """{"$and": [{"lang": {"$in": ["en", "de"]}}, {"n_chars": {"$gt": 500}}]}"""))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id")),
    Some("""SELECT doc_id, lang, n_chars FROM documents
            WHERE lang IN ('en', 'de') AND n_chars > 500 ORDER BY doc_id"""))

  /** ts_rank-style full-text scoring under plainto_tsquery AND semantics.
    * The oracle is written from the REFERENCE definition
    * (search_query_builder.rs:328-344): plainto_tsquery('spark data') is
    * 'spark & data', the `@@` gate requires BOTH terms present (else rank
    * 0), and normalization 32 maps the tf/len sum r to r/(r+1). The corpus
    * vocabulary is stemmer-neutral so the oracle counts raw tokens.
    */
  val s3FulltextRank: GraftQuery = GraftQuery(
    "s3_fulltext_rank",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.store.TsRank.rank(
            graft.store.TsRank.tsVector(col("text")), "spark data").as("r"))
        .select(col("doc_id"), round(col("r"), 5).as("rank"))
        .orderBy(col("doc_id")),
    Some("""WITH tk AS (SELECT doc_id,
              string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
            cnt AS (SELECT doc_id,
              CAST(len(list_filter(toks, x -> x = 'spark')) AS DOUBLE) AS c1,
              CAST(len(list_filter(toks, x -> x = 'data')) AS DOUBLE) AS c2,
              greatest(CAST(len(toks) AS DOUBLE), 1.0) AS len FROM tk)
            SELECT doc_id,
              round(CASE WHEN c1 > 0 AND c2 > 0
                THEN (c1 / len + c2 / len) / ((c1 / len + c2 / len) + 1.0)
                ELSE 0.0 END, 5) AS rank
            FROM cnt ORDER BY doc_id"""))

  /** End-to-end document-store flow, HASH-GATED: upsert documents-table
    * rows as JSON docs → sync pipeline (chunk → hash-embed → tsvector) →
    * chunk-level vector search (vector_search_query_builder.rs:77-401 is
    * the reference contract). The chunk size exceeds every document (the
    * recursive splitter is a separate oracled surface: s1 + s6 +
    * CollectionSpec), so the synced chunks ARE the documents' text column —
    * which lets the oracle replay the ENTIRE remaining path in DuckDB:
    * md5 document identity, the FNV-1a-64 + splitmix64 ±1 bag-of-words
    * projection with float32 rounding (HashEmbedder.scala:29-53), the
    * sequential-fold cosine (VectorKernels.cosineF), and the
    * (score desc, document_id) top-k — all in HUGEINT mod-2⁶⁴ SQL, the
    * same replay family as d2/mm1.
    */
  // ---- shared e2e-collection harness: one warehouse per (dir, splitter),
  // ingested once per JVM. The search queries (s4/s6) reuse it, so their
  // bench numbers are SEARCH latency; the ingest leg is timed separately
  // as `s4_ingest` (and re-runs the full upsert → chunk → embed → tsvector
  // path on every call). No temp-dir leak: the warehouse is reused.
  private val e2eWh = scala.collection.concurrent.TrieMap.empty[String, String]
  private val e2eIngested = scala.collection.concurrent.TrieMap.empty[String, Boolean]

  private def e2ePipeline(chunkSize: Int, overlap: Int): graft.store.Pipeline =
    graft.store.Pipeline("p", Seq(graft.store.PipelineField(
      "text", splitter = Some((chunkSize, overlap)),
      semanticSearch = Some(graft.functions.HashEmbedder(64)), fullTextSearch = true)))

  /** Always runs the ingest leg (idempotent upsert-merge + full re-sync)
    * into the per-config warehouse. */
  def e2eIngest(s: SparkSession, dir: String, chunkSize: Int, overlap: Int)
      : (graft.store.Collection, graft.store.Pipeline) = {
    val key = s"$dir#$chunkSize#$overlap"
    val wh = e2eWh.getOrElseUpdate(key,
      java.nio.file.Files.createTempDirectory("graft_e2e_wh_").toString)
    val c = new graft.store.Collection(s, "docs", wh)
    val p = e2ePipeline(chunkSize, overlap)
    c.upsertDocuments(
      t(s, dir, "documents").select(
        to_json(struct(col("doc_id").as("id"), col("text"), col("lang"),
          col("source"), col("n_chars"))).as("document")))
    c.syncPipeline(p)
    e2eIngested.put(key, true)
    (c, p)
  }

  /** Handle over an already-ingested warehouse (ingests on first use). */
  def e2eCollection(s: SparkSession, dir: String, chunkSize: Int, overlap: Int)
      : (graft.store.Collection, graft.store.Pipeline) = {
    val key = s"$dir#$chunkSize#$overlap"
    if (!e2eIngested.contains(key)) e2eIngest(s, dir, chunkSize, overlap)
    else (new graft.store.Collection(s, "docs", e2eWh(key)), e2ePipeline(chunkSize, overlap))
  }

  /** DuckDB replay of the whole-document hash-embed + cosine scoring of
    * `vectorSearch` under the one-chunk-per-document config: documents ∪
    * the query text hash-embed (FNV-1a token hash → splitmix64 per-dim
    * sign → L2-normalized float32) replayed in HUGEINT limb SQL, then
    * cosine against the query row. Ends at CTE `scored(doc_id, raw)` —
    * callers append their own SELECT (s4's top-k, s8's RAG composition).
    */
  private[queries] def s4ScoredCtes(queryText: String): String =
    s"""${hashEmbedCtes(s"""SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
              UNION ALL SELECT -1, '$queryText'""")},
            scored AS (SELECT dv.doc_id,
                list_reduce(list_transform(range(1, 65), i -> dv.v[i] * q.v[i]), (x, y) -> x + y) AS dt,
                list_reduce(list_transform(range(1, 65), i -> dv.v[i] * dv.v[i]), (x, y) -> x + y) AS na,
                list_reduce(list_transform(range(1, 65), i -> q.v[i] * q.v[i]), (x, y) -> x + y) AS nb,
                CASE WHEN sqrt(na) * sqrt(nb) = 0 THEN 0.0
                     ELSE dt / (sqrt(na) * sqrt(nb)) END AS raw
              FROM vecs dv, (SELECT v FROM vecs WHERE doc_id = -1) q
              WHERE dv.doc_id >= 0)"""

  /** The hash-embed replay alone (FNV-1a token hash → splitmix64 per-dim
    * sign → L2-normalized float32, as HUGEINT limb SQL) over any
    * `inp(doc_id, text)` body — ends at CTE `vecs(doc_id, v)` with `v` a
    * 64-double list in dim order. Shared by the s4/s7/s8 scoring replays
    * and the x6 generate replay. */
  private[queries] def hashEmbedCtes(inpBody: String): String =
    s"""inp AS (
              $inpBody),
            tok AS (SELECT doc_id,
              unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                t -> t <> '')) AS t FROM inp),
            toku AS (SELECT DISTINCT t FROM tok),
            th AS (SELECT t, list_reduce(
                list_concat([14695981039346656037::HUGEINT],
                  list_transform(flatten(list_transform(string_split(t, ''), ch ->
                    CASE WHEN unicode(ch) < 128 THEN [unicode(ch)]
                         WHEN unicode(ch) < 2048 THEN [192 + unicode(ch) // 64, 128 + unicode(ch) % 64]
                         WHEN unicode(ch) < 65536 THEN [224 + unicode(ch) // 4096, 128 + (unicode(ch) // 64) % 64, 128 + unicode(ch) % 64]
                         ELSE [240 + unicode(ch) // 262144, 128 + (unicode(ch) // 4096) % 64, 128 + (unicode(ch) // 64) % 64, 128 + unicode(ch) % 64]
                    END)), b -> b::HUGEINT)),
                (h, b) -> (xor(h, b) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT) AS h
              FROM toku),
            sgn AS (SELECT t, d,
                xor(h, (d::HUGEINT * 11400714819323198485::HUGEINT) % 18446744073709551616::HUGEINT) AS z0,
                xor(z0, z0 >> 30) AS x1,
                ((x1 % 4294967296::HUGEINT) * 13787848793156543929::HUGEINT
                  + (((x1 // 4294967296::HUGEINT) * 484763065::HUGEINT) % 4294967296::HUGEINT)
                    * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS z1,
                xor(z1, z1 >> 27) AS x2,
                ((x2 % 4294967296::HUGEINT) * 10723151780598845931::HUGEINT
                  + (((x2 // 4294967296::HUGEINT) * 321982955::HUGEINT) % 4294967296::HUGEINT)
                    * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS z2,
                xor(z2, z2 >> 31) AS r,
                CASE WHEN (r % 2::HUGEINT) = 0::HUGEINT THEN 1.0 ELSE -1.0 END AS s
              FROM th, (SELECT unnest(range(0, 64)) AS d)),
            acc AS (SELECT tok.doc_id, sgn.d, sum(sgn.s) AS a
              FROM tok JOIN sgn ON tok.t = sgn.t GROUP BY tok.doc_id, sgn.d),
            nrm AS (SELECT doc_id, sqrt(sum(a * a)) AS nr FROM acc GROUP BY doc_id),
            fvec AS (SELECT acc.doc_id, acc.d, CAST(acc.a * (1.0 / nrm.nr) AS REAL) AS f
              FROM acc JOIN nrm ON acc.doc_id = nrm.doc_id),
            vecs AS (SELECT doc_id, list(CAST(f AS DOUBLE) ORDER BY d) AS v
              FROM fvec GROUP BY doc_id)"""

  val s4VectorSearchE2e: GraftQuery = GraftQuery(
    "s4_vector_search_e2e",
    (s, dir) => {
      val (c, p) = e2eCollection(s, dir, 100000, 0)
      c.vectorSearch(p,
          Seq(graft.store.VectorSearchField("text", "spark query table join")), limit = 10)
        .select(get_json_object(col("document"), "$.id").cast("long").as("doc_id"),
          col("chunk"), round(col("score"), 5).as("score"))
    },
    Some(s"""WITH ${s4ScoredCtes("spark query table join")}
            SELECT sc.doc_id, d.text AS chunk, round(sc.raw, 5) AS score
            FROM scored sc JOIN documents d ON sc.doc_id = d.doc_id
            ORDER BY sc.raw DESC, md5(CAST(sc.doc_id AS VARCHAR)) LIMIT 10"""))

  /** Search logging (s9): `searchAndLog` writes every search into the
    * collection's searches/search_results tables inside the query call
    * (the reference logs via data-modifying CTEs in the same statement,
    * search_query_builder.rs:476-518). The logged CONTENT is
    * deterministic — per-rank document ids and scores — while search_id
    * is a timestamp; the query keys each logged search by its query JSON
    * (latest id per query, stable under re-runs) and the oracle replays
    * both searches' top-10 from the s4 hash-embed machinery with
    * per-query rank windows. What the gate verifies: the logging path
    * records exactly the rows the search returned, at the right ranks.
    */
  val s9SearchLog: GraftQuery = GraftQuery(
    "s9_search_log",
    (s, dir) => {
      val (c, p) = e2eCollection(s, dir, 100000, 0)
      val qs = Seq("spark query table join", "vector search batch")
      qs.foreach(q => c.searchAndLog(p,
        semantic = Seq(graft.store.VectorSearchField("text", q, boost = 1.0)),
        limit = 10))
      val latest = c.searches.groupBy(col("query"))
        .agg(max(col("search_id")).as("search_id"))
      latest.join(c.searchResults, Seq("search_id"))
        .select(
          when(col("query").contains("spark query"), lit(1)).otherwise(lit(2)).as("q"),
          col("rank"), col("document_id").as("doc_id"),
          round(col("score"), 5).as("score"))
        .orderBy(col("q"), col("rank"))
    },
    Some(s"""WITH ${hashEmbedCtes(
        """SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
              UNION ALL SELECT -1, 'spark query table join'
              UNION ALL SELECT -2, 'vector search batch'""")},
            sc AS (SELECT -q.doc_id AS q, dv.doc_id,
                list_reduce(list_transform(range(1, 65), i -> dv.v[i] * q.v[i]), (x, y) -> x + y) AS dt,
                list_reduce(list_transform(range(1, 65), i -> dv.v[i] * dv.v[i]), (x, y) -> x + y) AS na,
                list_reduce(list_transform(range(1, 65), i -> q.v[i] * q.v[i]), (x, y) -> x + y) AS nb,
                CASE WHEN sqrt(na) * sqrt(nb) = 0 THEN 0.0
                     ELSE dt / (sqrt(na) * sqrt(nb)) END AS raw
              FROM vecs dv, (SELECT doc_id, v FROM vecs WHERE doc_id < 0) q
              WHERE dv.doc_id >= 0),
            rk AS (SELECT q, doc_id, raw, row_number() OVER (
                PARTITION BY q ORDER BY raw DESC, md5(CAST(doc_id AS VARCHAR)))
                AS rank FROM sc)
            SELECT CAST(q AS INT) AS q, CAST(rank AS INT) AS rank,
              md5(CAST(doc_id AS VARCHAR)) AS doc_id, round(raw, 5) AS score
            FROM rk WHERE rank <= 10 ORDER BY q, rank"""))

  /** METADATA-FILTERED vector search (s10): the filtered-ANN serving
    * shape — `vectorSearch` with a compiled JSON metadata filter
    * (vector_search with `filter`, search_query_builder.rs:214-260; the
    * pgvector filtered-search problem). The index path over-fetches and
    * refills so the post-filter top-k is exact; the oracle replays the
    * s4 hash-embed cosine machinery WHERE-gated by the same predicate —
    * the filter-then-rank composition is what the hash gate verifies.
    */
  val s10FilteredSearch: GraftQuery = GraftQuery(
    "s10_filtered_search",
    (s, dir) => {
      val (c, p) = e2eCollection(s, dir, 100000, 0)
      c.vectorSearch(p,
          Seq(graft.store.VectorSearchField("text", "spark query table join")),
          limit = 10,
          filterJson = Some(
            """{"$and": [{"lang": {"$in": ["en", "de"]}}, {"n_chars": {"$gt": 300}}]}"""))
        .select(get_json_object(col("document"), "$.id").cast("long").as("doc_id"),
          round(col("score"), 5).as("score"))
    },
    Some(s"""WITH ${s4ScoredCtes("spark query table join")}
            SELECT sc.doc_id, round(sc.raw, 5) AS score
            FROM scored sc JOIN documents d ON sc.doc_id = d.doc_id
            WHERE d.lang IN ('en', 'de') AND d.n_chars > 300
            ORDER BY sc.raw DESC, md5(CAST(sc.doc_id AS VARCHAR)) LIMIT 10"""))

  // delete-cascade warehouse: its OWN ingest (the shared e2e warehouse
  // must keep every document for the other s-queries), deleted once per
  // session+dir
  private val s11Done =
    scala.collection.concurrent.TrieMap.empty[String, Boolean]
  private def s11Collection(s: SparkSession, dir: String)
      : (graft.store.Collection, graft.store.Pipeline) = {
    val key = s"s11#${skey(s)}#$dir"
    val wh = e2eWh.getOrElseUpdate(key,
      java.nio.file.Files.createTempDirectory("graft_s11_wh_").toString)
    val c = new graft.store.Collection(s, "docs", wh)
    val p = graft.store.Pipeline("p", Seq(graft.store.PipelineField(
      "text", splitter = Some((100000, 0)),
      semanticSearch = Some(graft.functions.HashEmbedder(64)),
      fullTextSearch = false)))
    if (!s11Done.contains(key)) {
      c.upsertDocuments(
        t(s, dir, "documents").select(
          to_json(struct(col("doc_id").as("id"), col("text"), col("lang"),
            col("source"), col("n_chars"))).as("document")))
      c.syncPipeline(p)
      c.deleteDocuments("""{"source": {"$in": ["src0", "src1", "src2"]}}""")
      s11Done.put(key, true)
    }
    (c, p)
  }

  /** Document delete with FK-style cascade (s11): `deleteDocuments` with
    * a compiled JSON filter tombstones the documents AND every pipeline's
    * derived rows (chunks/embeddings — queries.rs:49-66's ON DELETE
    * CASCADE at delta-table cost), so a vector search after the delete
    * serves only survivors — no orphaned chunks can rank. The oracle
    * replays the s4 scoring machinery over the documents the filter
    * KEEPS, plus the surviving document count as a per-row gate column:
    * a resurrected document (the changelog-marker hazard the delete path
    * guards) or a leaked chunk breaks either the top-10 or the count.
    */
  val s11DeleteCascade: GraftQuery = GraftQuery(
    "s11_delete_cascade",
    (s, dir) => {
      val (c, p) = s11Collection(s, dir)
      val nDocs = c.documents.count()
      c.vectorSearch(p,
          Seq(graft.store.VectorSearchField("text", "spark query table join")),
          limit = 10)
        .select(get_json_object(col("document"), "$.id").cast("long").as("doc_id"),
          round(col("score"), 5).as("score"), lit(nDocs).as("n_docs"))
    },
    Some(s"""WITH ${hashEmbedCtes(
          """SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
              WHERE source NOT IN ('src0', 'src1', 'src2')
              UNION ALL SELECT -1, 'spark query table join'""")},
            scored AS (SELECT dv.doc_id,
                list_reduce(list_transform(range(1, 65), i -> dv.v[i] * q.v[i]), (x, y) -> x + y) AS dt,
                list_reduce(list_transform(range(1, 65), i -> dv.v[i] * dv.v[i]), (x, y) -> x + y) AS na,
                list_reduce(list_transform(range(1, 65), i -> q.v[i] * q.v[i]), (x, y) -> x + y) AS nb,
                CASE WHEN sqrt(na) * sqrt(nb) = 0 THEN 0.0
                     ELSE dt / (sqrt(na) * sqrt(nb)) END AS raw
              FROM vecs dv, (SELECT v FROM vecs WHERE doc_id = -1) q
              WHERE dv.doc_id >= 0),
            nd AS (SELECT count(*) AS n_docs FROM documents
              WHERE source NOT IN ('src0', 'src1', 'src2'))
            SELECT sc.doc_id, round(sc.raw, 5) AS score, nd.n_docs
            FROM scored sc, nd
            ORDER BY sc.raw DESC, md5(CAST(sc.doc_id AS VARCHAR)) LIMIT 10"""))

  /** Filesystem ingestion (s12): `upsert_directory` (collection.rs:1413,
    * 1662) — every file under a directory becomes a document
    * {"id": path, "text": contents}. The query materializes a corpus
    * slice as files, ingests the directory, and reads the documents
    * back; the oracle rebuilds (file name, contents) from the documents
    * table — ingestion must round-trip file contents byte-exactly and
    * key each document by its path.
    */
  val s12UpsertDirectory: GraftQuery = GraftQuery(
    "s12_upsert_directory",
    (s, dir) => {
      import s.implicits._
      val files = java.nio.file.Files.createTempDirectory("graft_s12_files_")
      t(s, dir, "documents").where(col("doc_id") < 20)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .collect().foreach { case (id, text) =>
          java.nio.file.Files.writeString(files.resolve(f"doc_$id%03d.txt"), text)
        }
      val wh = java.nio.file.Files.createTempDirectory("graft_s12_wh_").toString
      val c = new graft.store.Collection(s, "docs", wh)
      c.upsertDirectory(files.toString)
      c.documents
        .select(
          regexp_extract(get_json_object(col("document"), "$.id"),
            "doc_\\d+\\.txt$", 0).as("fname"),
          get_json_object(col("document"), "$.text").as("text"))
        .orderBy(col("fname"))
    },
    Some("""SELECT printf('doc_%03d.txt', doc_id) AS fname, text
            FROM documents WHERE doc_id < 20 ORDER BY fname"""))

  /** Chunked variant of the e2e flow (the recursive splitter in the loop,
    * 200/20). ORACLED: S6OracleSql composes the s1 chunk-fold replay with
    * the s4 per-chunk embedding + cosine + top-k replay — the whole
    * chunk → embed → search path under one DuckDB hash gate.
    */
  val s6VectorSearchChunked: GraftQuery = GraftQuery(
    "s6_vector_search_chunked",
    (s, dir) => {
      val (c, p) = e2eCollection(s, dir, 200, 20)
      c.vectorSearch(p,
          Seq(graft.store.VectorSearchField("text", "spark query table join")), limit = 10)
        .select(get_json_object(col("document"), "$.id").cast("long").as("doc_id"),
          col("chunk"), round(col("score"), 5).as("score"))
    },
    Some(S6OracleSql.sql))

  /** Document-level HYBRID search (`collection.search`,
    * search_query_builder.rs:437-470), ORACLED end to end: per-arm
    * best-chunk-per-document (semantic = hash-embed cosine × boost, the s4
    * replay; full-text = ts_rank(32) × boost gated on all-terms-present,
    * the s3 replay), FULL OUTER JOIN + COALESCE-sum fusion, global top-k.
    * Boosts are dyadic (0.75 / 0.5) so the float math is IEEE-identical
    * across engines. The chunk config (100000) makes each document one
    * chunk, so the window dedup is the identity and the DuckDB replay
    * needs no chunk fold — fusion itself is what this query gates.
    */
  val s7HybridSearch: GraftQuery = GraftQuery(
    "s7_hybrid_search",
    (s, dir) => {
      val (c, p) = e2eCollection(s, dir, 100000, 0)
      c.search(p,
          semantic = Seq(graft.store.VectorSearchField(
            "text", "spark query table join", boost = 0.75)),
          fullText = Seq(graft.store.FullTextField("text", "spark data", boost = 0.5)),
          limit = 10)
        .select(col("document_id"),
          get_json_object(col("document"), "$.id").cast("long").as("doc_id"),
          round(col("score"), 5).as("score"))
    },
    Some("""WITH inp AS (
              SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
              UNION ALL SELECT -1, 'spark query table join'),
            tok AS (SELECT doc_id,
              unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                t -> t <> '')) AS t FROM inp),
            toku AS (SELECT DISTINCT t FROM tok),
            th AS (SELECT t, list_reduce(
                list_concat([14695981039346656037::HUGEINT],
                  list_transform(flatten(list_transform(string_split(t, ''), ch ->
                    CASE WHEN unicode(ch) < 128 THEN [unicode(ch)]
                         WHEN unicode(ch) < 2048 THEN [192 + unicode(ch) // 64, 128 + unicode(ch) % 64]
                         WHEN unicode(ch) < 65536 THEN [224 + unicode(ch) // 4096, 128 + (unicode(ch) // 64) % 64, 128 + unicode(ch) % 64]
                         ELSE [240 + unicode(ch) // 262144, 128 + (unicode(ch) // 4096) % 64, 128 + (unicode(ch) // 64) % 64, 128 + unicode(ch) % 64]
                    END)), b -> b::HUGEINT)),
                (h, b) -> (xor(h, b) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT) AS h
              FROM toku),
            sgn AS (SELECT t, d,
                xor(h, (d::HUGEINT * 11400714819323198485::HUGEINT) % 18446744073709551616::HUGEINT) AS z0,
                xor(z0, z0 >> 30) AS x1,
                ((x1 % 4294967296::HUGEINT) * 13787848793156543929::HUGEINT
                  + (((x1 // 4294967296::HUGEINT) * 484763065::HUGEINT) % 4294967296::HUGEINT)
                    * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS z1,
                xor(z1, z1 >> 27) AS x2,
                ((x2 % 4294967296::HUGEINT) * 10723151780598845931::HUGEINT
                  + (((x2 // 4294967296::HUGEINT) * 321982955::HUGEINT) % 4294967296::HUGEINT)
                    * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS z2,
                xor(z2, z2 >> 31) AS r,
                CASE WHEN (r % 2::HUGEINT) = 0::HUGEINT THEN 1.0 ELSE -1.0 END AS s
              FROM th, (SELECT unnest(range(0, 64)) AS d)),
            acc AS (SELECT tok.doc_id, sgn.d, sum(sgn.s) AS a
              FROM tok JOIN sgn ON tok.t = sgn.t GROUP BY tok.doc_id, sgn.d),
            nrm AS (SELECT doc_id, sqrt(sum(a * a)) AS nr FROM acc GROUP BY doc_id),
            fvec AS (SELECT acc.doc_id, acc.d, CAST(acc.a * (1.0 / nrm.nr) AS REAL) AS f
              FROM acc JOIN nrm ON acc.doc_id = nrm.doc_id),
            vecs AS (SELECT doc_id, list(CAST(f AS DOUBLE) ORDER BY d) AS v
              FROM fvec GROUP BY doc_id),
            sem AS (SELECT dv.doc_id,
                list_reduce(list_transform(range(1, 65), i -> dv.v[i] * q.v[i]), (x, y) -> x + y) AS dt,
                list_reduce(list_transform(range(1, 65), i -> dv.v[i] * dv.v[i]), (x, y) -> x + y) AS na,
                list_reduce(list_transform(range(1, 65), i -> q.v[i] * q.v[i]), (x, y) -> x + y) AS nb,
                (CASE WHEN sqrt(na) * sqrt(nb) = 0 THEN 0.0
                      ELSE dt / (sqrt(na) * sqrt(nb)) END) * 0.75 AS s0
              FROM vecs dv, (SELECT v FROM vecs WHERE doc_id = -1) q
              WHERE dv.doc_id >= 0),
            dtok AS (SELECT doc_id,
              string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
            cnt AS (SELECT doc_id,
              CAST(len(list_filter(toks, x -> x = 'spark')) AS DOUBLE) AS c1,
              CAST(len(list_filter(toks, x -> x = 'data')) AS DOUBLE) AS c2,
              greatest(CAST(len(toks) AS DOUBLE), 1.0) AS len FROM dtok),
            fts AS (SELECT doc_id,
              ((c1 / len + c2 / len) / ((c1 / len + c2 / len) + 1.0)) * 0.5 AS s1
              FROM cnt WHERE c1 > 0 AND c2 > 0),
            fused AS (SELECT coalesce(sem.doc_id, fts.doc_id) AS doc_id,
                coalesce(sem.s0, 0.0) + coalesce(fts.s1, 0.0) AS total
              FROM sem FULL OUTER JOIN fts ON sem.doc_id = fts.doc_id)
            SELECT md5(CAST(doc_id AS VARCHAR)) AS document_id, doc_id,
              round(total, 5) AS score
            FROM fused
            ORDER BY total DESC, md5(CAST(doc_id AS VARCHAR)) LIMIT 10"""))

  private val s13Cache = scala.collection.concurrent.TrieMap
    .empty[String, graft.functions.CrossEncoderReranker.Model]

  /** Fit the interaction-feature cross-encoder on deterministic pairs from
    * the corpus under test: each document's leading 6 words form its query
    * (positive pair); the NEXT document's text is the negative — the
    * EmbedderSpec fixture shape over real testdata. Cached per
    * (session, dir) like x9Fit so the query fn and the oracle generator
    * replay the SAME fitted weights. */
  private def s13Fit(s: SparkSession, dir: String)
      : graft.functions.CrossEncoderReranker.Model =
    s13Cache.getOrElseUpdate(s"${skey(s)}#$dir", {
      val docs = t(s, dir, "documents").where(col("doc_id") < 60)
        .select(col("doc_id"), col("text"),
          concat_ws(" ", slice(split(col("text"), " "), 1, 6)).as("q"))
      val pos = docs.select(col("q"), col("text").as("chunk"), lit(1.0).as("label"))
      val next = docs.select((col("doc_id") - 1).as("doc_id"), col("text").as("ntext"))
      val neg = docs.join(next, Seq("doc_id"))
        .select(col("q"), col("ntext").as("chunk"), lit(0.0).as("label"))
      graft.functions.CrossEncoderReranker.fit(
        pos.unionAll(neg), "q", "chunk", "label", graft.functions.HashEmbedder(64))
    })

  /** vector_search WITH the trained cross-encoder rerank stage (closes the
    * last tested-only §2.3 row): the chunked s6 retrieval fetches a 20-row
    * shortlist (kGlobal = max(limit, rerank)), the interaction-feature
    * cross-encoder scores each (query, chunk) pair map-side inside the
    * shortlist's plan, and the final top-10 re-orders by rerank_score —
    * vector_search_query_builder.rs:332-381's (rank).corpus_id alignment
    * join re-expressed as the column-level rerank seam, returning
    * (document, chunk, score, rerank_score) like rs:367-381. The generated
    * oracle replays EVERYTHING in DuckDB: S6OracleSql's chunk-fold +
    * hash-embed + cosine CTEs, the 20-row shortlist cut, all six
    * interaction features (query-side features fold to literals — the
    * query text is a constant: 4 distinct tokens, 3 distinct bigrams), and
    * the sigmoid with the FITTED weights inlined. Integer-ratio features
    * are IEEE-exact; round(4) covers the sigmoid's exp ULP spread; the
    * ordering itself uses unrounded scores on both engines with the
    * (md5-uuid, chunk_index) tie-break. */
  val s13RerankCrossEncoder: GraftQuery = GraftQuery(
    "s13_rerank_cross_encoder",
    (s, dir) => {
      val model = s13Fit(s, dir)
      val (c, p) = e2eCollection(s, dir, 200, 20)
      c.vectorSearch(p,
          Seq(graft.store.VectorSearchField("text", "spark query table join")),
          limit = 10, rerank = Some(20),
          reranker = graft.functions.CrossEncoderReranker(model))
        .select(get_json_object(col("document"), "$.id").cast("long").as("doc_id"),
          col("chunk"),
          (round(col("score"), 5) + lit(0.0)).as("score"),
          (round(col("rerank_score"), 4) + lit(0.0)).as("rerank_score"))
    },
    None,
    oracleGen = Some { (s, dir) =>
      val m = s13Fit(s, dir)
      val w = m.weights
      val qlist = "['spark','query','table','join']"
      val qbi = "['spark query','query table','table join']"
      s"""WITH ${S6OracleSql.ctes},
         |short AS (SELECT sc.doc_id, sc.chunk_index, c.chunk, sc.raw
         |  FROM scored sc JOIN chunks c ON sc.doc_id = c.doc_id AND sc.chunk_index = c.chunk_index
         |  ORDER BY sc.raw DESC, md5(CAST(sc.doc_id AS VARCHAR)), sc.chunk_index LIMIT 20),
         |ftok AS (SELECT doc_id, chunk_index, chunk, raw,
         |    list_filter(string_split_regex(trim(lower(chunk)), '\\s+'), t -> t <> '') AS ct
         |  FROM short),
         |fset AS (SELECT doc_id, chunk_index, chunk, raw, ct,
         |    list_distinct(ct) AS cd,
         |    CASE WHEN len(ct) >= 2
         |      THEN list_distinct(list_transform(range(1, len(ct)), i -> ct[i] || ' ' || ct[i+1]))
         |      ELSE []::VARCHAR[] END AS bc
         |  FROM ftok),
         |feat AS (SELECT doc_id, chunk_index, chunk, raw,
         |    CAST(len(list_intersect(cd, $qlist)) AS DOUBLE)
         |      / greatest(len(list_distinct(list_concat(cd, $qlist))), 1) AS f0,
         |    CAST(len(list_intersect(cd, $qlist)) AS DOUBLE) / 4.0 AS f1,
         |    CAST(len(list_filter(ct, tw -> list_contains($qlist, tw))) AS DOUBLE)
         |      / CAST(4 * greatest(len(ct), 1) AS DOUBLE) AS f2,
         |    CAST(len(list_intersect(bc, $qbi)) AS DOUBLE) / 3.0 AS f3,
         |    least(4.0 / greatest(len(cd), 1),
         |      CAST(greatest(len(cd), 1) AS DOUBLE) / 4.0) AS f4,
         |    raw AS f5
         |  FROM fset),
         |prb AS (SELECT doc_id, chunk_index, chunk, raw,
         |    1.0 / (1.0 + exp(-((${dlit(m.intercept)}) + (f0 * (${dlit(w(0))})
         |      + f1 * (${dlit(w(1))}) + f2 * (${dlit(w(2))}) + f3 * (${dlit(w(3))})
         |      + f4 * (${dlit(w(4))}) + f5 * (${dlit(w(5))}))))) AS rs
         |  FROM feat)
         |SELECT doc_id, chunk, round(raw, 5) + 0.0 AS score,
         |  round(rs, 4) + 0.0 AS rerank_score
         |FROM prb ORDER BY rs DESC, md5(CAST(doc_id AS VARCHAR)), chunk_index LIMIT 10""".stripMargin
    })

  /** Fluent `query_builder` façade ORACLED (s14): the deprecated SDK
    * surface `collection.query().vector_recall(q, pipeline).limit(n)
    * .filter(f).fetch_all()` (pgml-sdks/pgml/src/query_builder.rs:1-113)
    * routed through the SAME filtered vector-search path s10 gates — the
    * façade must add nothing and lose nothing, so its oracle is s10's
    * replay verbatim (hash-embed cosine WHERE-gated by the compiled JSON
    * metadata predicate, then top-10). */
  val s14QueryBuilder: GraftQuery = GraftQuery(
    "s14_query_builder",
    (s, dir) => {
      val (c, p) = e2eCollection(s, dir, 100000, 0)
      c.query()
        .vectorRecall("spark query table join", p)
        .limit(10)
        .filter(
          """{"$and": [{"lang": {"$in": ["en", "de"]}}, {"n_chars": {"$gt": 300}}]}""")
        .fetchAll()
        .select(get_json_object(col("document"), "$.id").cast("long").as("doc_id"),
          round(col("score"), 5).as("score"))
    },
    Some(s"""WITH ${s4ScoredCtes("spark query table join")}
            SELECT sc.doc_id, round(sc.raw, 5) AS score
            FROM scored sc JOIN documents d ON sc.doc_id = d.doc_id
            WHERE d.lang IN ('en', 'de') AND d.n_chars > 300
            ORDER BY sc.raw DESC, md5(CAST(sc.doc_id AS VARCHAR)) LIMIT 10"""))

  // remote-embeddings warehouse: its own ingest (the pipeline's embedder
  // is the REMOTE batch-contract client, not the column kernel), once per
  // session+dir
  private val s15Done =
    scala.collection.concurrent.TrieMap.empty[String, Boolean]

  /** Remote-embeddings boundary ORACLED end to end (s15): the pipeline's
    * semantic-search embedder is [[graft.functions.RemoteEmbedder]] over
    * the batch-contract client protocol
    * (pgml-sdks/pgml/src/remote_embeddings.rs:1-197) — texts reach the
    * client in fixed-size slices, one request per slice, one embedding
    * per input in order, via `mapPartitions` (never a call per row). The
    * offline [[graft.functions.HashBackedClient]] endpoint serves the
    * hash kernel behind that protocol, so the s4 DuckDB replay gates the
    * WHOLE remote path: a dropped/reordered/mis-sliced batch, a per-row
    * call that breaks on the empty slice, or a driver-side query
    * embedding that bypasses the client would all break the hash. */
  val s15RemoteEmbeddings: GraftQuery = GraftQuery(
    "s15_remote_embeddings",
    (s, dir) => {
      val key = s"s15#${skey(s)}#$dir"
      val wh = e2eWh.getOrElseUpdate(key,
        java.nio.file.Files.createTempDirectory("graft_s15_wh_").toString)
      val c = new graft.store.Collection(s, "docs", wh)
      val p = graft.store.Pipeline("p", Seq(graft.store.PipelineField(
        "text", splitter = Some((100000, 0)),
        semanticSearch = Some(graft.functions.RemoteEmbedder(
          graft.functions.HashBackedClient(64), dim = 64, batchSize = 32)),
        fullTextSearch = false)))
      if (!s15Done.contains(key)) {
        c.upsertDocuments(
          t(s, dir, "documents").select(
            to_json(struct(col("doc_id").as("id"), col("text"), col("lang"),
              col("source"), col("n_chars"))).as("document")))
        c.syncPipeline(p)
        s15Done.put(key, true)
      }
      c.vectorSearch(p,
          Seq(graft.store.VectorSearchField("text", "spark query table join")), limit = 10)
        .select(get_json_object(col("document"), "$.id").cast("long").as("doc_id"),
          col("chunk"), round(col("score"), 5).as("score"))
    },
    Some(s"""WITH ${s4ScoredCtes("spark query table join")}
            SELECT sc.doc_id, d.text AS chunk, round(sc.raw, 5) AS score
            FROM scored sc JOIN documents d ON sc.doc_id = d.doc_id
            ORDER BY sc.raw DESC, md5(CAST(sc.doc_id AS VARCHAR)) LIMIT 10"""))

  /** RAG envelope ORACLED end to end (`collection.rag`,
    * pgml-sdks rag query shape): vectorSearch retrieves top-3 chunks, the
    * prompt template's `{CONTEXT}` slot is filled with the newline-joined
    * chunks, and the deterministic EchoGenerator digests the prompt (first
    * 32 whitespace tokens behind a "[generated] " prefix — the offline
    * stand-in for the in-process text-generation boundary). The DuckDB
    * replay composes the s4 hash-embed/cosine CTEs with string_agg +
    * replace + token-slice, so retrieval, composition, source attribution,
    * and generation all sit behind ONE hash gate. Sources are joined with
    * chr(31) (the list-safe separator the S1 oracle established).
    */
  val s8Rag: GraftQuery = GraftQuery(
    "s8_rag",
    (s, dir) => {
      import s.implicits._
      val (c, p) = e2eCollection(s, dir, 100000, 0)
      val res = c.rag(p,
        vars = Map("CONTEXT" ->
          (Seq(graft.store.VectorSearchField("text", "spark query table join")), 3)),
        promptTemplate = "Answer from context: {CONTEXT} Q: spark query table join",
        joinSep = "\n")
      Seq((res.rag, res.sources("CONTEXT").mkString("\u001f")))
        .toDF("rag", "sources")
    },
    Some(s"""WITH ${s4ScoredCtes("spark query table join")},
            top3 AS (SELECT sc.doc_id, d.text AS chunk, sc.raw
              FROM scored sc JOIN documents d ON sc.doc_id = d.doc_id
              ORDER BY sc.raw DESC, md5(CAST(sc.doc_id AS VARCHAR)) LIMIT 3),
            agg AS (SELECT
                string_agg(chunk, chr(10)
                  ORDER BY raw DESC, md5(CAST(doc_id AS VARCHAR))) AS ctx,
                string_agg(chunk, chr(31)
                  ORDER BY raw DESC, md5(CAST(doc_id AS VARCHAR))) AS srcs
              FROM top3),
            pr AS (SELECT replace(
                'Answer from context: {CONTEXT} Q: spark query table join',
                '{CONTEXT}', ctx) AS prompt, srcs FROM agg)
            SELECT '[generated] ' || array_to_string(
                list_slice(string_split_regex(prompt, '\\s+'), 1, 32), ' ') AS rag,
              srcs AS sources
            FROM pr"""))

  /** order_by over JSON document paths with NULLS LAST (order_by_builder
    * semantics): docs whose `rank` key is absent sort last; output carries
    * the materialized position so the ordering itself goes through the
    * hash-compare gate. NOTE: over a JSON-string resolver values order
    * lexicographically (like the raw text) — the query orders by a string
    * field to keep reference semantics.
    */
  val s5OrderBy: GraftQuery = GraftQuery(
    "s5_order_by",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(to_json(struct(
          col("doc_id").as("id"),
          when(col("doc_id") % 7 === 0, lit(null)).otherwise(col("lang")).as("lang"),
          col("source"))).as("document"))
      val r = graft.store.FilterCompiler.jsonStringResolver(col("document"))
      val order = graft.store.OrderByCompiler.compile("""{"lang": "desc", "id": "asc"}""", r)
      docs
        .withColumn("pos", row_number().over(Window.orderBy(order: _*)))
        .select(col("pos"),
          get_json_object(col("document"), "$.id").cast("long").as("doc_id"))
        .orderBy(col("pos"))
    },
    Some("""SELECT row_number() OVER (
              ORDER BY CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END DESC NULLS LAST,
                       CAST(CAST(doc_id AS VARCHAR) AS VARCHAR) ASC) AS pos,
              doc_id
            FROM documents ORDER BY pos"""))

  // ---------------------------------------------------------------- ML

  /** Preprocessing matrix through the DuckDB gate (§2.10 exact semantics):
    * numeric mean-impute + standard scale, categorical one-hot with the
    * NULL-category-first / k−1 (drop-last) layout.
    */
  val p1Preprocess: GraftQuery = GraftQuery(
    "p1_preprocess",
    (s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      val plans = Seq(
        graft.ml.ColumnPlan("c_acctbal", impute = "mean", scale = "standard"),
        graft.ml.ColumnPlan("c_mktsegment", encode = "one_hot", impute = "zero"))
      val fitted = graft.ml.Preprocessor.fit(c, plans, "c_custkey")
      graft.ml.Preprocessor.transform(c, fitted)
        .select(col("c_custkey"),
          // + 0.0 canonicalizes rounded -0.0 (see v26) — standardized
          // values cross zero by construction.
          (round(col("c_acctbal__f"), 5) + lit(0.0)).as("acctbal_scaled"),
          col("c_mktsegment__AUTOMOBILE").as("seg_auto"),
          col("c_mktsegment__BUILDING").as("seg_build"),
          col("c_mktsegment__FURNITURE").as("seg_furn"),
          col("c_mktsegment__HOUSEHOLD").as("seg_house"))
        .orderBy(col("c_custkey"))
    },
    Some("""WITH st AS (SELECT avg(c_acctbal) AS m, stddev_pop(c_acctbal) AS sd FROM customer)
            SELECT c_custkey,
              round((c_acctbal - m) / sd, 5) + 0.0 AS acctbal_scaled,
              CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1.0 ELSE 0.0 END AS seg_auto,
              CASE WHEN c_mktsegment = 'BUILDING' THEN 1.0 ELSE 0.0 END AS seg_build,
              CASE WHEN c_mktsegment = 'FURNITURE' THEN 1.0 ELSE 0.0 END AS seg_furn,
              CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 1.0 ELSE 0.0 END AS seg_house
            FROM customer, st ORDER BY c_custkey"""))

  /** pgml.train + pgml.predict lifecycle with an OLS oracle: fit linear
    * regression (normal equations) of l_extendedprice on l_quantity over
    * the whole table, predict the first 100 rows. DuckDB's
    * regr_slope/regr_intercept is the closed form of the same fit.
    */
  val m1LinearRegression: GraftQuery = GraftQuery(
    "m1_linear_regression",
    (s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"))
      val reg = java.nio.file.Files.createTempDirectory("graft_q_reg_").toString
      val tr = new graft.ml.Trainer(s, reg)
      tr.train("q_lin", "regression",
        li.select(col("l_quantity"), col("l_extendedprice")), Some("l_extendedprice"),
        "linear", testSize = 0.0)
      tr.registry.predict("q_lin", li)
        .select(col("l_orderkey"), col("l_linenumber"), (round(col("prediction"), 3) + lit(0.0)).as("pred"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
        .limit(100)
    },
    Some("""WITH fit AS (SELECT regr_slope(l_extendedprice, l_quantity) AS m,
                     regr_intercept(l_extendedprice, l_quantity) AS b FROM lineitem)
            SELECT l_orderkey, l_linenumber, round(b + m * l_quantity, 3) + 0.0 AS pred
            FROM lineitem, fit ORDER BY l_orderkey, l_linenumber LIMIT 100"""))

  /** Snapshot column analysis (analyze stats, snapshot.rs:224-338). */
  val m2ColumnStats: GraftQuery = GraftQuery(
    "m2_column_stats",
    (s, dir) =>
      graft.ml.Snapshot.analyze(t(s, dir, "lineitem"), Seq("l_quantity", "l_discount"))
        .select(col("column"), col("metric"), (round(col("value"), 4) + lit(0.0)).as("value"))
        .orderBy(col("column"), col("metric")),
    Some("""WITH s AS (
              SELECT 'l_quantity' AS "column", 'min' AS metric, min(l_quantity) AS value FROM lineitem
              UNION ALL SELECT 'l_quantity', 'max', max(l_quantity) FROM lineitem
              UNION ALL SELECT 'l_quantity', 'mean', avg(l_quantity) FROM lineitem
              UNION ALL SELECT 'l_quantity', 'median', median(l_quantity) FROM lineitem
              UNION ALL SELECT 'l_quantity', 'std_dev', stddev_pop(l_quantity) FROM lineitem
              UNION ALL SELECT 'l_quantity', 'variance', var_pop(l_quantity) FROM lineitem
              UNION ALL SELECT 'l_quantity', 'missing', count(*) - count(l_quantity) FROM lineitem
              UNION ALL SELECT 'l_quantity', 'distinct', count(DISTINCT l_quantity) FROM lineitem
              UNION ALL SELECT 'l_discount', 'min', min(l_discount) FROM lineitem
              UNION ALL SELECT 'l_discount', 'max', max(l_discount) FROM lineitem
              UNION ALL SELECT 'l_discount', 'mean', avg(l_discount) FROM lineitem
              UNION ALL SELECT 'l_discount', 'median', median(l_discount) FROM lineitem
              UNION ALL SELECT 'l_discount', 'std_dev', stddev_pop(l_discount) FROM lineitem
              UNION ALL SELECT 'l_discount', 'variance', var_pop(l_discount) FROM lineitem
              UNION ALL SELECT 'l_discount', 'missing', count(*) - count(l_discount) FROM lineitem
              UNION ALL SELECT 'l_discount', 'distinct', count(DISTINCT l_discount) FROM lineitem)
            SELECT "column", metric, round(value, 4) + 0.0 AS value FROM s
            ORDER BY "column", metric"""))

  /** KMeans clustering over leading embedding dims (deterministic seed;
    * centroid assignment not SQL-expressible → rows-only).
    */
  private def m3Train(s: SparkSession, dir: String): (graft.ml.Trainer, Long) = {
    val emb = t(s, dir, "embeddings")
      .select((0 until 8).map(i => element_at(col("embedding"), i + 1).as(s"e$i")): _*)
    val reg = java.nio.file.Files.createTempDirectory("graft_q_km_").toString
    val tr = new graft.ml.Trainer(s, reg)
    val res = tr.train("q_km", "clustering", emb, None, "kmeans",
      hyperparams = Map("n_clusters" -> 4))
    (tr, res.modelId)
  }

  /** KMeans train + predict, gated on cluster sizes. MLlib's k-means||
    * INIT is not SQL-replayable, but the CONVERGED model is: the oracle is
    * generated per scale factor by refitting the (seeded, deterministic)
    * model and replaying the fixed-point nearest-centroid assignment with
    * the converged centers inlined as literals — sizes desc are label-
    * permutation invariant. */
  val m3Kmeans: GraftQuery = GraftQuery(
    "m3_kmeans_sizes",
    (s, dir) => {
      val (tr, modelId) = m3Train(s, dir)
      val emb = t(s, dir, "embeddings")
        .select((0 until 8).map(i => element_at(col("embedding"), i + 1).as(s"e$i")): _*)
      tr.registry.predictWithModel(modelId, emb)
        .groupBy(col("prediction")).agg(count(lit(1)).as("n"))
        .select(col("n")).orderBy(col("n").desc)
    },
    None,
    oracleGen = Some { (s, dir) =>
      val (tr, modelId) = m3Train(s, dir)
      val centers = tr.registry.clusterCenters(modelId)
      val centerRows = centers.zipWithIndex.map { case (c, i) =>
        s"($i, [${c.map(_.toString).mkString(",")}])"
      }.mkString(", ")
      s"""WITH cent(c, v) AS (VALUES $centerRows),
          d AS (SELECT e.vec_id, cent.c,
              (SELECT sum((CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) - cent.v[CAST(i AS INT)])
                        * (CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) - cent.v[CAST(i AS INT)]))
                 FROM range(1, 9) t(i)) AS dsq
            FROM embeddings e, cent),
          a AS (SELECT vec_id, c,
              row_number() OVER (PARTITION BY vec_id ORDER BY dsq, c) AS rn FROM d)
          SELECT count(*) AS n FROM a WHERE rn = 1
          GROUP BY c ORDER BY n DESC"""
    })

  /** Distributed DBSCAN over the first two embedding dims (grid-blocked
    * neighbor join + min-label components). Labels are deterministic (min
    * core id per component) so the full per-point labeling goes through the
    * DuckDB gate — the oracle is brute-force DBSCAN with a recursive-CTE
    * reachability closure.
    */
  val m4Dbscan: GraftQuery = GraftQuery(
    "m4_dbscan",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"),
          element_at(col("embedding"), 1).as("x"),
          element_at(col("embedding"), 2).as("y"))
      graft.operators.Dbscan.run(emb, "vec_id", Seq("x", "y"), eps = 0.02, minPts = 5)
        .orderBy(col("vec_id"))
    },
    Some("""WITH RECURSIVE
            pts AS (SELECT vec_id AS id, CAST(embedding[1] AS DOUBLE) AS x,
                    CAST(embedding[2] AS DOUBLE) AS y FROM embeddings),
            nb AS (SELECT a.id, b.id AS nb FROM pts a JOIN pts b ON a.id <> b.id
                   AND (a.x-b.x)*(a.x-b.x)+(a.y-b.y)*(a.y-b.y) <= 0.02*0.02),
            core AS (SELECT id FROM nb GROUP BY id HAVING count(*)+1 >= 5),
            edges AS (SELECT n.id AS src, n.nb AS dst FROM nb n
                      JOIN core c1 ON n.id=c1.id JOIN core c2 ON n.nb=c2.id),
            reach(id, r) AS (SELECT id, id FROM core
              UNION SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
            comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
            border AS (SELECT n.id, min(comp.cluster) AS cluster FROM nb n
                       JOIN comp ON n.nb = comp.id
                       WHERE n.id NOT IN (SELECT id FROM core) GROUP BY n.id),
            lab AS (SELECT id, cluster FROM comp UNION ALL SELECT id, cluster FROM border)
            SELECT p.id AS vec_id, coalesce(l.cluster, -1) AS cluster
            FROM pts p LEFT JOIN lab l ON p.id = l.id ORDER BY vec_id"""))

  /** Shared m5 harness: three regressions of l_extendedprice on different
    * single features — quantity (strong r2), discount and tax (near-zero)
    * — into a FRESH registry (ids deterministically 1, 2, 3), then a
    * deployment chain [1 (auto, first), 3 (specific), 1 (best_score)].
    * Rerun-deterministic, so the query and the oracle generator each
    * replay it independently. */
  private def m5Setup(s: SparkSession, dir: String): graft.ml.Trainer = {
    val li = t(s, dir, "lineitem")
    val reg = java.nio.file.Files.createTempDirectory("graft_q_dep_").toString
    val tr = new graft.ml.Trainer(s, reg)
    Seq("l_quantity", "l_discount", "l_tax").foreach { f =>
      tr.train("q_dep", "regression",
        li.select(col(f), col("l_extendedprice")), Some("l_extendedprice"),
        "linear", testSize = 0.0)
    }
    tr.registry.deploy("q_dep", 3L, "specific")
    tr.registry.resolveStrategy("q_dep", "best_score")
      .foreach(id => tr.registry.deploy("q_dep", id, "best_score"))
    tr
  }

  /** Deploy strategies (m5): best_score / most_recent / rollback
    * resolution plus the current-deployment pointer (orm/strategy.rs,
    * api.rs:332-437). The oracle generator independently replays the
    * train+deploy sequence, inlines each model's r2 and the deployment
    * order as VALUES, and re-derives every strategy in SQL — the metric
    * ordering, the recency ordering, and rollback's
    * latest-deployment-per-model-desc-offset-1 are what the hash gate
    * verifies.
    */
  val m5DeployStrategies: GraftQuery = GraftQuery(
    "m5_deploy_strategies",
    (s, dir) => {
      import s.implicits._
      val tr = m5Setup(s, dir)
      val r = tr.registry
      Seq(
        ("best_score", r.resolveStrategy("q_dep", "best_score").get),
        ("current", r.currentDeployment("q_dep").get.model_id),
        ("most_recent", r.resolveStrategy("q_dep", "most_recent").get),
        ("rollback", r.resolveStrategy("q_dep", "rollback").get)
      ).toDF("strategy", "model_id").orderBy("strategy")
    },
    None,
    oracleGen = Some { (s, dir) =>
      val tr = m5Setup(s, dir)
      val mdl = (1L to 3L).map(id =>
        s"($id, ${tr.registry.modelMetrics(id)("r2").toString})").mkString(", ")
      val dep = tr.registry.deployments
        .orderBy(col("seq")).select("model_id").collect()
        .zipWithIndex.map { case (r0, i) => s"(${i + 1}, ${r0.getLong(0)})" }
        .mkString(", ")
      s"""WITH mdl(model_id, r2) AS (VALUES $mdl),
          dep(ord, model_id) AS (VALUES $dep)
          SELECT 'best_score' AS strategy,
            (SELECT model_id FROM mdl ORDER BY r2 DESC LIMIT 1) AS model_id
          UNION ALL SELECT 'current',
            (SELECT model_id FROM dep ORDER BY ord DESC LIMIT 1)
          UNION ALL SELECT 'most_recent',
            (SELECT model_id FROM mdl ORDER BY model_id DESC LIMIT 1)
          UNION ALL SELECT 'rollback',
            (SELECT model_id FROM (SELECT model_id, max(ord) AS mo FROM dep
               GROUP BY model_id) ORDER BY mo DESC OFFSET 1 LIMIT 1)
          ORDER BY strategy"""
    })

  private def m6Train(s: SparkSession, dir: String): (graft.ml.Trainer, Long) = {
    val feats = t(s, dir, "lineitem")
      .select(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax"))
    val reg = java.nio.file.Files.createTempDirectory("graft_q_pca_").toString
    val tr = new graft.ml.Trainer(s, reg)
    val res = tr.train("q_pca", "decomposition", feats, None, "pca",
      hyperparams = Map("n_components" -> 2))
    (tr, res.modelId)
  }

  /** pgml.decompose (m6): train a PCA decomposition, apply the deployed
    * model (api.rs:487-492). MLlib's eigendecomposition is not
    * SQL-expressible, but the PROJECTION is: the generated oracle refits
    * the (deterministic) model, inlines the principal components as
    * literals, and replays pca_c = Σ_j x_j·pc(j,c) as the same
    * ascending-j left-associative sum BLAS computes (f2j gemv; zero seed
    * folds away exactly).
    */
  val m6Decompose: GraftQuery = GraftQuery(
    "m6_decompose",
    (s, dir) => {
      val (tr, _) = m6Train(s, dir)
      // deterministic subset by FILTER, not LIMIT: (l_orderkey,
      // l_linenumber) is not unique in the synthetic data, so an ordered
      // limit could cut tied boundary rows differently per engine
      val li = t(s, dir, "lineitem")
        .where(col("l_orderkey") % 97 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax"))
      tr.registry.decompose("q_pca", li)
        .select(col("l_orderkey"), col("l_linenumber"),
          // + 0.0 canonicalizes rounded -0.0 (see v26) — principal
          // components cross zero by construction.
          (round(element_at(col("pca_arr"), 1), 4) + lit(0.0)).as("pc1"),
          (round(element_at(col("pca_arr"), 2), 4) + lit(0.0)).as("pc2"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
    None,
    oracleGen = Some { (s, dir) =>
      val (tr, modelId) = m6Train(s, dir)
      val pc = tr.registry.pcaComponents(modelId)
      val feats = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      def proj(c: Int): String = feats.zipWithIndex
        .map { case (f, j) => s"$f * (${dlit(pc(c)(j))})" }.mkString(" + ")
      s"""SELECT l_orderkey, l_linenumber,
            round(${proj(0)}, 4) + 0.0 AS pc1,
            round(${proj(1)}, 4) + 0.0 AS pc2
          FROM lineitem WHERE l_orderkey % 97 = 0
          ORDER BY l_orderkey, l_linenumber"""
    })

  /** Double literal for generated SQL, forced to parse as DOUBLE: DuckDB
    * reads a long plain-decimal literal as DECIMAL and can overflow its
    * cast (a 17-significant-digit coefficient breaks DECIMAL(18,15)); an
    * exponent suffix makes it a DOUBLE literal with the exact same
    * nearest-double value. */
  /** Cache key for per-session fitted-model caches: applicationId is
    * unique per SparkContext, where identityHashCode could be RECYCLED
    * after a stopped session is GC'd and hand a later session a model
    * bound to a dead context. */
  private def skey(s: SparkSession): String = s.sparkContext.applicationId

  private def dlit(v: Double): String = {
    val s = v.toString
    if (s.contains("E") || s.contains("e")) s else s + "e0"
  }

  private def m7Train(s: SparkSession, dir: String): (graft.ml.Trainer, Long) = {
    val li = t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
    val reg = java.nio.file.Files.createTempDirectory("graft_q_row_").toString
    val tr = new graft.ml.Trainer(s, reg)
    val res = tr.train("q_row", "regression", li, Some("l_extendedprice"), "linear",
      preprocess = Map(
        "l_returnflag" -> graft.ml.ColumnPlan("l_returnflag", encode = "one_hot",
          impute = "zero"),
        "l_quantity" -> graft.ml.ColumnPlan("l_quantity", impute = "mean",
          scale = "standard")),
      testSize = 0.0)
    (tr, res.modelId)
  }

  /** pgml.predict(project, row(...)) (m7): the heterogeneous tuple entry
    * (api.rs:494-497, model.rs:972-1143) — six constructed rows cover a
    * known category, a NULL category (→ __NULL__ indicator), an UNSEEN
    * category (→ all-zero one-hot, like the dropped last category), and a
    * missing numeric (→ NULL → fitted-mean impute → scaled exactly 0).
    * The oracle re-derives the one-hot layout (NULL first, k−1 kept) and
    * the impute/scale stats FROM lineitem ITSELF in SQL; only the linear
    * coefficients ride as generated literals.
    */
  val m7PredictRow: GraftQuery = GraftQuery(
    "m7_predict_row",
    (s, dir) => {
      import s.implicits._
      val (tr, _) = m7Train(s, dir)
      val cases: Seq[(Int, Map[String, Any])] = Seq(
        1 -> Map("l_returnflag" -> "A", "l_quantity" -> 10.0),
        2 -> Map("l_returnflag" -> "N", "l_quantity" -> 25.0),
        3 -> Map("l_returnflag" -> "R", "l_quantity" -> 41.0),
        4 -> Map("l_quantity" -> 17.0),
        5 -> Map("l_returnflag" -> "A"),
        6 -> Map("l_returnflag" -> "Z", "l_quantity" -> 10.0))
      cases.map { case (id, row) =>
        (id, tr.registry.predictRow("q_row", row))
      }.toDF("case_id", "pred")
        .select(col("case_id"), (round(col("pred"), 3) + lit(0.0)).as("pred"))
        .orderBy("case_id")
    },
    None,
    oracleGen = Some { (s, dir) =>
      val (tr, modelId) = m7Train(s, dir)
      val (coefs, intercept) = tr.registry.linearParams(modelId)
      // featNames order: [l_returnflag____NULL__, l_returnflag__A,
      // l_returnflag__N, l_quantity__f] (NULL first, sorted cats, last
      // dropped — p1's fitted layout)
      s"""WITH st AS (SELECT avg(l_quantity) AS m, stddev_pop(l_quantity) AS sd
              FROM lineitem),
          cases(case_id, rf, q) AS (VALUES
            (1, 'A', 10.0), (2, 'N', 25.0), (3, 'R', 41.0),
            (4, NULL, 17.0), (5, 'A', NULL), (6, 'Z', 10.0)),
          f AS (SELECT case_id,
            CASE WHEN rf IS NULL THEN 1.0 ELSE 0.0 END AS f0,
            CASE WHEN rf = 'A' THEN 1.0 ELSE 0.0 END AS f1,
            CASE WHEN rf = 'N' THEN 1.0 ELSE 0.0 END AS f2,
            (coalesce(q, m) - m) / sd AS f3
            FROM cases, st)
          SELECT case_id,
            round(f0 * (${dlit(coefs(0))}) + f1 * (${dlit(coefs(1))})
              + f2 * (${dlit(coefs(2))}) + f3 * (${dlit(coefs(3))})
              + (${dlit(intercept)}), 3) + 0.0 AS pred
          FROM f ORDER BY case_id"""
    })

  /** pgml.train_joint / joint predict (m8): one model per target
    * registered as `<project>:<y>` sub-projects (api.rs:136-162), both
    * served back and joined. Each is a single-feature OLS, so the oracle
    * is DuckDB's closed form (regr_slope/intercept) twice — the m1
    * pattern across the joint surface.
    */
  val m8TrainJoint: GraftQuery = GraftQuery(
    "m8_train_joint",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val rel = li.select(col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      val reg = java.nio.file.Files.createTempDirectory("graft_q_joint_").toString
      val tr = new graft.ml.Trainer(s, reg)
      tr.trainJoint("q_joint", "regression", rel,
        Seq("l_extendedprice", "l_discount"), "linear", testSize = 0.0)
      // serve over the DISTINCT feature values — a unique join key (the
      // synthetic (l_orderkey, l_linenumber) is not unique, and joining
      // the two sub-project predictions on a duplicated key would fan out)
      val keys = li.select(col("l_quantity")).distinct()
      val p1 = tr.registry.predict("q_joint:l_extendedprice", keys)
        .select(col("l_quantity"), (round(col("prediction"), 3) + lit(0.0)).as("pred_price"))
      val p2 = tr.registry.predict("q_joint:l_discount", keys)
        .select(col("l_quantity"), (round(col("prediction"), 6) + lit(0.0)).as("pred_disc"))
      p1.join(p2, Seq("l_quantity"))
        .orderBy(col("l_quantity"))
    },
    Some("""WITH f1 AS (SELECT regr_slope(l_extendedprice, l_quantity) AS m,
                regr_intercept(l_extendedprice, l_quantity) AS b FROM lineitem),
            f2 AS (SELECT regr_slope(l_discount, l_quantity) AS m,
                regr_intercept(l_discount, l_quantity) AS b FROM lineitem)
            SELECT DISTINCT l_quantity,
              round(f1.b + f1.m * l_quantity, 3) + 0.0 AS pred_price,
              round(f2.b + f2.m * l_quantity, 6) + 0.0 AS pred_disc
            FROM lineitem, f1, f2
            ORDER BY l_quantity"""))

  private def m9Train(s: SparkSession, dir: String): (graft.ml.Trainer, Long) = {
    val li = t(s, dir, "lineitem")
      .select(col("l_quantity"), col("l_discount"),
        (col("l_returnflag") === "R").cast("double").as("is_return"))
    val reg = java.nio.file.Files.createTempDirectory("graft_q_proba_").toString
    val tr = new graft.ml.Trainer(s, reg)
    val res = tr.train("q_proba", "classification", li, Some("is_return"),
      "linear", testSize = 0.0)
    (tr, res.modelId)
  }

  /** pgml.predict_proba (m9): binary logistic classification through the
    * deployed-model registry path, class-probability array appended
    * (api.rs:469-472). Served over the DISTINCT feature pairs (a unique
    * key — see m8). Oracle: fitted coefficients as literals; p1 =
    * sigmoid(intercept + c·x), p0 = 1 − p1 (MLlib's binomial
    * raw2probability), prediction = threshold at margin 0 — all behind
    * round(6).
    */
  val m9PredictProba: GraftQuery = GraftQuery(
    "m9_predict_proba",
    (s, dir) => {
      val (tr, _) = m9Train(s, dir)
      val feats = t(s, dir, "lineitem")
        .select(col("l_quantity"), col("l_discount")).distinct()
      tr.registry.predictProba("q_proba", feats)
        .select(col("l_quantity"), col("l_discount"),
          (round(element_at(col("proba"), 1), 6) + lit(0.0)).as("p0"),
          (round(element_at(col("proba"), 2), 6) + lit(0.0)).as("p1"),
          col("prediction"))
        .orderBy(col("l_quantity"), col("l_discount"))
    },
    None,
    oracleGen = Some { (s, dir) =>
      val (tr, modelId) = m9Train(s, dir)
      val (c, b) = tr.registry.logisticParams(modelId)
      val margin =
        s"l_quantity * (${dlit(c(0))}) + l_discount * (${dlit(c(1))}) + (${dlit(b)})"
      s"""WITH f AS (SELECT DISTINCT l_quantity, l_discount FROM lineitem),
          p AS (SELECT l_quantity, l_discount, $margin AS m FROM f)
          SELECT l_quantity, l_discount,
            round(1.0 - 1.0 / (1.0 + exp(-m)), 6) + 0.0 AS p0,
            round(1.0 / (1.0 + exp(-m)), 6) + 0.0 AS p1,
            CASE WHEN m > 0.0 THEN 1.0 ELSE 0.0 END AS prediction
          FROM p ORDER BY l_quantity, l_discount"""
    })

  /** Fit BPE tokenization (t13): a genuinely FIT byte-pair encoder
    * (Sennrich et al. 2016 — the t4 regex counter's trained sibling).
    * The serve path is the broadcast-model JVM encoder over the
    * distinct-pretoken frame (plan-pure corpus side). The generated
    * oracle receives ONLY the merge table and re-runs the whole encoder
    * in DuckDB (recursive lowest-rank merge steps with the same
    * left-to-right fold).
    */
  val t13BpeTokens: GraftQuery = GraftQuery(
    "t13_bpe_tokens",
    (s, dir) => {
      val model = T13OracleSql.fitted(s, dir)
      // plain loader, no tiny-input spread: under the broadcast encoder
      // a spread re-evaluates the distinct-pretoken mapPartitions'
      // per-partition setup 32× for no wall win (measured: spread
      // 0.482 s wall / 5.28 cpu-s vs plain 0.448 s / 1.13 cpu-s)
      graft.operators.Bpe.tokenCounts(
          t(s, dir, "documents"), "doc_id", "text", model)
        .orderBy(col("doc_id"))
    },
    None,
    oracleGen = Some((s, dir) => T13OracleSql.sql(s, dir)))

  // one tuned registry shared by the x6 query and its oracle generator
  // (the refit is deterministic — KMeans seed 42, seeded split — but
  // sharing halves the tune cost per Verify run). Keyed by SESSION + dir:
  // a Trainer holds its SparkSession, and serving one cached against a
  // stopped session (the manual-drive stop/restart pattern) would throw
  private val x6Cache =
    scala.collection.concurrent.TrieMap.empty[String, (graft.ml.Trainer, Long)]
  private def x6Tune(s: SparkSession, dir: String): (graft.ml.Trainer, Long) =
    x6Cache.getOrElseUpdate(s"${skey(s)}#$dir", {
      val docs = t(s, dir, "documents")
      // conversation fixture derived from the corpus (orm/dataset.rs:137
      // column contract): reply text is a deterministic function of the
      // row, so the per-cluster generation table is rerun-stable
      val rel = docs.select(lit("you are helpful").as("system"),
        col("text").as("user"),
        concat_ws(" ", lit("reply"), col("lang"), col("source")).as("assistant"))
      val reg = java.nio.file.Files.createTempDirectory("graft_q_gen_").toString
      val tr = new graft.ml.Trainer(s, reg)
      val res = tr.tune("q_gen", "conversation", rel, "user", "assistant", "conv-model")
      (tr, res.modelId)
    })

  /** pgml.tune + pgml.generate envelope (x6): a conversation-tuned
    * deployment serves generate_batch — embed the input, assign the
    * nearest KMeans centroid driver-side, return the stored cluster
    * reply (api.rs:826-995). The oracle replays the WHOLE serving path
    * in DuckDB: the hash-embed HUGEINT machinery (shared with s4) over
    * the input texts, the sqdist argmin against the converged centroids
    * as literals (m3's fixed-point pattern, ties to the lowest cluster),
    * and the generation-table lookup as VALUES.
    */
  val x6Generate: GraftQuery = GraftQuery(
    "x6_generate",
    (s, dir) => {
      import s.implicits._
      val (tr, _) = x6Tune(s, dir)
      val inputs = t(s, dir, "documents").where(col("doc_id") % 13 === 0)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .collect().sortBy(_._1).toSeq
      val replies = tr.registry.generateBatch("q_gen", inputs.map(_._2))
      inputs.map(_._1).zip(replies).toDF("doc_id", "reply").orderBy("doc_id")
    },
    None,
    oracleGen = Some { (s, dir) =>
      val (tr, modelId) = x6Tune(s, dir)
      val centRows = tr.registry.clusterCenters(modelId).zipWithIndex
        .map { case (c, i) => s"($i, [${c.map(dlit).mkString(",")}])" }
        .mkString(", ")
      val respRows = tr.registry.storedResponses(modelId).toSeq.sorted
        .map { case (c, r) => s"($c, '${r.replace("'", "''")}')" }.mkString(", ")
      s"""WITH ${hashEmbedCtes(
          "SELECT doc_id, text FROM documents WHERE doc_id % 13 = 0")},
          cent(c, cv) AS (VALUES $centRows),
          resp(c, reply) AS (VALUES $respRows),
          d AS (SELECT vecs.doc_id, cent.c,
              (SELECT sum((vecs.v[CAST(i AS INT)] - cent.cv[CAST(i AS INT)])
                        * (vecs.v[CAST(i AS INT)] - cent.cv[CAST(i AS INT)]))
                 FROM range(1, 65) t(i)) AS dsq
            FROM vecs, cent),
          a AS (SELECT doc_id, c,
              row_number() OVER (PARTITION BY doc_id ORDER BY dsq, c) AS rn
            FROM d)
          SELECT a.doc_id, coalesce(r.reply, '') AS reply
          FROM a LEFT JOIN resp r ON a.c = r.c
          WHERE a.rn = 1 ORDER BY a.doc_id"""
    })

  private val m10Cache =
    scala.collection.concurrent.TrieMap.empty[String, (graft.ml.Trainer, Long)]
  private def m10Search(s: SparkSession, dir: String): (graft.ml.Trainer, Long) =
    m10Cache.getOrElseUpdate(s"${skey(s)}#$dir", {
      val li = t(s, dir, "lineitem")
        .select(col("l_quantity"), col("l_discount"), col("l_tax"),
          col("l_extendedprice"))
      val reg = java.nio.file.Files.createTempDirectory("graft_q_gs_").toString
      val tr = new graft.ml.Trainer(s, reg)
      val res = tr.trainWithSearch("q_gs", "regression", li,
        Some("l_extendedprice"), "ridge",
        searchParams = Map("alpha" -> Seq(0.01, 1.0, 100.0)), cv = 3,
        testSampling = "last")
      (tr, res.modelId)
    })

  /** Hyperparameter search envelope (m10): `trainWithSearch` records
    * per-combo search_results — params, per-split scores, mean/std —
    * and refits the best combo (model.rs:560-610, 794-940). The query
    * reads the ARTIFACT (search_results.json + the refit model's
    * hyperparams row); the oracle re-derives mean/std from VALUES of the
    * recorded per-split scores with the identical left-associative
    * arithmetic (sum fold, population variance, sqrt — IEEE-replayable,
    * no rounding) and re-runs best-combo selection as a window argmax.
    * What the gate verifies: the recorded aggregate stats follow from
    * the recorded splits, and the combo that actually got refit IS the
    * argmax of the recorded means.
    */
  val m10SearchResults: GraftQuery = GraftQuery(
    "m10_search_results",
    (s, dir) => {
      import s.implicits._
      val (tr, modelId) = m10Search(s, dir)
      val rows = tr.registry.searchResultRows(modelId)
      val bestAlpha = tr.registry.models.where(col("model_id") === modelId)
        .select(get_json_object(col("hyperparams"), "$.alpha")).as[String].head()
      rows.zipWithIndex.map { case (r, i) =>
        (i, r.params("alpha").toDouble, r.mean_test_score, r.std_test_score,
          r.params("alpha") == bestAlpha)
      }.toDF("cidx", "alpha", "mean_test_score", "std_test_score", "selected")
        .orderBy(col("cidx"))
    },
    None,
    oracleGen = Some { (s, dir) =>
      val (tr, modelId) = m10Search(s, dir)
      val rows = tr.registry.searchResultRows(modelId)
      val values = rows.zipWithIndex.map { case (r, i) =>
        s"($i, ${dlit(r.params("alpha").toDouble)}, " +
          r.split_test_scores.map(dlit).mkString(", ") + ")"
      }.mkString(", ")
      s"""WITH sr(cidx, alpha, s0, s1, s2) AS (VALUES $values),
          m AS (SELECT cidx, alpha, s0, s1, s2,
              ((s0 + s1) + s2) / 3.0 AS mean_test_score FROM sr),
          agg AS (SELECT cidx, alpha, mean_test_score,
              sqrt((((s0 - mean_test_score) * (s0 - mean_test_score)
                + (s1 - mean_test_score) * (s1 - mean_test_score))
                + (s2 - mean_test_score) * (s2 - mean_test_score)) / 3.0)
                AS std_test_score
            FROM m),
          sel AS (SELECT cidx, alpha, mean_test_score, std_test_score,
              row_number() OVER (ORDER BY mean_test_score DESC, cidx) AS rk
            FROM agg)
          SELECT cidx, alpha, mean_test_score, std_test_score,
            (rk = 1) AS selected
          FROM sel ORDER BY cidx"""
    })

  /** Confusion-matrix metrics (m11): the exact metrics.rs port semantics
    * — per-class precision/recall/f1 over OBSERVED classes with the
    * 0-when-undefined convention, macro = unweighted mean, micro =
    * accuracy — computed by Metrics.classification over the m9 logistic
    * model's own training relation. The oracle replays the predictions
    * from the fitted coefficients (the m9 sigmoid literals) over every
    * lineitem row and re-derives all five metrics in SQL from the
    * confusion counts, behind round(6).
    */
  val m11ConfusionMetrics: GraftQuery = GraftQuery(
    "m11_confusion_metrics",
    (s, dir) => {
      import s.implicits._
      val (tr, modelId) = m9Train(s, dir)
      val li = t(s, dir, "lineitem")
        .select(col("l_quantity"), col("l_discount"),
          (col("l_returnflag") === "R").cast("double").as("is_return"))
      val m = graft.ml.Metrics.classification(
        tr.registry.predictWithModel(modelId, li), "is_return", "prediction")
      Seq((m("accuracy"), m("precision"), m("recall"), m("f1"), m("f1_micro")))
        .toDF("accuracy", "precision", "recall", "f1", "f1_micro")
        .select(Seq("accuracy", "precision", "recall", "f1", "f1_micro")
          .map(c => round(col(c), 6).as(c)): _*)
    },
    None,
    oracleGen = Some { (s, dir) =>
      val (tr, modelId) = m9Train(s, dir)
      val (c, b) = tr.registry.logisticParams(modelId)
      val margin =
        s"l_quantity * (${dlit(c(0))}) + l_discount * (${dlit(c(1))}) + (${dlit(b)})"
      s"""WITH p AS (SELECT
              CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y,
              CASE WHEN $margin > 0.0 THEN 1.0 ELSE 0.0 END AS pred
            FROM lineitem),
          cnt AS (SELECT y, pred, count(*) AS n FROM p GROUP BY y, pred),
          tot AS (SELECT CAST(sum(n) AS DOUBLE) AS total,
              CAST(coalesce(sum(n) FILTER (WHERE y = pred), 0) AS DOUBLE) AS correct
            FROM cnt),
          cls AS (SELECT DISTINCT c FROM
            (SELECT y AS c FROM cnt UNION ALL SELECT pred FROM cnt)),
          per AS (SELECT c,
              CAST(coalesce((SELECT sum(n) FROM cnt WHERE y = c AND pred = c), 0) AS DOUBLE) AS tp,
              CAST(coalesce((SELECT sum(n) FROM cnt WHERE y <> c AND pred = c), 0) AS DOUBLE) AS fp,
              CAST(coalesce((SELECT sum(n) FROM cnt WHERE y = c AND pred <> c), 0) AS DOUBLE) AS fn
            FROM cls),
          pr AS (SELECT c,
              CASE WHEN tp + fp = 0 THEN 0.0 ELSE tp / (tp + fp) END AS p,
              CASE WHEN tp + fn = 0 THEN 0.0 ELSE tp / (tp + fn) END AS r
            FROM per),
          f AS (SELECT c, p, r,
              CASE WHEN p + r = 0 THEN 0.0 ELSE 2 * p * r / (p + r) END AS f1
            FROM pr)
          SELECT round(tot.correct / tot.total, 6) AS accuracy,
            round((SELECT sum(p) FROM f) / (SELECT count(*) FROM f), 6) AS precision,
            round((SELECT sum(r) FROM f) / (SELECT count(*) FROM f), 6) AS recall,
            round((SELECT sum(f1) FROM f) / (SELECT count(*) FROM f), 6) AS f1,
            round(tot.correct / tot.total, 6) AS f1_micro
          FROM tot"""
    })

  private val m12Cache =
    scala.collection.concurrent.TrieMap.empty[String, (graft.ml.Trainer, Long)]
  private def m12Train(s: SparkSession, dir: String): (graft.ml.Trainer, Long) =
    m12Cache.getOrElseUpdate(s"${skey(s)}#$dir", {
      val li = t(s, dir, "lineitem")
        .select(col("l_quantity"), col("l_discount"), col("l_tax"),
          (col("l_returnflag") === "R").cast("double").as("is_return"))
      val reg = java.nio.file.Files.createTempDirectory("graft_q_svm_").toString
      val tr = new graft.ml.Trainer(s, reg)
      val res = tr.train("q_svm", "classification", li, Some("is_return"),
        "svm", hyperparams = Map("n_components" -> 25), testSize = 0.0)
      (tr, res.modelId)
    })

  /** Kernel-SVM serving (m12): the reference's `svm`/`nu_svm` algorithms
    * (sklearn SVC, RBF kernel — algorithm.rs:6-52) served via the random
    * Fourier feature approximation + LinearSVC (sklearn's own documented
    * large-scale path; Rahimi & Recht 2007). The oracle replays the
    * ENTIRE serving function in SQL: zᵢ = √(2/D)·cos(bᵢ + wᵢᵀx) per
    * drawn frequency (the fitted transformer's weights as literals),
    * margin = (Σ cᵢzᵢ) + b left-associatively, prediction = margin > 0 —
    * behind round(4).
    */
  val m12KernelSvm: GraftQuery = GraftQuery(
    "m12_kernel_svm",
    (s, dir) => {
      val (tr, modelId) = m12Train(s, dir)
      val feats = t(s, dir, "lineitem")
        .select(col("l_quantity"), col("l_discount"), col("l_tax")).distinct()
      tr.registry.predictWithModel(modelId, feats)
        .select(col("l_quantity"), col("l_discount"), col("l_tax"),
          // + 0.0 canonicalizes rounded -0.0 (see v26) — margins cross
          // zero by construction.
          (round(graft.ml.VectorOps.element(col("rawPrediction"), 1), 4) + lit(0.0)).as("margin"),
          col("prediction"))
        .orderBy(col("l_quantity"), col("l_discount"), col("l_tax"))
    },
    None,
    oracleGen = Some { (s, dir) =>
      val (tr, modelId) = m12Train(s, dir)
      val (w, off, d, c, b) = tr.registry.kernelApproxParams(modelId)
      val scale = math.sqrt(2.0 / off.length)
      val feats = Seq("l_quantity", "l_discount", "l_tax")
      require(d == feats.length, s"unexpected RFF input dim $d")
      val zs = off.indices.map { i =>
        val lin = feats.zipWithIndex
          .map { case (f, j) => s"(${dlit(w(i * d + j))}) * $f" }
          .mkString(" + ")
        s"(${dlit(scale)} * cos((${dlit(off(i))}) + $lin))"
      }
      val margin = zs.zipWithIndex
        .map { case (z, i) => s"(${dlit(c(i))}) * $z" }
        .mkString(" + ") + s" + (${dlit(b)})"
      s"""WITH f AS (SELECT DISTINCT l_quantity, l_discount, l_tax FROM lineitem),
          m AS (SELECT l_quantity, l_discount, l_tax, $margin AS mg FROM f)
          SELECT l_quantity, l_discount, l_tax, round(mg, 4) + 0.0 AS margin,
            CASE WHEN mg > 0.0 THEN 1.0 ELSE 0.0 END AS prediction
          FROM m ORDER BY l_quantity, l_discount, l_tax"""
    })

  // -------------------------------------- §2.12 long tail (m13 … m17)

  private val mLongTailCache =
    scala.collection.concurrent.TrieMap.empty[String, (graft.ml.Trainer, Long)]
  private def mCached(key: String, s: SparkSession, dir: String)(
      fit: graft.ml.Trainer => Long): (graft.ml.Trainer, Long) =
    mLongTailCache.getOrElseUpdate(s"$key#${skey(s)}#$dir", {
      val reg = java.nio.file.Files.createTempDirectory(s"graft_q_${key}_").toString
      val tr = new graft.ml.Trainer(s, reg)
      (tr, fit(tr))
    })

  private def m13Train(s: SparkSession, dir: String): (graft.ml.Trainer, Long) =
    mCached("knn", s, dir) { tr =>
      val li = t(s, dir, "lineitem").where(col("l_orderkey") % 997 === 0)
        .select(col("l_quantity"), col("l_discount"),
          (col("l_partkey") % 3).cast("double").as("label"))
      tr.train("q_knn", "classification", li, Some("label"), "knn",
        hyperparams = Map("n_neighbors" -> 5), testSize = 0.0).modelId
    }

  /** k-NN classification (m13, algorithm.rs:16): the stored training set
    * IS the model; the oracle inlines it as VALUES and replays the whole
    * serving contract — squared-L2 neighbour ranking with stored-index
    * tie-break, then the (count desc, label asc) majority vote. */
  val m13Knn: GraftQuery = GraftQuery(
    "m13_knn",
    (s, dir) => {
      val (tr, modelId) = m13Train(s, dir)
      val feats = t(s, dir, "lineitem")
        .select(col("l_quantity"), col("l_discount")).distinct()
      tr.registry.predictWithModel(modelId, feats)
        .select(col("l_quantity"), col("l_discount"), col("prediction"))
        .orderBy(col("l_quantity"), col("l_discount"))
    },
    None,
    oracleGen = Some { (s, dir) =>
      val (tr, modelId) = m13Train(s, dir)
      val (pts, labels, k, _) = tr.registry.knnParams(modelId)
      val ptRows = pts.zip(labels).zipWithIndex.map { case ((p, y), i) =>
        s"($i, ${dlit(p(0))}, ${dlit(p(1))}, ${dlit(y)})"
      }.mkString(", ")
      s"""WITH pts(idx, p0, p1, y) AS (VALUES $ptRows),
          f AS (SELECT DISTINCT l_quantity AS q, l_discount AS dc FROM lineitem),
          d AS (SELECT f.q, f.dc, pts.idx, pts.y,
              ((f.q - pts.p0) * (f.q - pts.p0))
                + ((f.dc - pts.p1) * (f.dc - pts.p1)) AS dsq
            FROM f, pts),
          nb AS (SELECT q, dc, y,
              row_number() OVER (PARTITION BY q, dc ORDER BY dsq, idx) AS rn
            FROM d),
          vote AS (SELECT q, dc, y, count(*) AS c FROM nb WHERE rn <= $k
            GROUP BY q, dc, y),
          p AS (SELECT q, dc, y,
              row_number() OVER (PARTITION BY q, dc ORDER BY c DESC, y) AS vr
            FROM vote)
          SELECT q AS l_quantity, dc AS l_discount, y AS prediction
          FROM p WHERE vr = 1 ORDER BY l_quantity, l_discount"""
    })

  /** Robust-GD regression serving replay shared by m14 (huber) and m15
    * (quantile): fit on standard-scaled features through the Trainer
    * lifecycle, then replay prediction = b + ⟨w, (x−μ)/σ⟩ in SQL with
    * the fitted parameters as literals (the m7 scale-replay shape). */
  private def gdOracle(tr: graft.ml.Trainer, modelId: Long): String = {
    val (w, b) = tr.registry.linearParams(modelId)
    val feats = Seq("l_quantity", "l_discount", "l_tax")
    require(w.length == feats.length, s"unexpected GD feature width ${w.length}")
    val chain = feats.zipWithIndex
      .map { case (f, j) => s"(${dlit(w(j))}) * ((f.$f - st.m$j) / st.sd$j)" }
      .mkString(" + ")
    s"""WITH st AS (SELECT
            avg(l_quantity) AS m0, stddev_pop(l_quantity) AS sd0,
            avg(l_discount) AS m1, stddev_pop(l_discount) AS sd1,
            avg(l_tax) AS m2, stddev_pop(l_tax) AS sd2
          FROM lineitem),
        f AS (SELECT DISTINCT l_quantity, l_discount, l_tax FROM lineitem)
        SELECT f.l_quantity, f.l_discount, f.l_tax,
          round((${dlit(b)}) + ($chain), 4) + 0.0 AS prediction
        FROM f, st ORDER BY f.l_quantity, f.l_discount, f.l_tax"""
  }
  private def gdQuery(algo: String, hp: Map[String, Any])(
      s: SparkSession, dir: String): (graft.ml.Trainer, Long) =
    mCached(algo, s, dir) { tr =>
      val li = t(s, dir, "lineitem")
        .select(col("l_quantity"), col("l_discount"), col("l_tax"))
      // small-magnitude target keeps the fixed-rate subgradient steps in
      // range; quality is not the contract here — deterministic replay is
      val rel = li.withColumn("y", col("l_discount") * 2 + col("l_tax"))
      tr.train(s"q_$algo", "regression", rel, Some("y"), algo,
        hyperparams = hp,
        preprocess = Seq("l_quantity", "l_discount", "l_tax")
          .map(c => c -> graft.ml.ColumnPlan(c, scale = "standard")).toMap,
        testSize = 0.0).modelId
    }
  private def gdServe(algo: String, hp: Map[String, Any])(
      s: SparkSession, dir: String): DataFrame = {
    val (tr, modelId) = gdQuery(algo, hp)(s, dir)
    val feats = t(s, dir, "lineitem")
      .select(col("l_quantity"), col("l_discount"), col("l_tax")).distinct()
    tr.registry.predictWithModel(modelId, feats)
      .select(col("l_quantity"), col("l_discount"), col("l_tax"),
        (round(col("prediction"), 4) + lit(0.0)).as("prediction"))
      .orderBy(col("l_quantity"), col("l_discount"), col("l_tax"))
  }

  /** Huber regression (m14, algorithm.rs:27): robust loss via the
    * WarmStart treeAggregate GD machinery; serving replays as linear
    * literals over the standard-scale transform. */
  val m14Huber: GraftQuery = GraftQuery(
    "m14_huber",
    (s, dir) => gdServe("huber", Map("epsilon" -> 1.35))(s, dir),
    None,
    oracleGen = Some { (s, dir) =>
      val (tr, modelId) = gdQuery("huber", Map("epsilon" -> 1.35))(s, dir)
      gdOracle(tr, modelId)
    })

  /** Quantile (pinball-loss) regression (m15, algorithm.rs:28), τ=0.3. */
  val m15Quantile: GraftQuery = GraftQuery(
    "m15_quantile",
    (s, dir) => gdServe("quantile", Map("quantile" -> 0.3))(s, dir),
    None,
    oracleGen = Some { (s, dir) =>
      val (tr, modelId) = gdQuery("quantile", Map("quantile" -> 0.3))(s, dir)
      gdOracle(tr, modelId)
    })

  /** Tree-walk SQL for a fitted decision tree: nested CASE over the
    * ContinuousSplit thresholds, leaf predictions as literals — MLlib's
    * predictImpl goes left iff x(featureIdx) <= threshold, and threshold
    * compares are exact doubles, so the replay is float-for-float. */
  private def treeSql(node: org.apache.spark.ml.tree.Node,
      featOf: Int => String): String = node match {
    case l: org.apache.spark.ml.tree.LeafNode => s"(${dlit(l.prediction)})"
    case n: org.apache.spark.ml.tree.InternalNode => n.split match {
      case cs: org.apache.spark.ml.tree.ContinuousSplit =>
        s"(CASE WHEN ${featOf(cs.featureIndex)} <= (${dlit(cs.threshold)}) " +
          s"THEN ${treeSql(n.leftChild, featOf)} " +
          s"ELSE ${treeSql(n.rightChild, featOf)} END)"
      case other => throw new IllegalArgumentException(
        s"tree replay supports continuous splits only, got ${other.getClass}")
    }
  }
  private def ensembleOracle(tr: graft.ml.Trainer, modelId: Long): String = {
    val (roots, weights, divisor) = tr.registry.treeEnsemble(modelId)
    val names = tr.registry.featureNames(modelId).map(_.stripSuffix("__f"))
    val featOf = (i: Int) => s"f.${names(i)}"
    val chain = roots.zip(weights)
      .map { case (r, w) => s"(${dlit(w)}) * ${treeSql(r, featOf)}" }
      .mkString(" + ")
    s"""WITH f AS (SELECT DISTINCT l_quantity, l_discount, l_tax FROM lineitem)
        SELECT f.l_quantity, f.l_discount, f.l_tax,
          round(($chain) / (${dlit(divisor)}), 4) + 0.0 AS prediction
        FROM f ORDER BY f.l_quantity, f.l_discount, f.l_tax"""
  }
  private def ensembleQuery(algo: String)(
      s: SparkSession, dir: String): (graft.ml.Trainer, Long) =
    mCached(algo, s, dir) { tr =>
      val li = t(s, dir, "lineitem")
        .select(col("l_quantity"), col("l_discount"), col("l_tax"),
          col("l_extendedprice"))
      tr.train(s"q_$algo", "regression", li, Some("l_extendedprice"), algo,
        hyperparams = Map("n_estimators" -> 4, "max_depth" -> 4),
        testSize = 0.0).modelId
    }
  private def ensembleServe(algo: String)(
      s: SparkSession, dir: String): DataFrame = {
    val (tr, modelId) = ensembleQuery(algo)(s, dir)
    val feats = t(s, dir, "lineitem")
      .select(col("l_quantity"), col("l_discount"), col("l_tax")).distinct()
    tr.registry.predictWithModel(modelId, feats)
      .select(col("l_quantity"), col("l_discount"), col("l_tax"),
        (round(col("prediction"), 4) + lit(0.0)).as("prediction"))
      .orderBy(col("l_quantity"), col("l_discount"), col("l_tax"))
  }

  /** Bagging (m16, algorithm.rs:33 → forest of bagged trees): the whole
    * fitted ensemble replays as SQL — per-tree nested-CASE walks summed
    * left-associatively and divided by n, exactly MLlib's
    * sum-then-divide averaging. */
  val m16Bagging: GraftQuery = GraftQuery(
    "m16_bagging",
    (s, dir) => ensembleServe("bagging")(s, dir),
    None,
    oracleGen = Some { (s, dir) =>
      val (tr, modelId) = ensembleQuery("bagging")(s, dir)
      ensembleOracle(tr, modelId)
    })

  /** RANSAC (m18, algorithm.rs:25 → huber-loss GD, the recorded robust
    * substitution): consensus sampling doesn't distribute; the smooth
    * robust surrogate fits through the same WarmStart machinery as
    * m14/m15 and its served head replays as linear literals over the
    * standard-scale transform. theil_sen routes identically, so this one
    * oracle covers the whole robust tail of the enum. */
  val m18Ransac: GraftQuery = GraftQuery(
    "m18_ransac",
    (s, dir) => gdServe("ransac", Map.empty)(s, dir),
    None,
    oracleGen = Some { (s, dir) =>
      val (tr, modelId) = gdQuery("ransac", Map.empty)(s, dir)
      gdOracle(tr, modelId)
    })

  // one trained-and-dumped registry per (session, dir): the query reloads
  // it through Spark's CSV reader while the oracle has DuckDB parse the
  // SAME dump independently — the gate verifies the export FORMAT
  // (RFC-4180 quoting of the JSON columns included), not just our own
  // round-trip
  private val m19Cache = scala.collection.concurrent.TrieMap.empty[String, String]
  private def m19Dump(s: SparkSession, dir: String): String =
    m19Cache.getOrElseUpdate(s"${skey(s)}#$dir", {
      val li = t(s, dir, "lineitem")
        .select(col("l_quantity"), col("l_extendedprice")).limit(2000)
      val reg = java.nio.file.Files.createTempDirectory("graft_q_dump_").toString
      val tr = new graft.ml.Trainer(s, reg)
      tr.train("q_dump", "regression", li, Some("l_extendedprice"), "linear",
        testSize = 0.0)
      tr.train("q_dump", "regression", li, Some("l_extendedprice"), "ridge",
        hyperparams = Map("alpha" -> 100.0), testSize = 0.0)
      // splitter registry rows ride the same dump (queries.rs:39-47);
      // the duplicate get-or-create must NOT mint a third row
      val s1 = tr.registry.getOrCreateSplitter("recursive_character",
        """{"chunk_size": 1500, "chunk_overlap": 40}""", 1L)
      val s1b = tr.registry.getOrCreateSplitter("recursive_character",
        """{"chunk_size": 1500, "chunk_overlap": 40}""", 1L)
      require(s1 == s1b, s"get-or-create minted a duplicate splitter: $s1 vs $s1b")
      tr.registry.getOrCreateSplitter("markdown",
        """{"chunk_size": 600, "chunk_overlap": 0}""", 2L)
      val out = java.nio.file.Files.createTempDirectory("graft_q_dump_out_").toString
      tr.registry.dumpAll(out)
      out
    })

  /** Model dump_all / load_all (m19, api.rs:1029-1071: COPY the registry
    * tables TO/FROM CSV): train two models (the second deploys only on a
    * metric tie-or-better, so the deployments table is exercised too),
    * dump, reload through Spark's CSV reader, and emit the reloaded
    * models joined with per-model deployment counts. The oracle reads the
    * SAME dumped CSV files with DuckDB's independent RFC-4180 parser —
    * quoting of the embedded-JSON hyperparams/metrics columns and the
    * header contract are what the hash gate verifies. */
  val m19DumpLoad: GraftQuery = GraftQuery(
    "m19_dump_load",
    (s, dir) => {
      val dump = m19Dump(s, dir)
      val reg = java.nio.file.Files.createTempDirectory("graft_q_load_").toString
      val (models, deps) = new graft.ml.Registry(s, reg).loadAll(dump)
      models.select(col("model_id").cast("long").as("model_id"),
          col("project"), col("task"), col("algorithm"), col("runtime"))
        .join(deps.groupBy(col("model_id").cast("long").as("model_id"))
          .agg(count(lit(1)).as("n_deploys")), Seq("model_id"), "left")
        .na.fill(0L, Seq("n_deploys"))
        .orderBy(col("model_id"))
    },
    None,
    oracleGen = Some { (s, dir) =>
      val dump = m19Dump(s, dir)
      s"""WITH m AS (SELECT * FROM read_csv_auto('$dump/models_csv/*.csv', header=true)),
          d AS (SELECT * FROM read_csv_auto('$dump/deployments_csv/*.csv', header=true))
          SELECT CAST(m.model_id AS BIGINT) AS model_id, m.project, m.task,
            m.algorithm, m.runtime,
            (SELECT count(*) FROM d WHERE d.model_id = m.model_id) AS n_deploys
          FROM m ORDER BY model_id"""
    })

  /** `pgml.splitters` registry round-trip (queries.rs:39-47) through the
    * m19 dump/load machinery: two distinct splitter configs (plus a
    * duplicate get-or-create that must reuse its row) are registered
    * beside the models, dumped to RFC-4180 CSV, and reloaded through
    * Spark's CSV reader while DuckDB parses the SAME files independently —
    * the JSONB-ish `parameters` column (embedded quotes and commas) is
    * gated verbatim, which m19 left un-gated for models. */
  val m21Splitters: GraftQuery = GraftQuery(
    "m21_splitters",
    (s, dir) => {
      val dump = m19Dump(s, dir)
      val reg = java.nio.file.Files.createTempDirectory("graft_q_split_").toString
      new graft.ml.Registry(s, reg).loadSplitters(dump)
        .select(col("id").cast("long").as("id"), col("name"), col("parameters"),
          col("project_id").cast("long").as("project_id"))
        .orderBy(col("id"))
    },
    None,
    oracleGen = Some { (s, dir) =>
      val dump = m19Dump(s, dir)
      s"""SELECT CAST(id AS BIGINT) AS id, name, parameters,
            CAST(project_id AS BIGINT) AS project_id
          FROM read_csv_auto('$dump/splitters_csv/*.csv', header=true)
          ORDER BY id"""
    })

  /** Seeded train/test split membership ORACLED per row (closes the
    * oldest tested-only rows, §2.6 ORDER BY RANDOM() / §2.11 random and
    * stratified splits): Sampling.split with a stable key orders by the
    * house splitmix64 avalanche of the key (same seed ⇒ same split under
    * ANY partition layout — rand(seed)'s per-partition stream does not
    * survive a repartition; that reproducibility is the 100 TB contract)
    * and the DuckDB oracle recomputes membership INDEPENDENTLY: the
    * SplitmixSql limb replay of mix64(doc_id, seed) folded to SIGNED
    * BIGINT (Spark orders longs signed), row_number over (draw, doc_id),
    * and the same n − round(n·testSize) cut; the stratified arm replays
    * the per-label round-robin (row_number per lang over the same draw,
    * then the (rn, lang) global order). `last` is intentionally not
    * gated: its order is the input relation's physical row order — not a
    * deterministic cross-engine contract. */
  val m20SeededSplit: GraftQuery = GraftQuery(
    "m20_seeded_split",
    (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      def arm(sampling: String): DataFrame = {
        val (tr, te) = graft.ml.Sampling.split(docs, 0.25, sampling, "lang",
          seed = 7L, keyCol = Some("doc_id"))
        tr.select(lit(sampling).as("sampling"), col("doc_id"), lit("train").as("part"))
          .unionAll(te.select(lit(sampling).as("sampling"), col("doc_id"),
            lit("test").as("part")))
      }
      arm("random").unionAll(arm("stratified"))
        .orderBy(col("sampling"), col("doc_id"))
    },
    None,
    oracleGen = Some { (s, dir) =>
      val n = t(s, dir, "documents").count()
      val cut = n - math.round(n * 0.25)
      val seedMixed = SplitmixSql.seedMixed(7L)
      s"""WITH m0 AS (SELECT doc_id, lang,
         |    xor(doc_id::HUGEINT, $seedMixed::HUGEINT) AS z FROM documents),
         |m1 AS (SELECT doc_id, lang, ${SplitmixSql.mul("xor(z, z >> 30)", SplitmixSql.C1)} AS z FROM m0),
         |m2 AS (SELECT doc_id, lang, ${SplitmixSql.mul("xor(z, z >> 27)", SplitmixSql.C2)} AS z FROM m1),
         |mz AS (SELECT doc_id, lang,
         |    CASE WHEN xor(z, z >> 31) >= 9223372036854775808::HUGEINT
         |         THEN CAST(xor(z, z >> 31) - 18446744073709551616::HUGEINT AS BIGINT)
         |         ELSE CAST(xor(z, z >> 31) AS BIGINT) END AS sdraw FROM m2),
         |r AS (SELECT doc_id,
         |    CASE WHEN row_number() OVER (ORDER BY sdraw, doc_id) - 1 < $cut
         |         THEN 'train' ELSE 'test' END AS part FROM mz),
         |st0 AS (SELECT doc_id, lang,
         |    row_number() OVER (PARTITION BY lang ORDER BY sdraw, doc_id) AS rn FROM mz),
         |st AS (SELECT doc_id,
         |    CASE WHEN row_number() OVER (ORDER BY rn, lang) - 1 < $cut
         |         THEN 'train' ELSE 'test' END AS part FROM st0)
         |SELECT 'random' AS sampling, doc_id, part FROM r
         |UNION ALL SELECT 'stratified' AS sampling, doc_id, part FROM st
         |ORDER BY sampling, doc_id""".stripMargin
    })

  /** AdaBoost (m17, algorithm.rs:32 → the MLlib boosting family):
    * weighted additive trees — Σ wᵢ·treeᵢ(x), the GBT blend — replayed
    * the same way (divisor 1). */
  val m17AdaBoost: GraftQuery = GraftQuery(
    "m17_ada_boost",
    (s, dir) => ensembleServe("ada_boost")(s, dir),
    None,
    oracleGen = Some { (s, dir) =>
      val (tr, modelId) = ensembleQuery("ada_boost")(s, dir)
      ensembleOracle(tr, modelId)
    })

  // one warm-start-tuned registry shared by the x8 query and its oracle
  // generator (the oracle inlines the SAME fitted head's parameters, so
  // the pair must come from one tune; session+dir keying as x6Cache)
  private val x8Cache =
    scala.collection.concurrent.TrieMap.empty[String, (graft.ml.Trainer, Long)]
  private def x8Tune(s: SparkSession, dir: String): (graft.ml.Trainer, Long) =
    x8Cache.getOrElseUpdate(s"${skey(s)}#$dir", {
      val docs = t(s, dir, "documents")
      // weak labels from the lexicon stand-in's own verdict (the x5
      // distillation move — corpus vocabulary intersects it on fast/slow)
      val toks = split(trim(lower(col("text"))), "\\s+")
      val labeled = docs.select(col("doc_id"), col("text"),
        when(size(filter(toks, x => x === "fast")) >=
          size(filter(toks, x => x === "slow")), lit(1.0))
          .otherwise(lit(0.0)).as("label"))
      val reg = java.nio.file.Files.createTempDirectory("graft_q_ws_").toString
      val tr = new graft.ml.Trainer(s, reg)
      // base deployment: cold fit on the doc_id % 3 = 0 slice
      tr.tune("q_ws", "text_classification",
        labeled.where(col("doc_id") % 3 === 0).select("text", "label"),
        "text", "label", "distilbert-stand-in")
      // CONTINUED training on the rest: warm-start gradient descent from
      // the deployed head's coefficients (api.rs:846-995 lifecycle)
      val res2 = tr.tune("q_ws", "text_classification",
        labeled.where(col("doc_id") % 3 =!= 0).select("text", "label"),
        "text", "label", "distilbert-stand-in")
      (tr, res2.modelId)
    })

  /** pgml.tune with REAL continued training (x8): the second tune of a
    * project warm-starts full-batch logistic gradient descent from the
    * deployed model's coefficients (WarmStart.continueLogisticBinary) and
    * registers the updated head; the query serves its predict_proba over
    * every document. The oracle replays the ENTIRE serving path in
    * DuckDB: the s4 hash-embed HUGEINT machinery builds the feature
    * vectors, then p = σ(b + Σ wᵢvᵢ) with the tuned parameters as
    * literals — the dot product folds left-associatively in dim order on
    * both engines, so the probabilities replay behind round(4).
    */
  val x8TuneWarmStart: GraftQuery = GraftQuery(
    "x8_tune_warm_start",
    (s, dir) => {
      val (tr, modelId) = x8Tune(s, dir)
      val docs = t(s, dir, "documents")
      val dim = 64
      val emb = graft.functions.HashEmbedder(dim)
      val e = emb.embedCol(col("text"))
      val feat = docs.select(col("doc_id") +:
        (0 until dim).map(i => element_at(e, i + 1).cast("double").as(s"e$i")): _*)
      tr.registry.predictProbaWithModel(modelId, feat)
        .select(col("doc_id"), col("prediction"),
          (round(element_at(col("proba"), 2), 4) + lit(0.0)).as("score"))
        .orderBy(col("doc_id"))
    },
    None,
    oracleGen = Some { (s, dir) =>
      val (tr, modelId) = x8Tune(s, dir)
      val (w, b) = tr.registry.logisticParams(modelId)
      s"""WITH ${hashEmbedCtes(
          "SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents")},
          wv(v) AS (VALUES ([${w.map(dlit).mkString(",")}])),
          p AS (SELECT vecs.doc_id,
              1.0 / (1.0 + exp(-(${dlit(b)} + list_reduce(
                list_transform(range(1, 65),
                  i -> vecs.v[CAST(i AS INT)] * wv.v[CAST(i AS INT)]),
                (x, y) -> x + y)))) AS p
            FROM vecs, wv)
          SELECT doc_id,
            CASE WHEN p > 0.5 THEN 1.0 ELSE 0.0 END AS prediction,
            round(p, 4) + 0.0 AS score
          FROM p ORDER BY doc_id"""
    })

  // fitted NER model shared by the x9 query and its oracle generator
  private val x9Cache =
    scala.collection.concurrent.TrieMap.empty[String, graft.operators.NerClassifier.Model]
  private def x9ModelName(dir: String): String = s"trained-ner:$dir"
  /** Entity-bearing synthesis over the corpus (the documents have no
    * capitalization or triggers of their own — same move as c8's planted
    * lines): `Mr <Cap1> visited <Cap2> in <w3> <text>`, entities at
    * token positions 2, 4, 6. SQL-replayable capitalization
    * (upper-first-char, no initcap dependence). */
  private def x9Synth(toks: org.apache.spark.sql.Column, text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    def tok(k: Int) = coalesce(element_at(toks, k), lit("pad"))
    def capTok(k: Int) =
      concat(upper(substring(tok(k), 1, 1)), substring(tok(k), 2, 1000000))
    concat_ws(" ", lit("Mr"), capTok(1), lit("visited"), capTok(2),
      lit("in"), tok(3), text)
  }
  private def x9Fit(s: SparkSession, dir: String): graft.operators.NerClassifier.Model = {
    val m = x9Cache.getOrElseUpdate(s"${skey(s)}#$dir", {
      val docs = t(s, dir, "documents")
      val toks = filter(split(col("text"), "\\s+"), x => x =!= "")
      val labeled = docs.where(col("doc_id") % 3 === 0)
        .select(x9Synth(toks, col("text")).as("text9"),
          typedLit(Seq(2, 4, 6)).as("ents"))
      graft.operators.NerClassifier.fit(labeled, "text9", "ents")
    })
    graft.operators.Transform.registerModel(
      x9ModelName(dir), graft.operators.TrainedNerModel(m))
    m
  }

  /** Trained token-classification through the transform dispatch (x9):
    * a per-token MLlib logistic over window features (NerClassifier)
    * served as `args(model := trained-ner:...)` — closes the one
    * transform task family that had only the regex stand-in. The
    * generated oracle replays the WHOLE serving path in DuckDB: the
    * planted-entity synthesis, whitespace tokenization, all six window
    * features, the sigmoid with the fitted weights as literals
    * (left-associative margin — IEEE-replayable behind round(4)), and
    * the p ≥ 0.5 entity cut.
    */
  val x9TransformNer: GraftQuery = GraftQuery(
    "x9_transform_ner",
    (s, dir) => {
      x9Fit(s, dir)
      val docs = tS(s, dir, "documents")
      val toks = filter(split(col("text"), "\\s+"), x => x =!= "")
      val synth = docs.select(col("doc_id"), x9Synth(toks, col("text")).as("text9"))
      graft.operators.Transform(synth, "token-classification", "text9",
          args = Map("model" -> x9ModelName(dir)))
        .select(col("doc_id"), explode(from_json(col("output"),
          org.apache.spark.sql.types.DataType.fromDDL(
            "array<struct<word:string,entity:string,score:double,index:int>>"))).as("e"))
        .select(col("doc_id"), col("e.index").as("idx"), col("e.word"),
          col("e.entity"), round(col("e.score"), 4).as("score"))
        .orderBy(col("doc_id"), col("idx"))
    },
    None,
    oracleGen = Some { (s, dir) =>
      val m = x9Fit(s, dir)
      val w = m.weights
      val trig = graft.operators.NerClassifier.Triggers
        .map(t => s"'$t'").mkString(", ")
      val margin = s"${dlit(m.intercept)} + (${dlit(w(0))} * f0 + ${dlit(w(1))} * f1" +
        s" + ${dlit(w(2))} * f2 + ${dlit(w(3))} * f3 + ${dlit(w(4))} * f4" +
        s" + ${dlit(w(5))} * f5)"
      s"""WITH tdoc AS (SELECT doc_id,
              list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk,
              text FROM documents),
          s AS (SELECT doc_id,
              'Mr ' || upper(substr(coalesce(tk[1], 'pad'), 1, 1))
                || substr(coalesce(tk[1], 'pad'), 2)
                || ' visited ' || upper(substr(coalesce(tk[2], 'pad'), 1, 1))
                || substr(coalesce(tk[2], 'pad'), 2)
                || ' in ' || coalesce(tk[3], 'pad') || ' ' || text AS text9
            FROM tdoc),
          tok AS (SELECT doc_id,
              list_filter(string_split_regex(text9, '\\s+'), x -> x <> '') AS tk
            FROM s),
          pos AS (SELECT doc_id, tk, CAST(i AS INT) AS i
            FROM (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i FROM tok)),
          f AS (SELECT doc_id, i, tk[i] AS w,
              CASE WHEN substr(tk[i], 1, 1) BETWEEN 'A' AND 'Z' THEN 1.0 ELSE 0.0 END AS f0,
              CASE WHEN i = 1 THEN 1.0 ELSE 0.0 END AS f1,
              CASE WHEN i > 1 AND lower(tk[i - 1]) IN ($trig) THEN 1.0 ELSE 0.0 END AS f2,
              CASE WHEN i > 1 AND substr(tk[i - 1], 1, 1) BETWEEN 'A' AND 'Z' THEN 1.0 ELSE 0.0 END AS f3,
              least(len(tk[i]), 12) / 12.0 AS f4,
              CASE WHEN regexp_matches(tk[i], '[0-9]') THEN 1.0 ELSE 0.0 END AS f5
            FROM pos),
          p AS (SELECT doc_id, i, w,
              1.0 / (1.0 + exp(-($margin))) AS p
            FROM f)
          SELECT doc_id, i AS idx, w AS word, 'ENT' AS entity,
            round(p, 4) AS score
          FROM p WHERE p >= 0.5 ORDER BY doc_id, idx"""
    })

  /** OpenSourceAI chat completions (x10): the OpenAI-compatible façade
    * (open_source_ai.rs:140-420) routed through the conversational
    * transform task, one envelope per document. The oracle replays the
    * WHOLE envelope from first principles in DuckDB: the reply rule
    * (first max_tokens tokens of the user turn), the deterministic
    * request id (FNV-1a-64 over the exact messages JSON — corpus text
    * needs no escaping, so the byte stream is constructible in SQL —
    * rendered as unsigned lowercase hex via to_hex), and the
    * system_fingerprint (FNV over model+max_tokens, computed in SQL,
    * not echoed).
    */
  val x10ChatCompletion: GraftQuery = GraftQuery(
    "x10_chat_completion",
    (s, dir) => {
      import s.implicits._
      // fixed-size oracle domain: the per-document envelope/stream loop
      // is driver-side by construction (a token-stream surface), so the
      // slice is capped at 50 docs — corpus-independent under any sf
      val docs = t(s, dir, "documents").where(col("doc_id") % 11 === 0)
        .orderBy(col("doc_id")).limit(50)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .collect().sortBy(_._1).toSeq
      // Oracle validity domain, enforced (not assumed): the DuckDB replay
      // hashes the messages JSON per CODE POINT and concatenates the text
      // into it UNESCAPED, while the JVM side hashes UTF-8 bytes of the
      // esc()-escaped JSON. The two agree exactly on printable ASCII free
      // of '"' and '\' — anything else must fail loudly here, not as an
      // unexplained driver hash mismatch.
      docs.foreach { case (id, text) =>
        require(text.forall(ch => ch >= 0x20 && ch < 0x7f && ch != '"' && ch != '\\'),
          s"x10 oracle precondition violated by doc $id: text must be " +
            "printable ASCII without '\"' or '\\' for the per-code-point " +
            "unescaped DuckDB FNV replay to match the JVM UTF-8 byte hash")
      }
      docs.map { case (id, text) =>
          (id, graft.store.OpenSourceAI.chatCompletionsCreate(
            "test-model", Seq("system" -> "be brief", "user" -> text),
            maxTokens = 12))
        }.toDF("doc_id", "env")
        .select(col("doc_id"),
          get_json_object(col("env"), "$.id").as("chat_id"),
          get_json_object(col("env"), "$.model").as("model"),
          get_json_object(col("env"), "$.system_fingerprint").as("fingerprint"),
          get_json_object(col("env"), "$.choices[0].message.content").as("content"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 11 = 0
              ORDER BY doc_id LIMIT 50),
            m AS (SELECT doc_id, text,
              '[{"role": "system", "content": "be brief"}, {"role": "user", "content": "'
                || text || '"}]' AS msg FROM d),
            h AS (SELECT doc_id, text, list_reduce(
                list_concat([14695981039346656037::HUGEINT],
                  list_transform(string_split(msg, ''), ch -> unicode(ch)::HUGEINT)),
                (a, b) -> (xor(a, b) * 1099511628211::HUGEINT)
                  % 18446744073709551616::HUGEINT) AS hid FROM m),
            f AS (SELECT list_reduce(
                list_concat([14695981039346656037::HUGEINT],
                  list_transform(string_split('test-model12', ''), ch -> unicode(ch)::HUGEINT)),
                (a, b) -> (xor(a, b) * 1099511628211::HUGEINT)
                  % 18446744073709551616::HUGEINT) AS fp)
            SELECT h.doc_id,
              lower(to_hex(CAST(h.hid AS UBIGINT))) AS chat_id,
              'test-model' AS model,
              lower(to_hex(CAST(f.fp AS UBIGINT))) AS fingerprint,
              array_to_string(list_slice(
                string_split_regex(trim(lower(text)), '\s+'), 1, 12), ' ') AS content
            FROM h, f ORDER BY h.doc_id"""))

  // one warm-start-tuned PAIR registry shared by the x11 query and its
  // oracle generator (the oracle inlines the SAME tuned head's 128
  // parameters, so the pair must come from one tune; session+dir keying
  // as x8Cache)
  private val x11Cache =
    scala.collection.concurrent.TrieMap.empty[String, (graft.ml.Trainer, Long)]
  /** Deterministic, SQL-replayable pair synthesis over the corpus: text2
    * is a token slice of text1's own (trimmed, lowered) tokens — the
    * first 8 for even doc_ids (a near-paraphrase bag), tokens 9..16 for
    * odd (a disjoint segment) — plus a parity pad token so text2 always
    * embeds to a nonzero vector. Bag-of-words hash embeddings are order
    * invariant, so DIFFERENT token sets (not a reorder) are what separate
    * the classes. */
  private def x11Text2(): org.apache.spark.sql.Column = {
    val toks = split(trim(lower(col("text"))), "\\s+")
    when(col("doc_id") % 2 === 0,
      concat(concat_ws(" ", slice(toks, 1, 8)), lit(" seg")))
      .otherwise(concat(concat_ws(" ", slice(toks, 9, 8)), lit(" alt")))
  }
  private def x11Tune(s: SparkSession, dir: String): (graft.ml.Trainer, Long) =
    x11Cache.getOrElseUpdate(s"${skey(s)}#$dir", {
      val docs = t(s, dir, "documents")
      val pairs = docs.select(col("doc_id"),
        col("text").as("text1"), x11Text2().as("text2"),
        when(col("doc_id") % 2 === 0, lit(1.0)).otherwise(lit(0.0)).as("label"))
      val reg = java.nio.file.Files.createTempDirectory("graft_q_wsp_").toString
      val tr = new graft.ml.Trainer(s, reg)
      // base deployment: cold fit of the 2·dim-feature pair head on the
      // doc_id % 3 = 0 slice
      tr.tune("q_wsp", "text_pair_classification",
        pairs.where(col("doc_id") % 3 === 0).select("text1", "text2", "label"),
        "text1", "label", "cross-encoder-stand-in")
      // CONTINUED training on the rest: warm-start gradient descent from
      // the deployed pair head's coefficients (api.rs:846-995 lifecycle)
      val res2 = tr.tune("q_wsp", "text_pair_classification",
        pairs.where(col("doc_id") % 3 =!= 0).select("text1", "text2", "label"),
        "text1", "label", "cross-encoder-stand-in")
      // the second tune MUST have taken the warm branch — fail loudly
      // here, not as an unexplained driver hash mismatch
      val hp = tr.registry.models.where(col("model_id") === res2.modelId)
        .select("hyperparams").head().getString(0)
      require(hp.contains("warm_start_from"),
        s"x11 second tune did not warm-start (hyperparams: $hp)")
      (tr, res2.modelId)
    })

  /** pgml.tune of a text_pair project with REAL continued training (x11):
    * the second tune warm-starts full-batch logistic GD over the 2·dim
    * interaction features (|u−v|, u⊙v per dim) from the deployed pair
    * head's coefficients, and the query serves its predict_proba over
    * every synthesized pair. The oracle replays the ENTIRE serving path
    * in DuckDB: both texts' hash embeddings via the s4 HUGEINT machinery
    * (text2 keyed at doc_id + 10⁸), each fitted coefficient mapped back
    * to its source expression IN THE MODEL'S OWN featNames ORDER, and
    * p = σ(b + Σ wⱼfⱼ) with the tuned parameters as literals — the
    * margin folds left-associatively exactly like GdLogisticModel.prob,
    * so the probabilities replay behind round(4).
    */
  val x11TunePairWarmStart: GraftQuery = GraftQuery(
    "x11_tune_pair_warm_start",
    (s, dir) => {
      val (tr, modelId) = x11Tune(s, dir)
      val docs = t(s, dir, "documents")
      val dim = 64
      val emb = graft.functions.HashEmbedder(dim)
      val e1 = emb.embedCol(col("text1"))
      val e2 = emb.embedCol(col("text2"))
      val pairs = docs.select(col("doc_id"),
        col("text").as("text1"), x11Text2().as("text2"))
      val feat = pairs.select(col("doc_id") +:
        (0 until dim).flatMap { i =>
          val a = element_at(e1, i + 1).cast("double")
          val b = element_at(e2, i + 1).cast("double")
          Seq(abs(a - b).as(s"d$i"), (a * b).as(s"p$i"))
        }: _*)
      tr.registry.predictProbaWithModel(modelId, feat)
        .select(col("doc_id"), col("prediction"),
          (round(element_at(col("proba"), 2), 4) + lit(0.0)).as("score"))
        .orderBy(col("doc_id"))
    },
    None,
    oracleGen = Some { (s, dir) =>
      val (tr, modelId) = x11Tune(s, dir)
      val (w, b) = tr.registry.logisticParams(modelId)
      val names = tr.registry.featureNames(modelId)
      require(names.length == w.length,
        s"x11 featNames/coefficients width mismatch: ${names.length} vs ${w.length}")
      // coefficient j pairs with featNames(j): map each name back to its
      // source expression so the replayed margin uses the model's own
      // assembled feature order, whatever the preprocessor chose
      def fexpr(n: String): String = {
        // assembled names are "<src>__f" for plain numeric columns
        // (Preprocessor.featureNames) — strip the suffix, parse "d<i>"/"p<i>"
        val src = n.stripSuffix("__f")
        val i = src.drop(1).toInt + 1
        if (src.startsWith("d")) s"abs(u.v[$i] - w2.v[$i])"
        else s"(u.v[$i] * w2.v[$i])"
      }
      // flat list constructor + left-fold, not a 128-term `+` chain (which
      // exceeds DuckDB's binder recursion depth); seedless list_reduce is
      // the same left-associative fold as the 0.0-seeded serving loop
      val chain = s"list_reduce([${names.zip(w)
        .map { case (n, wi) => s"(${dlit(wi)}) * ${fexpr(n)}" }
        .mkString(", ")}], (x, y) -> x + y)"
      s"""WITH tdoc AS (SELECT doc_id,
              string_split_regex(trim(lower(text)), '\\s+') AS tk, text
            FROM documents),
          pairs AS (SELECT doc_id, text AS t1,
              CASE WHEN doc_id % 2 = 0
                THEN array_to_string(list_slice(tk, 1, 8), ' ') || ' seg'
                ELSE array_to_string(list_slice(tk, 9, 16), ' ') || ' alt'
              END AS t2
            FROM tdoc),
          ${hashEmbedCtes(
            """SELECT CAST(doc_id AS BIGINT) AS doc_id, t1 AS text FROM pairs
              UNION ALL SELECT CAST(doc_id AS BIGINT) + 100000000, t2 FROM pairs""")},
          p AS (SELECT u.doc_id,
              1.0 / (1.0 + exp(-(${dlit(b)} + ($chain)))) AS p
            FROM vecs u JOIN vecs w2 ON w2.doc_id = u.doc_id + 100000000
            WHERE u.doc_id < 100000000)
          SELECT doc_id,
            CASE WHEN p > 0.5 THEN 1.0 ELSE 0.0 END AS prediction,
            round(p, 4) + 0.0 AS score
          FROM p ORDER BY doc_id"""
    })

  // one warm-start-tuned CONVERSATION registry shared by the x12 query
  // and its oracle generator (the oracle inlines the SAME tuned model's
  // centers and generation table)
  private val x12Cache =
    scala.collection.concurrent.TrieMap.empty[String, (graft.ml.Trainer, Long)]
  private def x12Tune(s: SparkSession, dir: String): (graft.ml.Trainer, Long) =
    x12Cache.getOrElseUpdate(s"${skey(s)}#$dir", {
      val docs = t(s, dir, "documents")
      // synthesized conversations: user = the document text, assistant =
      // its first 6 (trimmed, lowered) tokens. The replies never need a
      // SQL replay — they inline as literals from the registered
      // generation table — so only determinism matters here.
      val conv = docs.select(col("doc_id"),
        lit("be brief").as("system"), col("text").as("user"),
        concat_ws(" ",
          slice(split(trim(lower(col("text"))), "\\s+"), 1, 6)).as("assistant"))
      val reg = java.nio.file.Files.createTempDirectory("graft_q_wsc_").toString
      val tr = new graft.ml.Trainer(s, reg)
      // base deployment: cold KMeans retrieval-generator on the
      // doc_id % 3 = 0 slice
      tr.tune("q_wsc", "conversation",
        conv.where(col("doc_id") % 3 === 0).select("system", "user", "assistant"),
        "user", "assistant", "causal-lm-stand-in")
      // CONTINUED training on the rest: the deployed centers keep moving
      // via distributed Lloyd iterations (WarmStart.continueKMeans)
      val res2 = tr.tune("q_wsc", "conversation",
        conv.where(col("doc_id") % 3 =!= 0).select("system", "user", "assistant"),
        "user", "assistant", "causal-lm-stand-in")
      val hp = tr.registry.models.where(col("model_id") === res2.modelId)
        .select("hyperparams").head().getString(0)
      require(hp.contains("warm_start_from"),
        s"x12 second tune did not warm-start (hyperparams: $hp)")
      (tr, res2.modelId)
    })

  /** pgml.tune of a conversation project with REAL continued training
    * (x12): the second tune warm-starts Lloyd iterations from the
    * deployed centroids (CentroidModel), and the query serves the whole
    * generate() path over every document — embed, nearest-center
    * assignment, generation-table lookup. The oracle replays it all in
    * DuckDB: the s4 hash-embed machinery, the m3-style literal-argmin
    * (row_number over (dsq, c) == CentroidModel's strict-< first-minimum,
    * both over the identical left-associative squared distance), and the
    * generation table as VALUES. CentroidModel.transform is the
    * plan-pure projection this replay pins down.
    */
  val x12TuneConversationWarmStart: GraftQuery = GraftQuery(
    "x12_tune_conversation_warm_start",
    (s, dir) => {
      val (tr, modelId) = x12Tune(s, dir)
      val docs = t(s, dir, "documents")
      val dim = 64
      val emb = graft.functions.HashEmbedder(dim)
      val e = emb.embedCol(col("text"))
      val feat = docs.select(col("doc_id") +:
        (0 until dim).map(i => element_at(e, i + 1).cast("double").as(s"e$i")): _*)
      val reps = tr.registry.storedResponses(modelId)
      val repExpr = reps.toSeq.sortBy(_._1).foldLeft(lit("")) {
        case (acc, (c, r)) => when(col("prediction") === c, lit(r)).otherwise(acc)
      }
      tr.registry.predictWithModel(modelId, feat)
        .select(col("doc_id"), col("prediction").cast("int").as("cluster"),
          repExpr.as("reply"))
        .orderBy(col("doc_id"))
    },
    None,
    oracleGen = Some { (s, dir) =>
      val (tr, modelId) = x12Tune(s, dir)
      val centers = tr.registry.clusterCenters(modelId)
      val reps = tr.registry.storedResponses(modelId)
      require(centers.indices.forall(reps.contains),
        s"x12 generation table misses a center: ${reps.keySet} vs ${centers.length}")
      // replies inline as SQL literals — enforce the validity domain
      // loudly (x10 discipline); single quotes double-escape
      reps.values.foreach { r =>
        require(r.forall(ch => ch >= 0x20 && ch < 0x7f && ch != '\\'),
          s"x12 oracle precondition violated: reply '$r' must be printable " +
            "ASCII without backslashes to inline as a SQL literal")
      }
      val centerRows = centers.zipWithIndex.map { case (c, i) =>
        s"($i, [${c.map(dlit).mkString(",")}])"
      }.mkString(", ")
      val repRows = reps.toSeq.sortBy(_._1).map { case (c, r) =>
        s"($c, '${r.replace("'", "''")}')"
      }.mkString(", ")
      s"""WITH ${hashEmbedCtes(
            "SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents")},
          cent(c, cv) AS (VALUES $centerRows),
          rep(c, reply) AS (VALUES $repRows),
          d AS (SELECT vecs.doc_id, cent.c,
              (SELECT sum((vecs.v[CAST(i AS INT)] - cent.cv[CAST(i AS INT)])
                        * (vecs.v[CAST(i AS INT)] - cent.cv[CAST(i AS INT)]))
                 FROM range(1, 65) t(i)) AS dsq
            FROM vecs, cent),
          a AS (SELECT doc_id, c,
              row_number() OVER (PARTITION BY doc_id ORDER BY dsq, c) AS rn
            FROM d)
          SELECT a.doc_id, a.c AS cluster, rep.reply
          FROM a JOIN rep ON a.c = rep.c WHERE a.rn = 1 ORDER BY a.doc_id"""
    })

  /** OpenSourceAI STREAMING chat (x13): chat_completions_create_stream
    * (open_source_ai.rs:188-247) — the per-token delta iterator of the
    * x10 surface. The query drains every stream into (doc_id, idx,
    * token) rows AND asserts in-line that the reassembled stream equals
    * the batch envelope's content (the reference contract: the stream is
    * the same completion, chunked); the oracle replays the per-token
    * stream itself — the first max_tokens corpus tokens WITH ordinality.
    */
  val x13ChatCompletionStream: GraftQuery = GraftQuery(
    "x13_chat_completion_stream",
    (s, dir) => {
      import s.implicits._
      // fixed-size oracle domain: the per-document envelope/stream loop
      // is driver-side by construction (a token-stream surface), so the
      // slice is capped at 50 docs — corpus-independent under any sf
      val docs = t(s, dir, "documents").where(col("doc_id") % 11 === 0)
        .orderBy(col("doc_id")).limit(50)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .collect().sortBy(_._1).toSeq
      docs.flatMap { case (id, text) =>
        val tokens = graft.store.OpenSourceAI.chatCompletionsCreateStream(
          "test-model", Seq("system" -> "be brief", "user" -> text),
          maxTokens = 12).toSeq
        // stream ≡ batch: the chunked deltas must reassemble into the
        // batch envelope's choice content (open_source_ai.rs contract)
        val batch = graft.store.OpenSourceAI.chatCompletionsCreate(
          "test-model", Seq("system" -> "be brief", "user" -> text),
          maxTokens = 12)
        val content = org.json4s.jackson.JsonMethods.parse(batch) \ "choices" match {
          case org.json4s.JArray(c :: _) =>
            (c \ "message" \ "content").values.toString
          case _ => ""
        }
        require(tokens.mkString(" ") == content,
          s"stream/batch divergence for doc $id: " +
            s"'${tokens.mkString(" ")}' vs '$content'")
        tokens.zipWithIndex.map { case (tok, i) => (id, i + 1, tok) }
      }.toDF("doc_id", "idx", "token")
        .orderBy(col("doc_id"), col("idx"))
    },
    Some("""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 11 = 0
              ORDER BY doc_id LIMIT 50),
            tok AS (SELECT doc_id,
              list_slice(string_split_regex(trim(lower(text)), '\s+'), 1, 12) AS l
              FROM d),
            x AS (SELECT doc_id, unnest(range(1, len(l) + 1)) AS idx, l FROM tok)
            SELECT doc_id, CAST(idx AS INT) AS idx,
              l[CAST(idx AS INT)] AS token
            FROM x ORDER BY doc_id, idx"""))

  /** The `pgml.huggingface_whitelist` guard as a DECISION TABLE (x14):
    * every (model, trust_remote_code) combination over a corpus-derived
    * domain goes through the SAME Transform.verifyTask the serving path
    * enforces (whitelist.rs:11-39 — empty-CSV = unrestricted, exact-name
    * membership, the trust_remote_code axis), under two pinned configs:
    * A = non-empty whitelist + global trust OFF (exercises ok /
    * not_whitelisted / remote_code_not_trusted), B = empty whitelist +
    * global trust ON + non-empty trusted CSV (exercises the trusted-model
    * sub-branch). The oracle replays the decision formula in SQL from the
    * SAME config literals. */
  val x14WhitelistGuard: GraftQuery = GraftQuery(
    "x14_whitelist_guard",
    (s, dir) => {
      import graft.operators.Transform
      val tasks = t(s, dir, "documents")
        .where(col("doc_id") < 200)
        .select(col("doc_id"),
          concat(lit("org"), (col("doc_id") % 4).cast("string"),
            lit("/m"), (col("doc_id") % 3).cast("string")).as("model"),
          (col("doc_id") % 5 < 2).as("trust_remote_code"))
      val cfgA = Transform.GuardConfig(
        whitelist = "org0/m0,org1/m1,org2/m2,org3/m0,org0/m1,org2/m0",
        trustRemoteCode = false, trustRemoteCodeWhitelist = "")
      val cfgB = Transform.GuardConfig(
        whitelist = "", trustRemoteCode = true,
        trustRemoteCodeWhitelist = "org0/m0,org1/m1")
      Transform.whitelistDecisions(tasks, "model", "trust_remote_code", cfgA)
        .withColumn("config_id", lit("A"))
        .unionByName(
          Transform.whitelistDecisions(tasks, "model", "trust_remote_code", cfgB)
            .withColumn("config_id", lit("B")))
        .select(col("config_id"), col("doc_id"), col("model"),
          col("trust_remote_code"), col("allowed"), col("reason"))
        .orderBy(col("config_id"), col("doc_id"))
    },
    Some("""WITH t AS (SELECT doc_id,
              'org' || CAST(doc_id % 4 AS VARCHAR) || '/m'
                    || CAST(doc_id % 3 AS VARCHAR) AS model,
              (doc_id % 5) < 2 AS trust_remote_code
              FROM documents WHERE doc_id < 200),
            d AS (
              SELECT 'A' AS config_id, doc_id, model, trust_remote_code,
                CASE WHEN NOT list_contains(string_split(
                       'org0/m0,org1/m1,org2/m2,org3/m0,org0/m1,org2/m0', ','),
                       model)
                     THEN 'not_whitelisted'
                     WHEN trust_remote_code AND NOT false
                     THEN 'remote_code_not_trusted'
                     ELSE 'ok' END AS reason
              FROM t
              UNION ALL
              SELECT 'B' AS config_id, doc_id, model, trust_remote_code,
                CASE WHEN trust_remote_code AND NOT (true AND
                       list_contains(string_split('org0/m0,org1/m1', ','), model))
                     THEN 'remote_code_not_trusted'
                     ELSE 'ok' END AS reason
              FROM t)
            SELECT config_id, doc_id, model, trust_remote_code,
              reason = 'ok' AS allowed, reason
            FROM d ORDER BY config_id, doc_id"""))

  // ------------------------------------------------- transform / stream / media

  /** pgml.transform task dispatch (text-classification): the deterministic
    * classifier's decision rule is SQL-expressible on this corpus (its
    * wordlists intersect the vocabulary only on fast/slow).
    */
  val x1TransformSentiment: GraftQuery = GraftQuery(
    "x1_transform_sentiment",
    (s, dir) =>
      graft.operators.Transform(t(s, dir, "documents"), "text-classification", "text")
        .select(col("doc_id"),
          get_json_object(col("output"), "$[0].label").as("label"))
        .orderBy(col("doc_id")),
    Some("""WITH tk AS (SELECT doc_id,
              string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents)
            SELECT doc_id,
              CASE WHEN len(list_filter(toks, x -> x = 'fast'))
                     >= len(list_filter(toks, x -> x = 'slow'))
                   THEN 'POSITIVE' ELSE 'NEGATIVE' END AS label
            FROM tk ORDER BY doc_id"""))

  /** pgml.transform over an UNBOUNDED STREAM (x7): the SAME Transform
    * operator applied to readStream of the documents table, drained
    * through a real streaming query (micro-batch outputs, the
    * transform_stream serving shape) into a memory sink — then gated
    * against x1's BATCH oracle. What the hash gate verifies: the
    * streaming path emits byte-identical classifications to batch (the
    * c4 stream-equals-batch pattern, for the transform family).
    */
  private val x7Counter = new java.util.concurrent.atomic.AtomicLong(0)
  val x7TransformStream: GraftQuery = GraftQuery(
    "x7_transform_stream",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val sink = s"x7_out_${x7Counter.incrementAndGet()}"
      // documents.parquet is a single FILE in the driver layout (stream
      // the sf dir with a glob pinned to that one file) but a parquet
      // DIRECTORY under GenData/seed-sweep layouts, where the part files
      // inside would never match that glob — stream the directory itself
      val stream =
        if (new java.io.File(s"$dir/documents.parquet").isDirectory)
          s.readStream.schema(docs.schema).parquet(s"$dir/documents.parquet")
        else s.readStream.schema(docs.schema)
          .option("pathGlobFilter", "documents.parquet")
          .parquet(dir)
      val q = graft.operators.Transform(stream, "text-classification", "text")
        .selectExpr("doc_id", "get_json_object(output, '$[0].label') AS label")
        .writeStream.outputMode("append").format("memory").queryName(sink).start()
      try q.processAllAvailable() finally q.stop()
      // materialize, then DROP the memory sink — each invocation would
      // otherwise pin a full corpus copy in the driver for the session
      val out = s.table(sink).orderBy(col("doc_id")).localCheckpoint()
      s.catalog.dropTempView(sink)
      out
    },
    // the batch oracle IS the contract: streaming must match it
    x1TransformSentiment.oracle)

  /** pgml.transform with a TRAINED model through the dispatch registry
    * (x5): MLlib logistic sentiment (weak labels distilled from the
    * lexicon stand-in) served as `args(model := trained-sentiment:...)`.
    * Generated oracle: the fitted probability replays IEEE-identically
    * (c7's scoring CTEs) plus the HF winning-class envelope.
    */
  val x5TransformTrained: GraftQuery = GraftQuery(
    "x5_transform_trained",
    (s, dir) => {
      X5OracleSql.fittedAndRegistered(s, dir)
      graft.operators.Transform(
          t(s, dir, "documents"), "text-classification", "text",
          args = Map("model" -> X5OracleSql.modelName(dir)))
        .select(col("doc_id"),
          get_json_object(col("output"), "$[0].label").as("label"),
          round(get_json_object(col("output"), "$[0].score").cast("double"), 4)
            .as("score"))
        .orderBy(col("doc_id"))
    },
    None,
    oracleGen = Some((s, dir) => X5OracleSql.sql(s, dir)))

  /** pgml.transform text2text-generation (seq2seq, api.rs:1532-1547 shape):
    * the deterministic stand-in consumes the instruction clause up to the
    * first ':' and "generates" the conditioned payload — SQL-replayable.
    */
  val x3Text2Text: GraftQuery = GraftQuery(
    "x3_text2text",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("input", concat(lit("summarize: "), col("text")))
      graft.operators.Transform(docs, "text2text-generation", "input")
        .select(col("doc_id"),
          get_json_object(col("output"), "$[0].generated_text").as("generated"))
        .orderBy(col("doc_id"))
    },
    // input = 'summarize: ' || text, so stripping through the first ':'
    // plus whitespace leaves exactly `text` (corpus has no edge whitespace)
    Some("SELECT doc_id, text AS generated FROM documents ORDER BY doc_id"))

  /** pgml.transform conversational (api.rs:713-751 JSONB-message inputs):
    * each document becomes a one-turn conversation; the reply is the
    * deterministic generation rule (first 12 tokens of the last user turn),
    * replayed in SQL.
    */
  val x4Conversational: GraftQuery = GraftQuery(
    "x4_conversational",
    (s, dir) => {
      val docs = t(s, dir, "documents").withColumn("messages",
        to_json(array(struct(lit("user").as("role"), col("text").as("content")))))
      graft.operators.Transform(docs, "conversational", "messages")
        .select(col("doc_id"), get_json_object(col("output"), "$[0]").as("reply"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
            array_to_string(list_slice(
              string_split_regex(trim(lower(text)), '\s+'), 1, 12), ' ') AS reply
            FROM documents ORDER BY doc_id"""))

  /** Stateful sessionization (flatMapGroupsWithState in batch mode):
    * closed sessions per user at a 30-minute event-time gap; oracle = SQL
    * gap-and-island windows.
    */
  val x2Sessions: GraftQuery = GraftQuery(
    "x2_sessions",
    (s, dir) => {
      import s.implicits._
      // (spread A/B'd and rejected: parallelizing the map-stage object
      // deserialize via a round-robin exchange cost ~3 cpu-s for a
      // ~0.06 s wall win at sf0.1 — a bad trade for the low-core pass)
      val ev = t(s, dir, "events").as[graft.streaming.EventRow]
      graft.streaming.EventStreams.sessionize(ev, gapMinutes = 30)
        .select(col("user_id"), col("n_events"), (round(col("sum_value"), 4) + lit(0.0)).as("sum_value"))
        .orderBy(col("user_id"), col("n_events"), col("sum_value"))
    },
    Some("""WITH e AS (SELECT user_id, ts, value,
              CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                        > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk FROM events),
            s AS (SELECT user_id, ts, value,
              sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid FROM e),
            agg AS (SELECT user_id, sid, count(*) AS n_events,
              round(sum(value), 4) + 0.0 AS sum_value FROM s GROUP BY user_id, sid),
            mx AS (SELECT user_id, max(sid) AS max_sid FROM s GROUP BY user_id)
            SELECT a.user_id AS user_id, a.n_events AS n_events, a.sum_value AS sum_value
            FROM agg a JOIN mx ON a.user_id = mx.user_id
            WHERE a.sid < mx.max_sid
            ORDER BY a.user_id, a.n_events, a.sum_value"""))

  /** Multimodal batched feature extraction over synthetic media (decode is
    * a deterministic stub; batching/schema plumbing is real). The stub's
    * FNV-1a-64 + splitmix64 feature math IS SQL-expressible — the oracle
    * recomputes it with HUGEINT mod-2⁶⁴ arithmetic (big multiplies split
    * into 32-bit limbs to stay inside INT128) and float32 feature scaling.
    */
  val mm1MediaFeatures: GraftQuery = GraftQuery(
    "mm1_media_features",
    (s, dir) => {
      val media = graft.operators.Multimodal.syntheticMedia(s, t(s, dir, "documents"))
      graft.operators.Multimodal.extractFeatures(media, new graft.operators.Multimodal.StubCodec(16))
        .toDF()
        .select(col("media_id"), col("kind"),
          // + 0.0 canonicalizes rounded -0.0 (see v26) — the stub
          // feature x/65535 − 0.5 crosses zero by construction.
          (round(element_at(col("features"), 1).cast("double"), 5) + lit(0.0)).as("f0"))
        .orderBy(col("media_id"))
    },
    Some(Mm1OracleSql.sql))

  /** REAL image decode end-to-end: deterministic PNGs (pixels from a
    * splitmix recurrence) → JDK PNG encode → javax.imageio decode → pixel
    * stats. PNG is lossless, so the DuckDB oracle recomputes the stats
    * from the recurrence with no image library — a hash match proves the
    * codec reproduced every pixel bit-exactly.
    */
  val mm2MediaDecode: GraftQuery = GraftQuery(
    "mm2_media_decode",
    (s, dir) => {
      import s.implicits._
      val ids = t(s, dir, "documents").where(col("doc_id") < 60)
        .select(col("doc_id").cast("long")).as[java.lang.Long]
      val media = graft.operators.Multimodal.syntheticPngMedia(ids)
      graft.operators.Multimodal.extractFeatures(
          media, new graft.operators.Multimodal.ImageIoCodec())
        .toDF()
        .select(col("media_id"),
          element_at(col("features"), 1).cast("long").as("width"),
          element_at(col("features"), 2).cast("long").as("height"),
          element_at(col("features"), 3).cast("long").as("sum_r"),
          element_at(col("features"), 4).cast("long").as("sum_g"),
          element_at(col("features"), 5).cast("long").as("sum_b"))
        .orderBy(col("media_id"))
    },
    Some(Mm2OracleSql.sql))

  /** REAL audio decode end-to-end: deterministic WAVs (PCM16 samples from
    * a splitmix recurrence, hand-assembled RIFF container) →
    * javax.sound.sampled decode → sample stats. PCM is lossless, so the
    * DuckDB oracle recomputes the stats from the recurrence with no audio
    * library — a hash match proves the container parse and sample decode
    * reproduced every 16-bit sample bit-exactly.
    */
  val mm3AudioDecode: GraftQuery = GraftQuery(
    "mm3_audio_decode",
    (s, dir) => {
      import s.implicits._
      val ids = t(s, dir, "documents").where(col("doc_id") < 60)
        .select(col("doc_id").cast("long")).as[java.lang.Long]
      val media = graft.operators.Multimodal.syntheticWavMedia(ids)
      graft.operators.Multimodal.extractFeatures(
          media, new graft.operators.Multimodal.AudioWavCodec())
        .toDF()
        .select(col("media_id"),
          element_at(col("features"), 1).cast("long").as("n_samples"),
          element_at(col("features"), 2).cast("long").as("sample_rate"),
          element_at(col("features"), 3).cast("double").as("mean_amp"),
          element_at(col("features"), 4).cast("double").as("rms_amp"),
          element_at(col("features"), 5).cast("long").as("zero_crossings"))
        .orderBy(col("media_id"))
    },
    Some(Mm3OracleSql.sql))

  /** REAL video frame extraction end-to-end: deterministic animated GIFs
    * (gray frames from a splitmix recurrence over an identity palette) →
    * javax.imageio multi-frame decode → per-frame pixel sums. GIF LZW and
    * the PNG frame re-encode are lossless, so the DuckDB oracle
    * recomputes the sums from the recurrence with no codec — a hash match
    * proves container parse + frame seek + re-encode reproduced every
    * pixel of every frame bit-exactly.
    */
  val mm4VideoFrames: GraftQuery = GraftQuery(
    "mm4_video_frames",
    (s, dir) => {
      import s.implicits._
      val ids = t(s, dir, "documents").where(col("doc_id") < 40)
        .select(col("doc_id").cast("long")).as[java.lang.Long]
      val media = graft.operators.Multimodal.syntheticGifMedia(ids, frames = 6)
      graft.operators.Multimodal.sampleFrames(
          media, new graft.operators.Multimodal.GifVideoCodec(), framesPerVideo = 6)
        .map { fr =>
          // decode the sampled PNG back to gray sums — through the real
          // image codec, so the gate covers the whole frame pipeline
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(fr.frame_bytes))
          var sum = 0L
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) { sum += img.getRGB(x, y) & 0xff; x += 1 }
            y += 1
          }
          (fr.media_id, fr.frame_index, sum)
        }
        .toDF("media_id", "frame_index", "gray_sum")
        .orderBy(col("media_id"), col("frame_index"))
    },
    Some(Mm4OracleSql.sql))

  /** REAL image resize end-to-end: the mm2 PNGs → decode →
    * floor-nearest-neighbor 8×8→4×4 downsample → PNG re-encode → pixel
    * stats through the SAME ImageIoCodec that serves mm2. The resample
    * contract (dest (x,y) = src (2x,2y)) lets the DuckDB oracle replay
    * the recurrence at even coordinates only — a hash match proves the
    * decoded, resampled, re-encoded pixels are exactly the contracted
    * subset.
    */
  val mm5ImageResize: GraftQuery = GraftQuery(
    "mm5_image_resize",
    (s, dir) => {
      import s.implicits._
      val ids = t(s, dir, "documents").where(col("doc_id") < 60)
        .select(col("doc_id").cast("long")).as[java.lang.Long]
      val media = graft.operators.Multimodal.syntheticPngMedia(ids)
      val resized = graft.operators.Multimodal.resizeImages(media, 4, 4)
      graft.operators.Multimodal.extractFeatures(
          resized, new graft.operators.Multimodal.ImageIoCodec())
        .toDF()
        .select(col("media_id"),
          element_at(col("features"), 1).cast("long").as("width"),
          element_at(col("features"), 2).cast("long").as("height"),
          element_at(col("features"), 3).cast("long").as("sum_r"),
          element_at(col("features"), 4).cast("long").as("sum_g"),
          element_at(col("features"), 5).cast("long").as("sum_b"))
        .orderBy(col("media_id"))
    },
    Some(Mm5OracleSql.sql))

  /** pgml.load_dataset built-in fixture (api.rs:561-587): the iris frame is
    * fully deterministic (seeded splitmix streams), so the oracle REBUILDS
    * the dataset from the same recurrence in SQL and must match
    * float-for-float — the hash gate proves the generator, schemas, and
    * float32 casts line up across engines.
    */
  val ds1LoadIris: GraftQuery = GraftQuery(
    "ds1_load_iris",
    (s, _) => graft.ml.Datasets.frame(s, "iris")
      .orderBy(col("sepal_length"), col("sepal_width"), col("petal_length"),
        col("petal_width"), col("target")),
    Some(Ds1OracleSql.sql))

  /** Everything, in presentation order. */
  val all: Seq[GraftQuery] = Seq(
    q1PricingAgg, q2TopkJoin, q3FilterPushdown, q4WindowTopn, q5KeysetPage,
    q6AntiJoin, q7SemiJoin, q8EventsHourly, q9JsonExtract, q10Union,
    v1KnnCosine, v2VecAvgByLabel, v3VecNorms, v4KnnBatch, v5KnnIvf, v6SqlSurface,
    v7KnnIvfFull, v8VecElementwise, v9KnnHnsw, v10KnnHnswFull,
    v11KnnBinary, v12KnnSq8, v13KnnL2, v14KnnIp, v15KnnHnswBatch, v16KnnPq,
    v17KnnHnswL2, v18KnnHnswIp, v19KnnIvfL2, v20KnnIvfIp,
    v21KnnSq8L2, v22KnnPqL2, v23KnnBinaryL2, v24KnnIvfPq, v25KnnIvfPqResidual,
    v26VecNormalize,
    t1DedupExact, t2TokenStats, t3QualityScore, t4BpeishCount, t5LangId,
    t6Fingerprint, t7PackSequences, t8RepetitionStats, t9RedactPii,
    t10DedupSpans, t11GopherRules, t12LangIdTrained, t13BpeTokens,
    t14ShardShuffle, t15ReadShards,
    c1CorpusCurate, c2CorpusCurateNearDup, c3SampleMixture, c4CurateStream,
    c5AssignSplits, c6Perplexity, c7QualityClassifier, c8C4Clean, c9NgramLm,
    c10DsirWeights, c11DsirSelect, c12TemperatureMixture, c13TokenBudget,
    c14PipelineCompose, c15DsirResample,
    d1MinhashLsh, d2Simhash, d2bSimhashR5, d3DedupGroups, d4Deduplicate,
    d5Decontaminate, d6DedupAgainst,
    e1EmbeddingPairs, e2SemDedup,
    s1Chunk, s2FilterCompiler, s3FulltextRank, s4VectorSearchE2e, s5OrderBy,
    s6VectorSearchChunked, s7HybridSearch, s8Rag, s9SearchLog,
    s10FilteredSearch, s11DeleteCascade, s12UpsertDirectory,
    s13RerankCrossEncoder, s14QueryBuilder, s15RemoteEmbeddings,
    m1LinearRegression, m2ColumnStats, m3Kmeans, m4Dbscan,
    m5DeployStrategies, m6Decompose, m7PredictRow, m8TrainJoint,
    m9PredictProba, m10SearchResults, m11ConfusionMetrics, m12KernelSvm,
    m13Knn, m14Huber, m15Quantile, m16Bagging, m17AdaBoost, m18Ransac,
    m19DumpLoad, m20SeededSplit, m21Splitters,
    p1Preprocess,
    x1TransformSentiment, x2Sessions, x3Text2Text, x4Conversational,
    x5TransformTrained, x6Generate, x7TransformStream, x8TuneWarmStart,
    x9TransformNer, x10ChatCompletion, x11TunePairWarmStart,
    x12TuneConversationWarmStart, x13ChatCompletionStream, x14WhitelistGuard,
    mm1MediaFeatures, mm2MediaDecode, mm3AudioDecode, mm4VideoFrames,
    mm5ImageResize, ds1LoadIris)
}
