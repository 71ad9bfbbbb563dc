package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Hashing
import graft.operators.{Analytics, Bpe, Cdc, Dedup, Layout, Multimodal, Relational, Retrieval, Similarity, Skew, Temporal, TextAnalysis, Versioning}
import graft.sources.Tables

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry is one operator row from SURVEY.md §2 (or a
  * training-data-pipeline extension), expressed over the driver fixtures at
  * `sfDir`; `oracleSql` carries the DuckDB-equivalent SQL the driver uses as
  * the correctness oracle. Column aliases are kept identical on both sides
  * (the driver's compare sorts columns by name before hashing).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * This is the reference's flagship enrichment pipeline
    * (RATINGS → filter → join CUSTOMERS → project,
    * ksqldb-statements.sql:50-60). */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    Relational.enriched(
      Relational.eventsLive(Tables.events(spark, d)),
      Tables.customer(spark, d)).drop("event_ts")
  }

  /** Shared building block: live events enriched with customer data,
    * event timestamp retained for windowing. */
  private def enrichedTs(s: SparkSession, d: String): DataFrame =
    Relational.enriched(
      Relational.eventsLive(Tables.events(s, d)), Tables.customer(s, d))

  /** Driver-contract rendering of the `ratings` double array as a CSV
    * string: each element cast through DECIMAL(8,2) so Spark and DuckDB
    * print identical digits (fixture `value` is a 2-decimal double; raw
    * double→string shortest-round-trip formatting is not contractual
    * across engines). The array stays sorted (ratingsPerCustomerPer15Min
    * emits `sort_array`), so the string is deterministic. */
  private def ratingsCsv(windowed: DataFrame): DataFrame =
    windowed.select(
      col("window_start"), col("full_name"), col("ratings_count"),
      expr("array_join(transform(ratings, x -> CAST(CAST(x AS DECIMAL(8,2)) AS STRING)), ',')")
        .as("ratings_csv"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1/P1 — topic scan + projection (commands.sql:16)
    "q_scan_project" -> ((s, d) =>
      Tables.events(s, d).select("event_id", "user_id", "value", "event_type")),

    // F1/E1 — LCASE + NOT LIKE filter (ksqldb-statements.sql:13-14)
    "q_filter_live" -> ((s, d) => Relational.eventsLive(Tables.events(s, d))),

    // F1 complement — RATINGS_TEST (ksqldb-statements.sql:16-17)
    "q_filter_error" -> ((s, d) => Relational.eventsError(Tables.events(s, d))),

    // J1/J2/E2/E3/F3 — flagship enrichment join (ksqldb-statements.sql:50-60)
    "q_enrich" -> ((s, d) => enrichedTs(s, d).drop("event_ts")),

    // F2/R1 — unhappy platinum filter + PARTITION BY re-key
    // (ksqldb-statements.sql:63-68)
    "q_unhappy" -> ((s, d) =>
      Relational.unhappyPlatinum(enrichedTs(s, d))),

    // A1/A2/A3 — 15-min tumbling window agg with COUNT + COLLECT_LIST
    // (ksqldb-statements.sql:88-93). The operator API returns the ratings
    // ARRAY (ratingsPerCustomerPer15Min); the driver contract renders it as
    // a deterministic CSV string (the driver's pandas compare cannot hash
    // ndarray cells — round-1 verdict item 1). DECIMAL(8,2) pins the
    // double→string rendering to the same digits in both engines.
    "q_window_agg" -> ((s, d) =>
      ratingsCsv(Relational.ratingsPerCustomerPer15Min(enrichedTs(s, d)))),

    // A4 — TABLE latest-by-key semantics (ksqldb-statements.sql:42-43)
    "q_latest_by_key" -> ((s, d) =>
      Relational.latestByKey(Tables.events(s, d), "user_id",
        col("ts"), col("event_id"))),

    // S3/T1/T2 — CDC envelope unwrap (Debezium ExtractNewRecordState SMT,
    // ksqldb-statements.sql:31-34)
    "q_cdc_unwrap" -> ((s, d) => Cdc.unwrap(Cdc.envelope(Tables.events(s, d)))),

    // S3+A4 — CDC changelog → table with DELETE (tombstone) handling
    "q_cdc_latest" -> ((s, d) =>
      Cdc.latestByKeyTable(Cdc.envelope(Tables.events(s, d)))),

    // SCD2 history: one row per key VERSION with half-open validity
    // intervals; deletes close intervals without emitting rows
    "q_cdc_scd2" -> ((s, d) =>
      Cdc.scd2History(Cdc.envelope(Tables.events(s, d)))),

    // time travel: the table AS OF a mid-range instant, reconstructed
    // from SCD2 intervals (keys deleted before the instant vanish)
    "q_cdc_snapshot" -> ((s, d) =>
      Cdc.snapshotAt(Cdc.envelope(Tables.events(s, d)), 1705500000000L)),

    // incremental materialized-view maintenance: a count/sum aggregate
    // over the CDC table state, maintained from a changelog DELTA
    // (+after −before per envelope) instead of recomputed — delta-sized
    // work, the fact never rescanned. The oracle recomputes the final
    // state from scratch; equality across the 60 % binlog split IS the
    // maintenance proof (split-invariance is pinned in CdcSpec)
    "q_agg_maintain" -> ((s, d) => {
      val env = Cdc.envelopeWithBefore(Tables.events(s, d))
      val split = env.agg(max(col("offset"))).head().getLong(0) * 3 / 5
      Cdc.maintainAggView(
          Cdc.aggView(env.filter(col("offset") <= split)),
          env.filter(col("offset") > split))
        .select(col("event_type"), col("cnt"),
          col("sum_value").cast("double").as("sum_value"))
    }),

    // AS-OF temporal join: each event enriched with the CDC dimension
    // state in effect AT THE EVENT'S TIMESTAMP (leakage-safe point-in-time
    // enrichment, vs the stream-table join's current-state). Versions are
    // deduped to one per (key, ts) — latest binlog offset wins — so the
    // as-of winner is deterministic; tombstones ('d') carry null payloads.
    "q_asof_enrich" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val versions = Relational.latestByKeys(
        Cdc.envelope(ev)
          .select(col("key"), col("ts_ms"), col("offset"), col("op"),
            col("after.value").as("v_value"),
            col("after.event_type").as("v_type")),
        Seq("key", "ts_ms"), col("offset")).drop("offset")
      val facts = ev.select(col("event_id"),
        col("user_id").cast("string").as("key"),
        unix_millis(col("ts")).as("ts_ms"))
      Temporal.asOfJoin(facts, versions, Seq("key"), "ts_ms", "ts_ms")
    }),

    // bucketized RANGE join: events falling inside ±30-min "incident
    // windows" (every 100th event opens one) — the equi-join-on-bin form
    // of f.ts BETWEEN i.start AND i.end, never a nested loop
    "q_range_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val facts = ev.select(col("event_id"), unix_millis(col("ts")).as("ts_ms"))
      val windows = ev.filter(col("event_id") % 100 === 0).select(
        col("event_id").as("interval_id"),
        (unix_millis(col("ts")) - 1800000L).as("start_ms"),
        (unix_millis(col("ts")) + 1800000L).as("end_ms"))
      Temporal.rangeJoin(facts, windows, "ts_ms", "start_ms", "end_ms",
        binWidth = 15 * 60 * 1000L)
        .select("interval_id", "event_id", "ts_ms")
    }),

    // D2 — median over time by group (Kibana percentiles(50) ×
    // date_histogram × terms, docker-compose.yml:347)
    "q_median_by_type" -> ((s, d) =>
      Relational.medianOverTime(Tables.events(s, d), "1 hour")),

    // tail-latency panel: exact p50/p95/p99 per (hour, type) — the
    // Kibana percentiles(50,95,99) aggregation in one group pass
    "q_latency_percentiles" -> ((s, d) =>
      Relational.latencyPercentiles(Tables.events(s, d), "1 hour")),

    // D3 — count histogram by type over time (docker-compose.yml:348)
    "q_counts_by_type" -> ((s, d) =>
      Relational.countsByTypeOverTime(Tables.events(s, d), "1 hour")),

    // D4 — top-k terms by count (docker-compose.yml:349)
    "q_topk_users" -> ((s, d) =>
      Relational.topKByCount(Tables.events(s, d), "user_id", 5)),

    // wide activity matrix: explicit-value pivot → N codegen'd
    // conditional counts, one user_id shuffle, dense zeros
    "q_event_pivot" -> ((s, d) =>
      Relational.eventTypePivot(Tables.events(s, d),
        Seq("click", "error", "purchase", "signup", "view"))),

    // growth curve: first-seen per user → daily new users → running total
    // (the global window runs over one-row-per-day, not the corpus)
    "q_user_growth" -> ((s, d) => Relational.userGrowth(Tables.events(s, d))),

    // ordered conversion funnel signup → click → purchase (first
    // occurrences must be in stage order; one user_id shuffle)
    "q_funnel" -> ((s, d) =>
      Relational.funnel(Tables.events(s, d),
        Seq("signup", "click", "purchase"))),

    // retention triangle: first-seen cohort day × day offset
    "q_retention" -> ((s, d) =>
      Relational.retentionCohorts(Tables.events(s, d))),

    // engagement stickiness: avg-DAU / WAU per week off one distinct
    // (week, day, user) exchange
    "q_stickiness" -> ((s, d) =>
      Relational.stickiness(Tables.events(s, d))),

    // weekly growth accounting: new/retained/resurrected/churned ledger
    "q_growth_accounting" -> ((s, d) =>
      Relational.growthAccounting(Tables.events(s, d))),

    // activity cadence: per-user inter-arrival gap count/mean/max
    "q_inter_arrival" -> ((s, d) =>
      Relational.interArrivalStats(Tables.events(s, d))),

    // metric-monitor outlier flags: per-type z-scores from decimal-exact
    // moments (double stddev is association-order-dependent)
    "q_zscores" -> ((s, d) => Relational.valueZScores(Tables.events(s, d))),

    // D4 variant — per-dimension leaderboard: top 3 users per event_type
    // (rank window partitioned by the group; no global sort)
    "q_topk_per_group" -> ((s, d) =>
      Relational.topKPerGroup(Tables.events(s, d), "event_type", "user_id", 3)),

    // per-user rolling aggregates: moving sum/avg over the last 4 events +
    // running total — decimal-exact sums, one user_id shuffle
    "q_moving_agg" -> ((s, d) => Relational.movingAgg(Tables.events(s, d))),

    // Skew-safe two-phase aggregations (salting — 100 TB hot-key defense);
    // results must equal the unsalted single-phase forms
    "q_salted_counts" -> ((s, d) =>
      Skew.saltedCount(Tables.events(s, d), "user_id", col("event_id"))),
    "q_salted_distinct" -> ((s, d) =>
      Skew.saltedCountDistinct(Tables.events(s, d), "user_id", "event_type")),
    // salted fact⋈dim join (dim replicated per salt) — must equal the
    // plain join exactly; aggregated to brand revenue for a stable oracle
    "q_salted_join" -> ((s, d) =>
      // fact side projected to the 4 needed columns and spread across the
      // cluster when the scan under-parallelizes (same floor as q1_agg —
      // the salted probe + decimal partial agg otherwise run single-task
      // on the single-row-group fixture; no-op at scale)
      Skew.saltedJoin(
          operators.Dedup.spreadByKey(
            Tables.lineitem(s, d).select(col("l_partkey"), col("l_orderkey"),
              col("l_extendedprice"), col("l_discount")), "l_orderkey"),
          Tables.part(s, d),
          "l_partkey", "p_partkey", col("l_orderkey"), salts = 8)
        .groupBy(col("p_brand"))
        .agg(sum((col("l_extendedprice").cast("decimal(18,4)") *
            (lit(1) - col("l_discount").cast("decimal(18,4)"))))
          .cast("double").as("revenue"))),

    // Z-order (Morton) key for multi-column file pruning: 16-bit grid
    // normalization + bit interleave, pure long arithmetic (Layout)
    "q_zorder" -> ((s, d) =>
      Layout.withZValue(
        Tables.events(s, d).select(col("event_id"), col("user_id")),
        "user_id", "event_id")),
    // 3-column Z-order via the native ZOrderN expression (16 bits/dim,
    // grid bit i of dim d at z-bit i*3+d)
    "q_zorder3" -> ((s, d) =>
      Layout.withZValueN(
        Tables.events(s, d).select(col("event_id"), col("user_id"),
          col("ts").cast("long").as("epoch")),
        Seq("user_id", "event_id", "epoch"))),

    // Gap-based sessionization over the event stream (30-min inactivity)
    "q_sessionize" -> ((s, d) => Relational.sessionize(Tables.events(s, d))),

    // A1 variant — HOPPING window counts (SIZE 15 MIN, ADVANCE BY 5 MIN):
    // each event lands in 3 overlapping epoch-aligned windows
    "q_hopping_window" -> ((s, d) =>
      Relational.hoppingCountsByType(Tables.events(s, d))),

    // D5 — sorted detail search, latest 100 (docker-compose.yml:344-345)
    "q_sorted_recent" -> ((s, d) =>
      Relational.sortedRecent(Tables.events(s, d), 100)),

    // D1 — Kibana count metric over unhappy_platinum_customers
    // (docker-compose.yml:346)
    "q_count_unhappy" -> ((s, d) =>
      Relational.unhappyPlatinum(enrichedTs(s, d))
        .agg(count(lit(1)).as("n"))),

    // F4/F5 + §2.10 pull query — point-in-time lookup on the materialized
    // windowed table: key predicate + WINDOWSTART range
    // (ksqldb-statements.sql:104-110, readme.md:589-597)
    "q_pull_window" -> ((s, d) =>
      ratingsCsv(Relational.ratingsPerCustomerPer15Min(enrichedTs(s, d))
        .filter(col("full_name").like("Customer#00000000%") &&
          col("window_start") > lit(java.sql.Timestamp.valueOf("2024-01-02 00:00:00"))))),

    // E4 — TIMESTAMPTOSTRING(ts, fmt) (readme.md:325, :614)
    "q_ts_format" -> ((s, d) =>
      Tables.events(s, d).select(
        col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_str"))),

    // EXTRACTJSONFIELD analog — JSON field extraction from props
    "q_json_extract" -> ((s, d) =>
      Tables.events(s, d).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k_val"))),

    // Multi-join analytics (SURVEY §2.8 at warehouse scale) — bench headliners
    "q3_shipping" -> ((s, d) => Analytics.shippingPriority(s, d)),
    // TPC-H Q10-style returned-item report (quarterly returns revenue)
    "q10_returns" -> ((s, d) => Analytics.returnedItemReport(s, d)),
    "q5_local_supplier" -> ((s, d) => Analytics.localSupplierVolume(s, d)),
    "q_top_brands" -> ((s, d) => Analytics.topBrandsByRevenue(s, d)),
    "q_order_priority" -> ((s, d) => Analytics.orderPriorityCount(s, d)),
    "q_yearly_spend" -> ((s, d) => Analytics.customerYearlySpend(s, d)),
    // TPC-H Q14-style promotion effect: PROMO revenue share in one month
    "q14_promo" -> ((s, d) => Analytics.promoRevenue(s, d)),
    // TPC-H Q18-style large-volume orders (HAVING pre-agg before any join)
    "q18_large_orders" -> ((s, d) => Analytics.largeOrders(s, d)),
    // TPC-H Q6-style forecast: zero-join scan-side filter + 1-row agg
    "q6_forecast" -> ((s, d) => Analytics.revenueChange(s, d)),
    // Q12-flavored late-vs-on-time lines per order priority
    "q12_ship_lag" -> ((s, d) => Analytics.shipLagByPriority(s, d)),
    // TPC-H Q13-style customer order-count distribution (LEFT join keeps
    // the zero-order customers)
    "q13_custdist" -> ((s, d) => Analytics.customerOrderDistribution(s, d)),
    // TPC-H Q15-style top supplier(s) by quarterly revenue, ties included
    "q15_top_supplier" -> ((s, d) => Analytics.topSupplier(s, d)),
    // TPC-H Q22-style lapsed high-balance customers by nation
    "q22_lapsed" -> ((s, d) => Analytics.lapsedHighBalance(s, d)),
    // TPC-H Q7-style bilateral nation trade volume by ship-year
    "q7_nation_volume" -> ((s, d) => Analytics.nationVolume(s, d)),
    // TPC-H Q8-style national market share per order-year
    "q8_market_share" -> ((s, d) => Analytics.marketShare(s, d)),
    // TPC-H Q17-style small-quantity revenue (correlated avg → join-back)
    "q17_small_qty" -> ((s, d) => Analytics.smallQtyRevenue(s, d)),
    // TPC-H Q19-style three-branch disjunctive brand/size/qty revenue
    "q19_disjunctive" -> ((s, d) => Analytics.disjunctiveRevenue(s, d)),
    // TPC-H Q21-style waiting suppliers: 3 self-joins → 1 order-key agg
    "q21_waiting" -> ((s, d) => Analytics.waitingSuppliers(s, d)),
    // TPC-H Q2-style min-cost supplier (correlated min → agg + join-back;
    // the fixtures' partsupp analog is lineitem's unit price)
    "q2_min_cost" -> ((s, d) => Analytics.minCostSupplier(s, d)),
    // TPC-H Q9-style profit by supplier nation × order year
    "q9_profit" -> ((s, d) => Analytics.profitByNationYear(s, d)),
    // TPC-H Q11-style important parts (share-of-total HAVING in decimals)
    "q11_important_parts" -> ((s, d) => Analytics.importantParts(s, d)),
    // TPC-H Q16-style supplier census per part descriptor (anti-join NOT IN)
    "q16_part_suppliers" -> ((s, d) => Analytics.partSupplierCounts(s, d)),
    // TPC-H Q20-style dominant shippers (nested-IN → semi-join chain)
    "q20_excess_shippers" -> ((s, d) => Analytics.excessShippers(s, d)),
    // nation × year revenue with ROLLUP subtotals — Expand runs over the
    // pre-aggregated ~25×7 decimal cell table, never the fact
    "q_rollup_revenue" -> ((s, d) => Analytics.revenueRollup(s, d)),
    // seasonal-naive hourly forecast + APE on the held-out last day
    "q_seasonal_forecast" -> ((s, d) => Analytics.seasonalForecast(s, d)),
    // gap-based sessions via built-in session_window (batch twin of the
    // streaming sessionizeStream; end = last event + gap)
    "q_session_window" -> ((s, d) =>
      Relational.sessionWindows(Tables.events(s, d))),
    // graded decontamination: per-doc fraction of distinct 3-grams that
    // appear in the eval slice (same broadcast shape as q_decontaminate)
    "q_contamination_frac" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contaminationFraction(docs, docs.filter(col("doc_id") % 29 === 0))
    }),
    // graded in-scan twin: numerator + denominator from one codegen'd
    // gram pass, zero shuffle
    "q_contam_frac_scan" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contaminationFractionScan(docs,
        docs.filter(col("doc_id") % 29 === 0))
    }),

    // --- training-data pipeline: text analysis -------------------------- //
    "q_text_stats" -> ((s, d) => TextAnalysis.tokenStats(Tables.documents(s, d))),
    "q_token_counts" -> ((s, d) => TextAnalysis.tokenCounts(Tables.documents(s, d))),
    // learned-BPE tokenizer: vocab trained on the corpus word histogram
    // (driver loop over the capped histogram — k-means-style reduced
    // state), then codegen'd per-doc encode. Both rows-only by design: no
    // SQL oracle can train a tokenizer; BpeSpec + GraftProperties pin the
    // algorithm against a naive reference instead.
    "q_bpe_vocab" -> ((s, d) =>
      Bpe.vocabTable(s, Bpe.train(Tables.documents(s, d), 50))),
    "q_bpe_token_counts" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val merges = Bpe.train(docs, 50)
      docs.select(col("doc_id"),
        size(graft.functions.BpeExpressions.bpeTokens(col("text"), merges))
          .as("n_bpe_tokens"))
    }),
    "q_lang_id" -> ((s, d) => TextAnalysis.langId(Tables.documents(s, d))),
    "q_lang_dist" -> ((s, d) => TextAnalysis.langDistribution(Tables.documents(s, d))),
    // every (lang × source) rollup slice in ONE corpus pass — the
    // grouping-sets surface (CUBE), gid disambiguating rollup rows
    "q_corpus_cube" -> ((s, d) => TextAnalysis.corpusCube(Tables.documents(s, d))),
    "q_quality" -> ((s, d) => TextAnalysis.qualityScore(Tables.documents(s, d))),
    "q_fingerprint" -> ((s, d) => TextAnalysis.fingerprint(Tables.documents(s, d))),
    "q_redact_pii" -> ((s, d) => TextAnalysis.redactPii(Tables.documents(s, d))),
    "q_chunk_docs" -> ((s, d) => TextAnalysis.chunkDocuments(Tables.documents(s, d))),
    "q_pack_sequences" -> ((s, d) => TextAnalysis.packSequences(Tables.documents(s, d))),
    "q_sample_hash" -> ((s, d) =>
      TextAnalysis.sampleByHash(Tables.documents(s, d), "text", 200)
        .select("doc_id", "text")),
    // mixture-weight sampling: halve 'en', triple 'de', default 100‰
    "q_sample_stratified" -> ((s, d) =>
      TextAnalysis.sampleStratified(Tables.documents(s, d),
        Map("en" -> 50, "de" -> 300))),
    // mixture upsampling: 3 epochs of 'de', 2 of 'fr', 1 of the rest
    "q_upsample_stratified" -> ((s, d) =>
      TextAnalysis.upsampleStratified(Tables.documents(s, d),
        Map("de" -> 3, "fr" -> 2))),
    // per-language dataset-card rollup: counts, token/byte totals, mean
    // quality, exact p50/p95 token lengths
    "q_dataset_card" -> ((s, d) =>
      TextAnalysis.datasetCard(Tables.documents(s, d))),
    // Gopher-style within-doc repetition signals: duplicate 2-gram
    // fraction + top-2-gram share per document
    "q_repetition" -> ((s, d) =>
      TextAnalysis.repetitionSignals(Tables.documents(s, d))),
    // passage-level boilerplate removal: 3-word passages appearing in ≥2
    // distinct docs are scrubbed from every doc (bounded-window analog of
    // suffix-array substring dedup)
    "q_boilerplate" -> ((s, d) =>
      TextAnalysis.dedupPassages(Tables.documents(s, d),
        passageWords = 3, minDocs = 2)),
    // temperature sampling (α=0.5): keep-rate per language ∝ size^(α-1),
    // largest language keeps 200‰ — the multilingual rebalancing rule
    "q_sample_temperature" -> ((s, d) =>
      TextAnalysis.sampleTemperature(Tables.documents(s, d))),
    // quality-weighted sampling: keep-rate ∝ quality/max-quality (soft
    // alternative to the hard cutoff), content-hash membership
    "q_sample_weighted" -> ((s, d) =>
      TextAnalysis.sampleWeighted(Tables.documents(s, d))),
    // corpus-wide quality cutoff: keep docs at/above the exact p75 quality
    "q_quality_cutoff" -> ((s, d) =>
      TextAnalysis.qualityCutoff(Tables.documents(s, d))),
    // corpus-wide top-20 2-grams (dataset-card phrase report; per-partition
    // top-k heaps via TakeOrderedAndProject, never a global sort)
    "q_top_ngrams" -> ((s, d) =>
      TextAnalysis.topNgrams(Tables.documents(s, d))),
    // leakage-safe train/val/test split by content hash (50‰/50‰/900‰)
    "q_split" -> ((s, d) =>
      TextAnalysis.splitByHash(Tables.documents(s, d))),
    // training-export shard manifest: 16 seeded-hash shards with
    // doc/token/char volume and the dominant source per shard
    "q_shard_plan" -> ((s, d) =>
      TextAnalysis.shardPlan(Tables.documents(s, d))),
    // top-5 TF-IDF keywords per document
    "q_tfidf" -> ((s, d) =>
      TextAnalysis.tfIdfKeywords(Tables.documents(s, d))),
    // hybrid retrieval: BM25 lexical top-10 ⊕ vector top-10 fused by
    // reciprocal rank (score-scale-free; agreement wins)
    "q_rrf_hybrid" -> ((s, d) =>
      Retrieval.hybridRrf(Tables.documents(s, d), Tables.embeddings(s, d),
        Seq("spark", "window", "merge"))),
    // BM25 top-10 for a bag-of-words query (ES default-similarity analog);
    // query terms push into the token explode, so cost ∝ posting lists
    "q_bm25" -> ((s, d) =>
      Retrieval.bm25TopK(Tables.documents(s, d),
        Seq("spark", "window", "merge"))),
    // Zipf-law slope/intercept/r² over the top-1000 token head
    "q_zipf_fit" -> ((s, d) =>
      TextAnalysis.zipfFit(Tables.documents(s, d))),
    // bigram-LM quality score: mean ln P(w_i | w_{i-1}) under the
    // corpus's own bigram distribution (model joined on the gram key,
    // NOT broadcast — bigram vocab outgrows the unigram table)
    "q_bigram_logprob" -> ((s, d) =>
      TextAnalysis.bigramLogProb(Tables.documents(s, d))),
    // per-label embedding drift between two snapshot halves (parity
    // split): centroid L2 move + size delta, decimal-exact means
    "q_embedding_drift" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Versioning.embeddingDrift(
        emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 === 1))
    }),
    // MMR diversification rerank over the top-50 candidates (greedy is
    // inherently sequential → driver stage bounded at 50 rows); oracled
    // via unrolled chained CTEs — see oracleSql
    // (q_mmr_rerank)
    "q_mmr_rerank" -> ((s, d) =>
      Similarity.mmrRerank(Tables.embeddings(s, d))),
    // KWIC snippets: ±3-token context around each doc's first query hit
    "q_snippets" -> ((s, d) =>
      Retrieval.snippets(Tables.documents(s, d), Seq("spark", "merge"))),
    // token-budget mixture plan at 90% of the corpus: water-filling level
    // throttles the large sources, keeps small ones whole (the 1-row
    // total collect is bounded; the plan itself is n_sources rows)
    "q_budget_plan" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val total = docs
        .select(sum(size(expr(TextAnalysis.tokensExpr))).as("t"))
        .collect()(0).getLong(0)
      TextAnalysis.tokenBudgetPlan(docs, total * 9L / 10L)
    }),
    // composite Gopher rule filter: every signal + the conjunctive keep
    // flag (which rule dropped a doc is auditable)
    "q_gopher_filter" -> ((s, d) =>
      TextAnalysis.gopherFilter(Tables.documents(s, d))),
    // CCNet-style unigram LM score: mean log P(token) under the corpus's
    // own unigram distribution (vocab broadcast, decimal-exact doc sums)
    "q_unigram_logprob" -> ((s, d) =>
      TextAnalysis.unigramLogProb(Tables.documents(s, d))),
    // sequence-length histogram: 16-token-wide buckets (integer-exact)
    "q_length_hist" -> ((s, d) =>
      TextAnalysis.lengthHistogram(Tables.documents(s, d))),
    // CCNet perplexity triage: head/middle/tail per language at exact
    // interpolated terciles of the unigram-LM score
    "q_ccnet_buckets" -> ((s, d) =>
      TextAnalysis.ccnetBuckets(Tables.documents(s, d))),
    // quality DECILE tiers from exact interpolated boundaries (broadcast
    // 9-value cutoff row, no ntile global sort)
    "q_quality_tiers" -> ((s, d) =>
      TextAnalysis.qualityTiers(Tables.documents(s, d))),
    // per-source cap: at most 50 docs per source, deterministic
    // content-hash order (domain-level crawl throttle)
    "q_source_cap" -> ((s, d) =>
      TextAnalysis.capPerSource(Tables.documents(s, d), 50)),
    // corpus snapshot diff: old = docs minus the %11==3 slice; new = docs
    // minus the %17==2 slice with the %13==5 slice's text mutated — the
    // four statuses (added/removed/changed/unchanged) all exercised
    "q_corpus_diff" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val oldSnap = docs.filter(col("doc_id") % 11 =!= 3)
      val newSnap = docs.filter(col("doc_id") % 17 =!= 2)
        .withColumn("text",
          when(col("doc_id") % 13 === 5, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
      Versioning.corpusDiff(oldSnap, newSnap)
    }),

    // --- training-data pipeline: deduplication -------------------------- //
    "q_dedup_exact" -> ((s, d) => Dedup.exactDedup(Tables.documents(s, d))),
    "q_minhash_pairs" -> ((s, d) => Dedup.minhashCandidatePairs(Tables.documents(s, d))),
    "q_simhash" -> ((s, d) => Dedup.simhash(Tables.documents(s, d))),
    "q_simhash_neardup" -> ((s, d) => Dedup.simhashNearDups(Tables.documents(s, d))),
    // the 64-bit / 16-bit-band scale default: 65,536 buckets per band push
    // the random-collision knee 256× past the 32-bit form above
    "q_simhash_neardup_wide" -> ((s, d) => Dedup.simhashWideNearDups(Tables.documents(s, d))),
    "q_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccardPairs(Tables.documents(s, d))),
    // edit-distance near-dup on 40-char prefixes: PassJoin pigeonhole
    // segment partitioning (Li et al., VLDB'12) — equi-join on (segment
    // idx, ~13-char substring) yields candidates with no false negatives,
    // exact levenshtein verifies only the distinct candidate pairs — the
    // character-noise modality the token-set methods can't bound. (The
    // Gravano 2001 q-gram count-filter first cut degenerated to 58 s on
    // the fixture's 31-token vocabulary and was replaced; see Dedup.)
    "q_editdist_pairs" -> ((s, d) => Dedup.editDistancePairs(Tables.documents(s, d))),
    // and the pairs closed into one min-id label per document (docs with
    // no 40-char prefix, or no near pair, keep themselves) — the keep
    // list a fuzzy dedup pass ships, same CC closure as q_semdedup
    "q_editdist_canonical" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.canonicalFromPairs(docs.select(col("doc_id")),
        Dedup.editDistancePairs(docs)
          .select(col("doc_a"), col("doc_b")))
    }),
    // exact substring dedup (sliding-window ExactSubstr): maximal
    // cross-corpus duplicated 8-token spans, globally-first occurrence kept
    "q_substr_spans" -> ((s, d) => Dedup.duplicateSpans(Tables.documents(s, d))),
    // and the removal half: span-trimmed corpus + per-doc removal ledger
    "q_substr_trim" -> ((s, d) => Dedup.trimDuplicateSpans(Tables.documents(s, d))),
    // corpus health report: how much of the corpus is duplicated text
    "q_substr_stats" -> ((s, d) => Dedup.substrDedupStats(Tables.documents(s, d))),
    // incremental form: spans of the "new" quarter duplicating the frozen
    // reference corpus (or earlier new docs) — same split as
    // q_dedup_incremental
    "q_substr_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.duplicateSpansAgainst(
        docs.filter(col("doc_id") % 4 === 1),
        docs.filter(col("doc_id") % 4 =!= 1))
    }),
    "q_dedup_canonical" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.canonicalFromPairs(docs, Dedup.minhashCandidatePairs(docs))
    }),
    // dedup health report: duplicate-cluster size distribution
    "q_cluster_sizes" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.clusterSizeDistribution(docs, Dedup.minhashCandidatePairs(docs))
    }),
    // quality-aware canonicalization: same clusters, keep the
    // highest-quality member (ties → lowest doc_id), auditable keep flag
    "q_canonical_quality" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.canonicalByQuality(docs, Dedup.minhashCandidatePairs(docs),
        TextAnalysis.qualityScore(docs))
    }),
    // minhash agreement fraction per candidate pair — the cheap Jaccard
    // estimate before/instead of the exact shingle verify
    "q_minhash_jaccard_est" -> ((s, d) =>
      Dedup.minhashJaccardEstimate(Tables.documents(s, d))),
    "q_clean_corpus" -> ((s, d) => Dedup.cleanCorpus(Tables.documents(s, d))),
    // incremental dedup: the doc_id%4==1 slice ("new crawl") tested for
    // exact/near membership against the rest ("frozen reference corpus")
    "q_dedup_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.incrementalDedup(
        docs.filter(col("doc_id") % 4 === 1),
        docs.filter(col("doc_id") % 4 =!= 1))
    }),
    // incremental dedup, Bloom-prefilter form: same exact-membership
    // semantics as q_dedup_incremental's exact_dup flag — the frozen-corpus
    // sketch is probed in-scan and the confirm semi-join removes the Bloom
    // false positives, so the oracle is the plain semi-join
    "q_dedup_bloom" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.incrementalDedupBloom(
        docs.filter(col("doc_id") % 4 === 1),
        docs.filter(col("doc_id") % 4 =!= 1))
    }),
    // near-dup incremental membership with a Bloom prefilter over the
    // reference BAND table (sketch composition; result ≡ the plain
    // near_dup flag, so the oracle is the band semi-join)
    "q_neardup_bloom" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.incrementalNearDupBloom(
        docs.filter(col("doc_id") % 4 === 1),
        docs.filter(col("doc_id") % 4 =!= 1))
    }),
    // benchmark decontamination: docs sharing any 3-gram with the "eval
    // set" (the doc_id % 29 slice stands in for a held-out benchmark) are
    // flagged — eval shingles broadcast, corpus never shuffled for the test
    "q_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.decontaminate(docs, docs.filter(col("doc_id") % 29 === 0))
    }),
    // in-scan twin: same output, zero-shuffle codegen'd probe against the
    // broadcast eval-hash array (the streaming-capable form)
    "q_decontam_scan" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.decontaminateScan(docs, docs.filter(col("doc_id") % 29 === 0))
    }),

    // --- training-data pipeline: multimodal binary columns -------------- //
    // (image/audio decode is REAL — in-JDK javax.imageio/javax.sound — for
    // decodable payloads; the text-derived fixture bytes take Multimodal's
    // deterministic stub branch, which is what these oracles pin. Video
    // remains an honest stub: no in-JDK codec.)
    "q_media_decode" -> ((s, d) =>
      Multimodal.decode(Multimodal.asMediaRows(
        Multimodal.mediaTable(Tables.documents(s, d)))).toDF()),
    // Driver contract: one row per (media_id, j, feature) — the features
    // ARRAY itself crashes the driver's pandas compare (round-1 verdict);
    // the array API (extractFeatures) is unchanged.
    "q_media_features" -> ((s, d) =>
      Multimodal.extractFeatures(Multimodal.asMediaRows(
        Multimodal.repartitionForDecode(
          Multimodal.mediaTable(Tables.documents(s, d)), 32))).toDF()
        .select(col("media_id"),
          posexplode(col("features")).as(Seq("j", "feature")))),
    "q_media_frames" -> ((s, d) =>
      Multimodal.sampleFrames(Multimodal.asMediaRows(
        Multimodal.mediaTable(Tables.documents(s, d)))).toDF()),
    "q_media_resize" -> ((s, d) =>
      Multimodal.resize(Multimodal.asMediaRows(
        Multimodal.mediaTable(Tables.documents(s, d))), 128, 128).toDF()),
    // Real WAV/AIFF decode path (javax.sound.sampled) with the
    // deterministic stub for the text-derived fixture payloads — stub
    // loudness stats are min/max of two md5 bytes so rms <= peak holds
    // like real audio, and DuckDB reproduces them exactly.
    "q_media_audio" -> ((s, d) =>
      Multimodal.decodeAudio(Multimodal.asMediaRows(
        Multimodal.mediaTable(Tables.documents(s, d)))).toDF()),

    // Sketch-based variants — the single-pass approximate paths for 100 TB
    // (no DuckDB oracle: sketch results are engine-specific; the driver
    // records rows-only checks). Exact twins are oracle-checked above.
    "q_median_approx" -> ((s, d) =>
      Relational.medianOverTimeApprox(Tables.events(s, d), "1 hour")),
    "q_approx_distinct_users" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(graft.functions.HllView.approxDistinct(col("user_id"))
          .as("approx_users"))),
    // sketch twin of q_quality_cutoff: approx_percentile cutoff, same plan
    "q_quality_cutoff_approx" -> ((s, d) =>
      TextAnalysis.qualityCutoffApprox(Tables.documents(s, d))),
    // count-min sketch keyword counts: 32 KB mergeable summary answers
    // point queries; counter sums commute, so (unlike Misra-Gries) the
    // sketch is partition-order-exact and the DuckDB oracle reproduces
    // the counter layout from the same md5/KM hash fragments
    "q_cms_counts" -> ((s, d) =>
      graft.functions.CmsSketch.tokenCounts(Tables.documents(s, d),
        Seq("join", "hash", "filter", "window", "zzzz_absent"))),
    // batch heavy hitters: exact top-10 users with their CMS estimates —
    // the oracle-checked bridge to the streaming HeavyHittersStream view
    "q_heavy_hitters" -> ((s, d) =>
      graft.functions.CmsSketch.heavyHitters(Tables.events(s, d), "user_id")),
    // mergeable sketch view: per-source sketches rolled up WITHOUT a
    // corpus rescan; counter sums commute, so the merged estimates are
    // bit-identical to the single-pass sketch (same oracle as
    // q_cms_counts proves exactly that)
    "q_cms_rollup" -> ((s, d) =>
      graft.functions.CmsSketch.rollupCounts(
        graft.functions.CmsSketch.sketchBySource(Tables.documents(s, d)),
        Seq("join", "hash", "filter", "window", "zzzz_absent"))),
    // mergeable QUANTILE sketch view (grid histogram): per-type
    // percentiles from a persisted sum-mergeable view — deterministic
    // (partition-order-exact counter sums), so unlike approx_percentile
    // the whole sketch is hash-checkable against the DuckDB mirror
    "q_quantile_view" -> ((s, d) =>
      graft.functions.QuantileView.quantilesByGroup(
        graft.functions.QuantileView.sketchBy(
          Tables.events(s, d), "event_type", "value"))
        .withColumnRenamed("grp", "event_type")),
    // and the rollup: whole-corpus percentiles by bin-wise counter sums
    // over the SAME view — the oracle recomputes directly from events,
    // so equality is the mergeability proof (the q_cms_rollup pattern)
    "q_quantile_rollup" -> ((s, d) =>
      graft.functions.QuantileView.rollupQuantiles(
        graft.functions.QuantileView.sketchBy(
          Tables.events(s, d), "event_type", "value"))),
    // mergeable HLL distinct cube: per-source distinct-token sketches —
    // COUNT DISTINCT is the one aggregate that cannot roll up exactly, so
    // the sketch view is the only no-rescan answer; rows-only driver
    // check (DataSketches binaries are engine-specific), accuracy and
    // union-equals-one-pass pinned in HllViewSpec
    "q_hll_by_source" -> ((s, d) =>
      graft.functions.HllView.distinctBySource(
        graft.functions.HllView.sketchBySource(Tables.documents(s, d)))),

    // --- training-data pipeline: similarity search ---------------------- //
    "q_knn" -> ((s, d) => Similarity.knnBruteForce(Tables.embeddings(s, d))),
    "q_knn_agg" -> ((s, d) => Similarity.knnBruteForceAgg(Tables.embeddings(s, d))),
    "q_neardup_embed" -> ((s, d) => Similarity.nearDupPairs(Tables.embeddings(s, d))),
    "q_neardup_lsh" -> ((s, d) => Similarity.nearDupPairsLsh(Tables.embeddings(s, d))),
    "q_neardup_lsh_multi" -> ((s, d) =>
      Similarity.nearDupPairsLshMulti(Tables.embeddings(s, d))),
    // SemDeDup-style: near-dup pairs within IVF cells (data-adaptive
    // candidate generation vs the LSH twins' blind hyperplane cuts)
    "q_neardup_ivf" -> ((s, d) =>
      Similarity.nearDupPairsIvf(Tables.embeddings(s, d))),
    // IVF index health: per-cell member count + centroid-affinity stats
    "q_cluster_stats" -> ((s, d) =>
      Similarity.clusterStats(Tables.embeddings(s, d))),
    // product-quantization ANN: corpus encoded to m=4 codes, queries
    // score candidates through codes only (ADC) — the memory-compression
    // scale path next to IVF/LSH candidate pruning
    "q_ann_pq" -> ((s, d) => Similarity.annPq(Tables.embeddings(s, d))),
    // SQ8 scalar-quantized ANN: symmetric integer-dot scoring over int8
    // codes — exact long scores, fully oracle-mirrorable
    "q_ann_sq8" -> ((s, d) => Similarity.annSq8(Tables.embeddings(s, d))),
    // SemDeDup end to end: IVF near-dup pairs closed into canonical
    // labels — the keep-list a semantic dedup pass actually ships
    "q_semdedup" -> ((s, d) =>
      Similarity.semDedupCanonical(Tables.embeddings(s, d))),
    // per-subspace k-means-trained PQ — rows-only driver check (Lloyd's
    // not SQL-mirrorable); SimilaritySpec bounds distortion vs the seed
    "q_ann_pq_trained" -> ((s, d) =>
      Similarity.annPqTrained(Tables.embeddings(s, d))),
    // IVF-PQ: cells prune candidates, codes compress scoring — the full
    // production ANN architecture, both levers oracle-mirrorable
    "q_ann_ivf_pq" -> ((s, d) => Similarity.annIvfPq(Tables.embeddings(s, d))),
    "q_ann_lsh" -> ((s, d) => Similarity.annLsh(Tables.embeddings(s, d))),
    // ANN acceptance gate: recall@3 of the IVF index vs exact top-3 per
    // query — the eval-on-a-query-sample shape, not an index-wide O(N²)
    "q_ann_recall" -> ((s, d) => Similarity.annRecall(Tables.embeddings(s, d))),
    "q_ann_ivf" -> ((s, d) => Similarity.annIvf(Tables.embeddings(s, d))),
    // filtered vector search: same-label constraint PRE-filtered into the
    // scoring join (exact w.r.t. the filtered corpus)
    "q_knn_filtered" -> ((s, d) =>
      Similarity.knnFiltered(Tables.embeddings(s, d))),
    // the same constraint pruning INSIDE the IVF cells
    "q_ann_ivf_filtered" -> ((s, d) =>
      Similarity.annIvfFiltered(Tables.embeddings(s, d))),
    // the POST-filter contrast: unfiltered top-3k, filter, keep <= k —
    // returns fewer than k when the neighborhood is label-diverse
    "q_knn_postfilter" -> ((s, d) =>
      Similarity.knnPostFilter(Tables.embeddings(s, d))),
    // offline ranking scorecard: MRR + binary nDCG@k of the exact top-k
    // under same-label relevance
    "q_retrieval_eval" -> ((s, d) =>
      Similarity.retrievalEval(Tables.embeddings(s, d))),
    // IVF multi-probe (nprobe=2): each query searches its two closest
    // cells — the standard recall lever over single-probe IVF
    "q_ann_ivf_probe2" -> ((s, d) =>
      Similarity.annIvfMultiProbe(Tables.embeddings(s, d))),
    // k-means-trained IVF — rows-only driver check (Lloyd's iterations are
    // not practically SQL-mirrorable); quality asserted in SimilaritySpec
    "q_ann_ivf_trained" -> ((s, d) =>
      Similarity.annIvfTrained(Tables.embeddings(s, d))),

    // Headline TPC-H-style pricing summary (bench headline; exercises
    // multi-column grouped agg with exact decimal sums at scale)
    "q1_agg" -> ((s, d) => {
      // r20 audit: a spreadByKey parallelism floor was tried here and
      // REVERTED — without a pre-shuffle partial aggregate the exchange
      // carries the raw 600k rows, and serializing them in the (single
      // real task) scan stage cost more than it saved (1.12 s → 1.25 s
      // measured). The query stays scan-stage-bound on the fixture's
      // single-row-group file; the aggregation itself (BigDecimal-backed
      // >18-digit sum buffers) is the per-row cost.
      val li = Tables.lineitem(s, d)
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          Relational.sumExact(col("l_quantity")).as("sum_qty"),
          Relational.sumExact(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice").cast("decimal(18,4)") *
              (lit(1) - col("l_discount").cast("decimal(18,4)")))
            .cast("double").as("sum_disc_price"),
          (Relational.sumExact(col("l_quantity")) / count(lit(1)))
            .as("avg_qty"),
          count(lit(1)).as("cnt"))
    })
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q_scan_project" ->
      "SELECT event_id, user_id, value, event_type FROM events",

    "q_filter_live" ->
      "SELECT * FROM events WHERE lower(event_type) NOT LIKE '%error%'",

    "q_filter_error" ->
      "SELECT * FROM events WHERE lower(event_type) LIKE '%error%'",

    "q_enrich" -> """
      SELECT e.event_id AS rating_id, e.props AS message, e.value AS stars,
             e.event_type AS channel, CAST(e.user_id AS VARCHAR) AS customer_id,
             c.c_name || ' [' || c.c_mktsegment || ']' AS full_name,
             c.c_mktsegment AS club_status
      FROM events e
      LEFT JOIN customer c ON CAST(e.user_id AS VARCHAR) = CAST(c.c_custkey AS VARCHAR)
      WHERE lower(e.event_type) NOT LIKE '%error%' AND c.c_name IS NOT NULL
    """,

    "q_unhappy" -> """
      SELECT c.c_name || ' [' || c.c_mktsegment || ']' AS full_name,
             c.c_mktsegment AS club_status, e.value AS stars, e.props AS message
      FROM events e
      JOIN customer c ON CAST(e.user_id AS VARCHAR) = CAST(c.c_custkey AS VARCHAR)
      WHERE lower(e.event_type) NOT LIKE '%error%'
        AND e.value < 3 AND c.c_mktsegment = 'BUILDING'
    """,

    "q_window_agg" -> """
      WITH e AS (
        SELECT c.c_name || ' [' || c.c_mktsegment || ']' AS full_name,
               e.value AS stars, e.ts
        FROM events e
        JOIN customer c ON CAST(e.user_id AS VARCHAR) = CAST(c.c_custkey AS VARCHAR)
        WHERE lower(e.event_type) NOT LIKE '%error%'
      )
      SELECT TIMESTAMP '1970-01-01 00:00:00'
               + INTERVAL 1 SECOND * CAST(floor(epoch(ts)/900)*900 AS BIGINT)
               AS window_start,
             full_name,
             COUNT(*) AS ratings_count,
             array_to_string(list_transform(list_sort(list(stars)),
               x -> CAST(CAST(x AS DECIMAL(8,2)) AS VARCHAR)), ',') AS ratings_csv
      FROM e GROUP BY 1, 2
    """,

    "q_latest_by_key" -> """
      SELECT * FROM events
      QUALIFY row_number() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    """,

    "q_cdc_unwrap" -> """
      SELECT event_id AS id, user_id, event_type, value, props,
             CASE WHEN event_id % 3 = 0 THEN 'u' ELSE 'c' END AS op,
             epoch_ms(ts) AS ts_ms
      FROM events WHERE event_id % 10 <> 0
    """,

    "q_cdc_latest" -> """
      WITH env AS (
        SELECT CAST(user_id AS VARCHAR) AS key,
               CASE WHEN event_id % 10 = 0 THEN 'd'
                    WHEN event_id % 3 = 0 THEN 'u' ELSE 'c' END AS op,
               event_id, user_id, event_type, value, props,
               epoch_ms(ts) AS ts_ms
        FROM events
      )
      SELECT event_id AS id, user_id, event_type, value, props, ts_ms
      FROM env
      QUALIFY row_number() OVER (
          PARTITION BY key ORDER BY ts_ms DESC, event_id DESC) = 1
        AND op <> 'd'
    """,

    "q_cdc_scd2" -> """
      WITH env AS (
        SELECT CAST(user_id AS VARCHAR) AS key,
               CASE WHEN event_id % 10 = 0 THEN 'd'
                    WHEN event_id % 3 = 0 THEN 'u' ELSE 'c' END AS op,
               event_id, user_id, event_type, value, props,
               epoch_ms(ts) AS ts_ms
        FROM events
      ),
      h AS (
        SELECT key, op, event_id, user_id, event_type, value, props,
               ts_ms AS valid_from,
               lead(ts_ms) OVER (
                 PARTITION BY key ORDER BY ts_ms, event_id) AS valid_to
        FROM env
      )
      SELECT key, event_id AS id, user_id, event_type, value, props,
             valid_from, valid_to,
             CAST(valid_to IS NULL AS INTEGER) AS is_current
      FROM h WHERE op <> 'd'
    """,

    "q_cdc_snapshot" -> """
      WITH env AS (
        SELECT CAST(user_id AS VARCHAR) AS key,
               CASE WHEN event_id % 10 = 0 THEN 'd'
                    WHEN event_id % 3 = 0 THEN 'u' ELSE 'c' END AS op,
               event_id, user_id, event_type, value, props,
               epoch_ms(ts) AS ts_ms
        FROM events
      ),
      h AS (
        SELECT key, op, event_id, user_id, event_type, value, props,
               ts_ms AS valid_from,
               lead(ts_ms) OVER (
                 PARTITION BY key ORDER BY ts_ms, event_id) AS valid_to
        FROM env
      )
      SELECT key, event_id AS id, user_id, event_type, value, props,
             valid_from
      FROM h
      WHERE op <> 'd' AND valid_from <= 1705500000000
        AND (valid_to IS NULL OR valid_to > 1705500000000)
    """,

    // the oracle RECOMPUTES the maintained view from the final table
    // state — the engine's base+delta maintenance must land on exactly
    // this (decimal sums make association order immaterial)
    "q_agg_maintain" -> """
      WITH env AS (
        SELECT CAST(user_id AS VARCHAR) AS key,
               CASE WHEN event_id % 10 = 0 THEN 'd'
                    WHEN event_id % 3 = 0 THEN 'u' ELSE 'c' END AS op,
               event_id, event_type, value
        FROM events
      ),
      final AS (
        SELECT event_type, value
        FROM env
        QUALIFY row_number() OVER (
            PARTITION BY key ORDER BY event_id DESC) = 1
          AND op <> 'd'
      )
      SELECT event_type, count(*) AS cnt,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM final GROUP BY event_type
    """,

    // oracle uses DuckDB's native ASOF LEFT JOIN — an independent
    // implementation of the same point-in-time contract as the
    // union+window form (ties inclusive: f.ts_ms >= v.ts_ms)
    "q_asof_enrich" -> """
      WITH env AS (
        SELECT CAST(user_id AS VARCHAR) AS key,
               CASE WHEN event_id % 10 = 0 THEN 'd'
                    WHEN event_id % 3 = 0 THEN 'u' ELSE 'c' END AS op,
               CASE WHEN event_id % 10 = 0 THEN NULL ELSE value END AS v_value,
               CASE WHEN event_id % 10 = 0 THEN NULL ELSE event_type END AS v_type,
               epoch_ms(ts) AS ts_ms, event_id AS binlog_pos
        FROM events),
      ver AS (SELECT key, ts_ms, op, v_value, v_type FROM env
              QUALIFY row_number() OVER (PARTITION BY key, ts_ms
                                         ORDER BY binlog_pos DESC) = 1),
      fact AS (SELECT event_id, CAST(user_id AS VARCHAR) AS key,
                      epoch_ms(ts) AS ts_ms FROM events)
      SELECT f.key, f.ts_ms, f.event_id, v.ts_ms AS asof_ts_ms,
             v.op AS asof_op, v.v_value AS asof_v_value,
             v.v_type AS asof_v_type
      FROM fact f ASOF LEFT JOIN ver v
        ON f.key = v.key AND f.ts_ms >= v.ts_ms
    """,

    "q_range_join" -> """
      WITH f AS (SELECT event_id, epoch_ms(ts) AS ts_ms FROM events),
      iv AS (SELECT event_id AS interval_id,
                    epoch_ms(ts) - 1800000 AS start_ms,
                    epoch_ms(ts) + 1800000 AS end_ms
             FROM events WHERE event_id % 100 = 0)
      SELECT iv.interval_id, f.event_id, f.ts_ms
      FROM iv JOIN f ON f.ts_ms BETWEEN iv.start_ms AND iv.end_ms
    """,

    "q_median_by_type" -> """
      SELECT date_trunc('hour', ts) AS bucket_start, event_type,
             round(quantile_cont(value, 0.5), 4) AS median_value
      FROM events GROUP BY 1, 2
    """,

    "q_latency_percentiles" -> """
      SELECT date_trunc('hour', ts) AS bucket_start, event_type,
             round(quantile_cont(value, 0.5), 4) AS p50,
             round(quantile_cont(value, 0.95), 4) AS p95,
             round(quantile_cont(value, 0.99), 4) AS p99,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    """,

    "q_counts_by_type" -> """
      SELECT date_trunc('hour', ts) AS bucket_start, event_type,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    """,

    // hopping windows (SIZE 900s, ADVANCE 300s): an event at t belongs to
    // every epoch-aligned start s with s <= t < s + 900, i.e. the slide
    // multiples in (t-900, t] — generate_series over slide units, unnested.
    // Same '1970 + INTERVAL * seconds' window_start rendering as
    // q_window_agg so the timestamp compares bit-for-bit.
    "q_hopping_window" -> """
      SELECT TIMESTAMP '1970-01-01 00:00:00'
               + INTERVAL 1 SECOND * CAST(s * 300 AS BIGINT) AS window_start,
             event_type, COUNT(*) AS events_count
      FROM (SELECT event_type,
                   unnest(generate_series(
                     CAST(floor((epoch(ts) - 900) / 300) AS BIGINT) + 1,
                     CAST(floor(epoch(ts) / 300) AS BIGINT))) AS s
            FROM events)
      GROUP BY 1, 2
    """,

    "q_topk_users" -> """
      SELECT user_id, COUNT(*) AS n FROM events
      GROUP BY 1 ORDER BY n DESC, user_id ASC LIMIT 5
    """,

    // explicit-value pivot ≡ N conditional counts (COUNT(CASE) is 0 for
    // empty groups, matching the filled dense matrix)
    "q_event_pivot" -> """
      SELECT user_id,
             COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
             COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
             COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
             COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
             COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
      FROM events GROUP BY 1
    """,

    "q_user_growth" -> """
      WITH f AS (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY 1),
      d AS (SELECT CAST(date_trunc('day', first_ts) AS TIMESTAMP) AS day,
                   COUNT(*) AS new_users
            FROM f GROUP BY 1)
      SELECT day, new_users,
             CAST(sum(new_users) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_users
      FROM d
    """,

    // z-scores: both engines compute mean/std in double arithmetic from
    // the same DECIMAL-exact sums, so every z matches bit-for-bit
    "q_zscores" -> """
      WITH m AS (
        SELECT event_type, COUNT(*) AS n,
               sum(CAST(value AS DECIMAL(18,6))) AS s,
               sum(CAST(CAST(value AS DECIMAL(18,6))
                        * CAST(value AS DECIMAL(18,6)) AS DECIMAL(38,12)))
                 AS ss
        FROM events GROUP BY 1),
      w AS (SELECT event_type,
                   CAST(s AS DOUBLE) / n AS mean,
                   sqrt((CAST(ss AS DOUBLE)
                         - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                        / (n - 1)) AS std
            FROM m)
      SELECT e.event_id, e.event_type, e.value,
             round((e.value - w.mean) / w.std, 6) AS z,
             CAST(abs(round((e.value - w.mean) / w.std, 6)) > 3.0 AS INTEGER)
               AS is_outlier
      FROM events e JOIN w USING (event_type)
    """,

    "q_inter_arrival" -> """
      WITH g AS (
        SELECT user_id,
               CAST(floor(epoch(ts)) AS BIGINT)
                 - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) AS gap_sec
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT user_id, COUNT(*) AS n_gaps,
             round(CAST(sum(gap_sec) AS DOUBLE) / COUNT(*), 6) AS avg_gap_sec,
             max(gap_sec) AS max_gap_sec
      FROM g WHERE gap_sec IS NOT NULL
      GROUP BY 1
    """,

    "q_funnel" -> """
      WITH m AS (SELECT user_id,
                        min(CASE WHEN event_type = 'signup' THEN ts END) AS t0,
                        min(CASE WHEN event_type = 'click' THEN ts END) AS t1,
                        min(CASE WHEN event_type = 'purchase' THEN ts END) AS t2
                 FROM events GROUP BY 1)
      SELECT 'signup' AS stage, 0 AS idx,
             CAST(sum(CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS users
      FROM m
      UNION ALL
      SELECT 'click', 1,
             CAST(sum(CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL
                           AND t1 >= t0 THEN 1 ELSE 0 END) AS BIGINT)
      FROM m
      UNION ALL
      SELECT 'purchase', 2,
             CAST(sum(CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL
                           AND t1 >= t0 AND t2 IS NOT NULL
                           AND t2 >= t1 THEN 1 ELSE 0 END) AS BIGINT)
      FROM m
    """,

    "q_retention" -> """
      WITH f AS (SELECT user_id,
                        CAST(date_trunc('day', min(ts)) AS TIMESTAMP) AS cohort_day
                 FROM events GROUP BY 1),
      d AS (SELECT DISTINCT user_id,
                   CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
            FROM events)
      SELECT f.cohort_day,
             CAST(date_diff('day', f.cohort_day, d.day) AS INTEGER)
               AS day_offset,
             COUNT(*) AS active_users
      FROM d JOIN f USING (user_id)
      GROUP BY 1, 2
    """,

    "q_topk_per_group" -> """
      WITH c AS (SELECT event_type, user_id, COUNT(*) AS n
                 FROM events GROUP BY 1, 2)
      SELECT event_type, user_id, n, CAST(rk AS INTEGER) AS rk
      FROM (SELECT *, row_number() OVER (
              PARTITION BY event_type ORDER BY n DESC, user_id ASC) AS rk
            FROM c)
      WHERE rk <= 3
    """,

    // rolling aggregates: sums run on DECIMAL(18,6) so the value is
    // association-order-exact in both engines; the average divides the
    // exact sum as DOUBLE (double division is deterministic, decimal
    // division scale rules are not portable)
    "q_moving_agg" -> """
      SELECT user_id, event_id, ts,
             CAST(sum(CAST(value AS DECIMAL(18,6))) OVER mv AS DOUBLE)
               AS moving_sum,
             round(CAST(sum(CAST(value AS DECIMAL(18,6))) OVER mv AS DOUBLE)
                   / count(*) OVER mv, 6) AS moving_avg,
             CAST(sum(CAST(value AS DECIMAL(18,6))) OVER rn AS DOUBLE)
               AS running_sum
      FROM events
      WINDOW mv AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
             rn AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,

    "q_salted_counts" -> """
      SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1
    """,

    "q_salted_distinct" -> """
      SELECT user_id, COUNT(DISTINCT event_type) AS n_distinct
      FROM events GROUP BY 1
    """,

    // Morton interleave mirrored step for step: 16-bit grid by integer
    // division, then the four mask doublings, then even/odd bit merge
    "q_zorder" -> """
      WITH b AS (SELECT min(user_id) AS ua, max(user_id) AS ub,
                        min(event_id) AS ea, max(event_id) AS eb
                 FROM events),
      n AS (SELECT event_id, user_id,
              CASE WHEN ub <= ua THEN 0
                   ELSE ((user_id - ua) * 65535) // (ub - ua) END AS gx,
              CASE WHEN eb <= ea THEN 0
                   ELSE ((event_id - ea) * 65535) // (eb - ea) END AS gy
            FROM events, b),
      s1 AS (SELECT event_id, user_id,
               (gx | (gx << 8)) & 16711935 AS x, (gy | (gy << 8)) & 16711935 AS y
             FROM n),
      s2 AS (SELECT event_id, user_id,
               (x | (x << 4)) & 252645135 AS x, (y | (y << 4)) & 252645135 AS y
             FROM s1),
      s3 AS (SELECT event_id, user_id,
               (x | (x << 2)) & 858993459 AS x, (y | (y << 2)) & 858993459 AS y
             FROM s2),
      s4 AS (SELECT event_id, user_id,
               (x | (x << 1)) & 1431655765 AS x, (y | (y << 1)) & 1431655765 AS y
             FROM s3)
      SELECT event_id, user_id, x | (y << 1) AS zval FROM s4
    """,

    // 3-D ZOrderN mirrored by the textbook definition — grid bit i of
    // dim d at z-bit i*3+d, variable shifts summed per dim (was left
    // rows-only by the round-9 cutoff; bit-exact on all 10k fixture rows)
    "q_zorder3" -> """
      WITH e AS (SELECT event_id, user_id, epoch_ms(ts) // 1000 AS epoch
                 FROM events),
      b AS (SELECT min(user_id) ua, max(user_id) ub,
                   min(event_id) ea, max(event_id) eb,
                   min(epoch) ta, max(epoch) tb FROM e),
      g AS (SELECT event_id, user_id, epoch,
              CASE WHEN ub <= ua THEN 0
                   ELSE ((user_id - ua) * 65535) // (ub - ua) END AS g0,
              CASE WHEN eb <= ea THEN 0
                   ELSE ((event_id - ea) * 65535) // (eb - ea) END AS g1,
              CASE WHEN tb <= ta THEN 0
                   ELSE ((epoch - ta) * 65535) // (tb - ta) END AS g2
            FROM e, b)
      SELECT event_id, user_id, epoch,
             CAST(list_sum(list_transform(range(0,16),
                    i -> ((g0 >> i) & 1) << (i*3)))
                + list_sum(list_transform(range(0,16),
                    i -> ((g1 >> i) & 1) << (i*3+1)))
                + list_sum(list_transform(range(0,16),
                    i -> ((g2 >> i) & 1) << (i*3+2))) AS BIGINT) AS zval
      FROM g
    """,

    // the salt is an execution detail: the oracle is the PLAIN join
    "q_salted_join" -> """
      SELECT p_brand,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                      * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
               AS revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1
    """,

    "q_token_counts" -> """
      SELECT doc_id,
             CAST(len(regexp_split_to_array(lower(text), '\s+')) AS INTEGER)
               AS ws_tokens,
             CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS INTEGER)
               AS bpe_ish_tokens
      FROM documents
    """,

    "q_sessionize" -> """
      WITH m AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR CAST(floor(epoch(ts)) AS BIGINT)
                         - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
                    THEN 1 ELSE 0 END AS is_start
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ),
      s AS (
        SELECT user_id, ts, value,
               CAST(sum(is_start) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS session_id
        FROM m
      )
      SELECT user_id, session_id,
             min(ts) AS session_start, max(ts) AS session_end,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
      FROM s GROUP BY 1, 2
    """,

    "q_sorted_recent" -> """
      SELECT * FROM events ORDER BY ts DESC, event_id DESC LIMIT 100
    """,

    "q_count_unhappy" -> """
      SELECT COUNT(*) AS n
      FROM events e
      JOIN customer c ON CAST(e.user_id AS VARCHAR) = CAST(c.c_custkey AS VARCHAR)
      WHERE lower(e.event_type) NOT LIKE '%error%'
        AND e.value < 3 AND c.c_mktsegment = 'BUILDING'
    """,

    "q_pull_window" -> """
      WITH e AS (
        SELECT c.c_name || ' [' || c.c_mktsegment || ']' AS full_name,
               e.value AS stars, e.ts
        FROM events e
        JOIN customer c ON CAST(e.user_id AS VARCHAR) = CAST(c.c_custkey AS VARCHAR)
        WHERE lower(e.event_type) NOT LIKE '%error%'
      ),
      w AS (
        SELECT TIMESTAMP '1970-01-01 00:00:00'
                 + INTERVAL 1 SECOND * CAST(floor(epoch(ts)/900)*900 AS BIGINT)
                 AS window_start,
               full_name,
               COUNT(*) AS ratings_count,
               array_to_string(list_transform(list_sort(list(stars)),
                 x -> CAST(CAST(x AS DECIMAL(8,2)) AS VARCHAR)), ',') AS ratings_csv
        FROM e GROUP BY 1, 2
      )
      SELECT * FROM w
      WHERE full_name LIKE 'Customer#00000000%'
        AND window_start > TIMESTAMP '2024-01-02 00:00:00'
    """,

    "q_ts_format" -> """
      SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
      FROM events
    """,

    "q_json_extract" -> """
      SELECT event_id,
             CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS BIGINT) AS k_val
      FROM events
    """,

    "q3_shipping" -> """
      SELECT l_orderkey, o_orderdate, o_orderpriority,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                      * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
               AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
      GROUP BY 1, 2, 3
      ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
    """,

    "q10_returns" -> """
      SELECT c_custkey, c_name, n_name,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                      * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
               AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE l_returnflag = 'R'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY 1, 2, 3
      ORDER BY revenue DESC, c_custkey ASC LIMIT 20
    """,

    "q5_local_supplier" -> """
      SELECT n_name,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                      * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
               AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY 1 ORDER BY revenue DESC, n_name ASC
    """,

    "q_top_brands" -> """
      SELECT p_brand,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                      * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
               AS revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1 ORDER BY revenue DESC, p_brand ASC LIMIT 5
    """,

    "q_order_priority" -> """
      SELECT o_orderpriority, COUNT(*) AS order_count
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
      GROUP BY 1
    """,

    "q_yearly_spend" -> """
      SELECT o_custkey, CAST(year(o_orderdate) AS INT) AS order_year,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS spend,
             COUNT(*) AS n_orders
      FROM orders GROUP BY 1, 2
    """,

    "q14_promo" -> """
      SELECT round(CAST(100.0 AS DOUBLE) *
               CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                             THEN CAST(l_extendedprice AS DECIMAL(18,4))
                                  * (1 - CAST(l_discount AS DECIMAL(18,4)))
                             ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) /
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                        * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE),
             6) AS promo_revenue_pct
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
    """,

    "q18_large_orders" -> """
      WITH big AS (
        SELECT l_orderkey,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                 AS total_qty
        FROM lineitem GROUP BY 1
        HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 300.0)
      SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
             total_qty
      FROM big
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      ORDER BY total_qty DESC, o_orderkey ASC LIMIT 20
    """,

    "q6_forecast" -> """
      SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                      * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE)
               AS revenue_change
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        AND l_discount BETWEEN CAST(0.05 AS DOUBLE) AND CAST(0.07 AS DOUBLE)
        AND l_quantity < CAST(24 AS DOUBLE)
    """,

    "q12_ship_lag" -> """
      SELECT o_orderpriority,
             CAST(SUM(CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 90
                           THEN 1 ELSE 0 END) AS BIGINT) AS late_lines,
             CAST(SUM(CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 90
                           THEN 0 ELSE 1 END) AS BIGINT) AS ontime_lines
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1
    """,

    "q13_custdist" -> """
      SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
      FROM (SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY 1)
      GROUP BY 1 ORDER BY custdist DESC, c_count DESC
    """,

    "q15_top_supplier" -> """
      WITH r AS (
        SELECT l_suppkey,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                        * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
                 AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY 1)
      SELECT s_suppkey, s_name, total_revenue
      FROM r JOIN supplier ON l_suppkey = s_suppkey
      WHERE total_revenue = (SELECT MAX(total_revenue) FROM r)
      ORDER BY s_suppkey
    """,

    "q22_lapsed" -> """
      WITH a AS (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
                 / COUNT(*) AS avg_bal
        FROM customer WHERE c_acctbal > 0.0)
      SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS numcust,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
               AS totacctbal
      FROM customer, a
      WHERE c_acctbal > avg_bal
        AND NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey
                          AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
      GROUP BY 1
    """,

    "q7_nation_volume" -> """
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INT) AS l_year,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                      * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
               AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
          OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
      GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,

    "q8_market_share" -> """
      SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             ROUND(
               CAST(SUM(CASE WHEN n1.n_name = 'NATION_2'
                 THEN CAST(l_extendedprice AS DECIMAL(18,4))
                      * (1 - CAST(l_discount AS DECIMAL(18,4)))
                 ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
               / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                      * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE),
               6) AS mkt_share
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      JOIN region ON n2.n_regionkey = r_regionkey
      WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY 1 ORDER BY 1
    """,

    "q17_small_qty" -> """
      WITH li AS (
        SELECT l_partkey, l_quantity, l_extendedprice
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand = 'Brand#11' AND p_type = 'SMALL'),
      cutoff AS (
        SELECT l_partkey AS cut_partkey,
               0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                      / COUNT(*)) AS qty_cut
        FROM li GROUP BY 1)
      SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
               / 7.0 AS avg_yearly
      FROM li JOIN cutoff ON l_partkey = cut_partkey
      WHERE l_quantity < qty_cut
    """,

    "q19_disjunctive" -> """
      SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                      * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
               AS revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11
             AND p_size BETWEEN 1 AND 5)
         OR (p_brand = 'Brand#21' AND l_quantity BETWEEN 10 AND 20
             AND p_size BETWEEN 1 AND 10)
         OR (p_brand = 'Brand#5' AND l_quantity BETWEEN 20 AND 30
             AND p_size BETWEEN 1 AND 15)
    """,

    "q21_waiting" -> """
      SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
      FROM lineitem l1
      JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
      JOIN supplier ON s_suppkey = l1.l_suppkey
      WHERE l1.l_returnflag = 'R'
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_returnflag = 'R')
      GROUP BY 1 ORDER BY numwait DESC, s_name ASC LIMIT 20
    """,

    "q_rollup_revenue" -> """
      SELECT n_name, CAST(year(o_orderdate) AS INT) AS o_year,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               AS revenue
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY ROLLUP(n_name, o_year)
    """,

    // seasonal-naive forecast: hour-of-day mean over observed prior-day
    // cells (decimal-exact BIGINT sums), APE on the held-out day
    "q_seasonal_forecast" -> """
      WITH hourly AS (SELECT CAST(ts AS DATE) AS day,
                             CAST(hour(ts) AS INTEGER) AS h,
                             CAST(COUNT(*) AS BIGINT) AS n
                      FROM events GROUP BY 1, 2),
      model AS (SELECT h, round(CAST(SUM(n) AS DOUBLE) / COUNT(*), 6)
                         AS forecast
                FROM hourly WHERE day < DATE '2024-01-30' GROUP BY h)
      SELECT h, n AS actual, forecast,
             round(abs(n - forecast) / n, 6) AS ape
      FROM hourly JOIN model USING (h)
      WHERE day = DATE '2024-01-30'
      ORDER BY h
    """,

    // Q2 analog: per-row double division is identical IEEE arithmetic in
    // both engines, so the min-equality join is exact
    "q2_min_cost" -> """
      WITH offers AS (
        SELECT p_partkey, s_suppkey, s_name, s_acctbal, n_name,
               l_extendedprice / l_quantity AS unit_cost
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
             AND p_size <= 25 AND p_type = 'SMALL'
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
      ),
      mc AS (SELECT p_partkey AS mc_partkey, min(unit_cost) AS min_cost
             FROM offers GROUP BY 1)
      SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey,
             round(unit_cost, 6) AS unit_cost
      FROM offers JOIN mc
        ON p_partkey = mc_partkey AND unit_cost = min_cost
      ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, p_partkey ASC
      LIMIT 100
    """,

    "q9_profit" -> """
      SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                      * CAST(1 - l_discount AS DECIMAL(8,4))) AS DOUBLE)
               AS sum_profit
      FROM lineitem
      JOIN part ON l_partkey = p_partkey AND p_name LIKE '%widget%'
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1, 2 ORDER BY nation ASC, o_year DESC
    """,

    // Q11 analog: the share comparison stays in exact decimals (0.001 is
    // an exact decimal literal in both engines)
    "q11_important_parts" -> """
      WITH slice AS (
        SELECT l_partkey,
               CAST(l_extendedprice AS DECIMAL(18,4))
                 * CAST(1 - l_discount AS DECIMAL(8,4)) AS val
        FROM lineitem
        WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
                            JOIN nation ON s_nationkey = n_nationkey
                            WHERE n_name = 'NATION_5')
      )
      SELECT l_partkey, CAST(SUM(val) AS DOUBLE) AS value
      FROM slice GROUP BY 1
      HAVING SUM(val) > (SELECT SUM(val) FROM slice) * 0.001
      ORDER BY value DESC, l_partkey ASC
    """,

    "q16_part_suppliers" -> """
      SELECT p_brand, p_type, p_size,
             CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
           AND p_brand <> 'Brand#1' AND p_size <= 20
      WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                              WHERE s_acctbal < 0)
      GROUP BY 1, 2, 3
      ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC
    """,

    "q20_excess_shippers" -> """
      WITH slice AS (
        SELECT l_partkey, l_suppkey, CAST(l_quantity AS DECIMAL(18,4)) AS qty
        FROM lineitem
        WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
          AND l_partkey IN (SELECT p_partkey FROM part
                            WHERE p_name LIKE 'small%')
      ),
      pair AS (SELECT l_partkey, l_suppkey, SUM(qty) AS pair_qty
               FROM slice GROUP BY 1, 2),
      tot AS (SELECT l_partkey AS pp_partkey, SUM(qty) AS part_qty
              FROM slice GROUP BY 1)
      SELECT s_name, s_acctbal
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_3'
      WHERE s_suppkey IN (SELECT DISTINCT l_suppkey
                          FROM pair JOIN tot ON l_partkey = pp_partkey
                          WHERE pair_qty > part_qty * 0.3)
      ORDER BY s_name ASC
    """,

    "q_session_window" -> """
      WITH m AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS is_start
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ),
      s AS (
        SELECT user_id, ts, value,
               sum(is_start) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM m
      )
      SELECT user_id, min(ts) AS session_start,
             max(ts) + INTERVAL 30 MINUTE AS session_end,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
      FROM s GROUP BY user_id, sid
    """,

    "q_growth_accounting" -> """
      WITH weekly AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('week', ts) AS TIMESTAMP) AS week
        FROM events),
      fw AS (SELECT user_id, MIN(week) AS first_week FROM weekly GROUP BY 1),
      prev AS (SELECT user_id, week + INTERVAL 7 DAY AS week, 1 AS was_active
               FROM weekly),
      cls AS (SELECT w.week,
                CASE WHEN w.week = f.first_week THEN 'new'
                     WHEN p.was_active IS NOT NULL THEN 'retained'
                     ELSE 'resurrected' END AS status
              FROM weekly w
              JOIN fw f USING (user_id)
              LEFT JOIN prev p ON p.user_id = w.user_id AND p.week = w.week),
      agg AS (SELECT week,
                CAST(SUM(CASE WHEN status = 'new' THEN 1 ELSE 0 END)
                     AS BIGINT) AS new_users,
                CAST(SUM(CASE WHEN status = 'retained' THEN 1 ELSE 0 END)
                     AS BIGINT) AS retained_users,
                CAST(SUM(CASE WHEN status = 'resurrected' THEN 1 ELSE 0 END)
                     AS BIGINT) AS resurrected_users
              FROM cls GROUP BY 1),
      churn AS (SELECT p.week, CAST(COUNT(*) AS BIGINT) AS churned_users
                FROM prev p
                WHERE NOT EXISTS (SELECT 1 FROM weekly w
                                  WHERE w.user_id = p.user_id
                                    AND w.week = p.week)
                  AND p.week IN (SELECT week FROM weekly)
                GROUP BY 1)
      SELECT agg.week, new_users, retained_users, resurrected_users,
             CAST(COALESCE(churned_users, 0) AS BIGINT) AS churned_users
      FROM agg LEFT JOIN churn USING (week)
    """,

    "q_stickiness" -> """
      WITH triples AS (
        SELECT DISTINCT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week,
               CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, user_id
        FROM events),
      dau AS (SELECT week, CAST(SUM(d) AS DOUBLE) / COUNT(*) AS avg_dau
              FROM (SELECT week, day, CAST(COUNT(*) AS BIGINT) AS d
                    FROM triples GROUP BY 1, 2)
              GROUP BY 1),
      wau AS (SELECT week, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
              FROM triples GROUP BY 1)
      SELECT dau.week, round(avg_dau, 6) AS avg_dau, wau,
             round(avg_dau / wau, 6) AS stickiness
      FROM dau JOIN wau USING (week)
    """,

    "q1_agg" -> """
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS sum_disc_price,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
             COUNT(*) AS cnt
      FROM lineitem GROUP BY l_returnflag, l_linestatus
    """
  ) ++ trainingOracles ++ Map(
    // merged per-source sketches ≡ the single-pass corpus sketch (counter
    // sums commute), so the rollup path answers to the SAME oracle —
    // sharing the SQL is the point, not a shortcut
    "q_cms_rollup" -> trainingOracles("q_cms_counts"),

    // grid-histogram quantile sketch: DuckDB mirrors the ENTIRE pipeline
    // (shared [min,max] grid, left-associative bin arithmetic, cumulative
    // walk, midpoint readout) — the determinism that makes this sketch
    // hash-checkable where approx_percentile is rows-only
    "q_quantile_view" -> """
      WITH b AS (SELECT min(value) mn, max(value) mx FROM events),
      h AS (SELECT event_type,
              CASE WHEN mx <= mn THEN 0
                   ELSE CAST(least(floor((value - mn) * 4096 / (mx - mn)),
                                   4095) AS INT) END AS bin,
              count(*) AS cnt
            FROM events, b WHERE value IS NOT NULL GROUP BY 1, 2),
      c AS (SELECT event_type, bin, cnt,
              sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
              sum(cnt) OVER (PARTITION BY event_type) AS n FROM h),
      p AS (SELECT event_type,
              min(CASE WHEN cum >= ceil(0.5 * n) THEN bin END) AS b50,
              min(CASE WHEN cum >= ceil(0.95 * n) THEN bin END) AS b95,
              min(CASE WHEN cum >= ceil(0.99 * n) THEN bin END) AS b99
            FROM c GROUP BY 1)
      SELECT event_type,
             round(mn + (b50 + 0.5) * (mx - mn) / 4096, 6) AS p50,
             round(mn + (b95 + 0.5) * (mx - mn) / 4096, 6) AS p95,
             round(mn + (b99 + 0.5) * (mx - mn) / 4096, 6) AS p99
      FROM p, b
    """,

    // the rollup recomputed DIRECTLY from events — engine answers from
    // bin-wise sums over the per-type view; equality is the
    // mergeability proof (the q_cms_rollup pattern, for quantiles)
    "q_quantile_rollup" -> """
      WITH b AS (SELECT min(value) mn, max(value) mx FROM events),
      h AS (SELECT CASE WHEN mx <= mn THEN 0
                   ELSE CAST(least(floor((value - mn) * 4096 / (mx - mn)),
                                   4095) AS INT) END AS bin,
              count(*) AS cnt
            FROM events, b WHERE value IS NOT NULL GROUP BY 1),
      c AS (SELECT bin, cnt,
              sum(cnt) OVER (ORDER BY bin) AS cum,
              sum(cnt) OVER () AS n FROM h),
      p AS (SELECT min(CASE WHEN cum >= ceil(0.5 * n) THEN bin END) AS b50,
              min(CASE WHEN cum >= ceil(0.95 * n) THEN bin END) AS b95,
              min(CASE WHEN cum >= ceil(0.99 * n) THEN bin END) AS b99
            FROM c)
      SELECT round(mn + (b50 + 0.5) * (mx - mn) / 4096, 6) AS p50,
             round(mn + (b95 + 0.5) * (mx - mn) / 4096, 6) AS p95,
             round(mn + (b99 + 0.5) * (mx - mn) / 4096, 6) AS p99
      FROM p, b
    """)

  /** Oracle SQL for the training-data-pipeline queries. These mirror the
    * Spark logic exactly: identical md5-derived hashes, identical sequential
    * fold order for floating sums (DuckDB `list_reduce` == Spark
    * `aggregate`), matching integer widths, and filters applied at the same
    * (raw vs rounded) stage. */
  private def trainingOracles: Map[String, String] = {
    // shared CTE fragments
    def toksFrom(src: String) =
      s"""SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks
          FROM $src"""
    def shinglesFrom(src: String) =
      s"""SELECT doc_id, list_distinct(list_transform(
            range(0, len(toks) - 2),
            i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS sh
          FROM (${toksFrom(src)}) WHERE len(toks) >= 3"""
    val toks = toksFrom("documents")
    val shingles = shinglesFrom("documents")
    // Shared CTE chain for the exact-substring dedup oracles (k = 8):
    // positional 8-token grams → duplicated positions (first corpus
    // occurrence by (doc_id, i) exempt) → gaps-and-islands interval merge.
    val substrIslands =
      s"""tk AS (SELECT doc_id, toks AS t FROM ($toks)),
        pos AS (SELECT doc_id, CAST(i AS BIGINT) AS i,
                       array_to_string(t[i + 1 : i + 8], ' ') AS g
                FROM tk, unnest(range(0, len(t) - 7)) AS u(i)
                WHERE len(t) >= 8),
        dg AS (SELECT doc_id, i,
                      count(*) OVER (PARTITION BY g) AS occ,
                      row_number() OVER (PARTITION BY g
                        ORDER BY doc_id, i) AS rn
               FROM pos),
        dup AS (SELECT doc_id, i FROM dg WHERE occ >= 2 AND rn >= 2),
        mrg AS (SELECT doc_id, i,
                       max(i + 8) OVER (PARTITION BY doc_id ORDER BY i
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                         AS prev_end
                FROM dup),
        isl AS (SELECT doc_id, i,
                       sum(CASE WHEN prev_end IS NULL OR i > prev_end
                                THEN 1 ELSE 0 END)
                         OVER (PARTITION BY doc_id ORDER BY i) AS island
                FROM mrg)"""
    def h64(e: String) = s"CAST(('0x' || substring(md5($e), 1, 15)) AS BIGINT)"
    val markers = TextAnalysis.langMarkers
    def inList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("(", ", ", ")")
    val hitCols = markers.map { case (l, ws) =>
      s"CAST(len(list_filter(toks, w -> w IN ${inList(ws)})) AS INTEGER) AS hits_$l"
    }.mkString(",\n               ")
    val langs = markers.map(_._1)
    val caseChain = langs.init.zipWithIndex.map { case (l, i) =>
      val conds = langs.drop(i + 1).map(l2 => s"hits_$l >= hits_$l2").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString("\n                    ")
    // cosine with the exact same fold order as Spark's aggregate()
    def cosSql(a: String, b: String) =
      s"""(list_reduce(list_transform(range(1, 65), i -> $a[i] * $b[i]), (x, y) -> x + y)
          / (sqrt(list_reduce(list_transform(range(1, 65), i -> $a[i] * $a[i]), (x, y) -> x + y))
             * sqrt(list_reduce(list_transform(range(1, 65), i -> $b[i] * $b[i]), (x, y) -> x + y))))"""
    // shared CTE chain (expects `t` = the shingles CTE in scope): minhash
    // signatures -> LSH bands -> candidate pairs, mirroring
    // Dedup.minhashSignatures/minhashCandidatePairs
    val minhashPairsCte =
      s"""sig AS (SELECT doc_id, list_transform(range(0, 16),
                    hh -> list_min(list_transform(sh,
                            s -> ${h64("s")}
                                 + hh * (${graft.functions.Hashing.hash64HiDuckDb("s")}
                                         & ${graft.functions.Hashing.maskKM})))) AS sig
                  FROM t),
          bands AS (SELECT doc_id, band_id,
                      md5(array_to_string(list_transform(
                        list_slice(sig, band_id * 4 + 1, band_id * 4 + 4),
                        x -> CAST(x AS VARCHAR)), ',')) AS band_key
                    FROM sig, (SELECT unnest(range(0, 4)) AS band_id)),
          mh_pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                       FROM bands a JOIN bands b
                         ON a.band_id = b.band_id AND a.band_key = b.band_key
                         AND a.doc_id < b.doc_id)"""

    val langIdSql = s"""
        WITH h AS (SELECT doc_id,
               $hitCols
          FROM ($toks))
        SELECT doc_id,
               CASE $caseChain
                    ELSE '${langs.last}' END AS lang_guess,
               greatest(${langs.map(l => s"hits_$l").mkString(", ")}) AS marker_hits
        FROM h
      """

    // simhash signature select (mirrors Dedup.simhash bit-sum arithmetic)
    val simhashSql = s"""
        SELECT doc_id, CAST(list_sum(list_transform(range(0, 32), j -> CASE
                 WHEN list_sum(list_transform(hs,
                        h -> CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                 THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END))
               AS BIGINT) AS simhash
        FROM (SELECT doc_id, list_transform(
                regexp_split_to_array(lower(text), '\\s+'),
                w -> ${h64("w")}) AS hs
              FROM documents)"""

    def bucketSqlFor(seed: Long) = {
      val planes = graft.functions.Hashing.hyperplanes(8, 64, seed)
      val planesSql = planes.map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")
      s"""CAST(list_sum(list_transform(range(0, 8), h -> CASE
            WHEN list_reduce(list_transform(range(0, 64),
                   i -> ($planesSql)[h+1][i+1] * v[i+1]), (x, y) -> x + y) > 0
            THEN (1 << h) ELSE 0 END)) AS INTEGER)"""
    }
    val bucketSql = bucketSqlFor(42L)

    Map(
      "q_text_stats" -> s"""
        SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_tokens,
               CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct_tokens,
               round(CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
                     / len(toks), 6) AS avg_token_len
        FROM (SELECT doc_id, text,
                     regexp_split_to_array(lower(text), '\\s+') AS toks
              FROM documents)
      """,

      "q_lang_id" -> langIdSql,

      "q_lang_dist" -> s"""
        SELECT lang_guess, COUNT(*) AS n_docs,
               round(avg(CAST(marker_hits AS DOUBLE)), 6) AS avg_marker_hits
        FROM ($langIdSql) GROUP BY 1
      """,

      // CUBE: both engines encode GROUPING with the first column most
      // significant, so gid disambiguates rollup rows identically. The
      // sum is CAST: DuckDB sums BIGINT into HUGEINT, and the driver's
      // hash is type-sensitive (r10 verdict — values were cell-identical,
      // only the 128-bit type tripped the hash).
      "q_corpus_cube" -> """
        SELECT lang, source, GROUPING(lang, source) AS gid,
               count(*) AS cnt, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents GROUP BY CUBE(lang, source)
      """,

      "q_quality" -> s"""
        WITH r AS (
          SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_tokens,
                 round(CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
                       / length(text), 6) AS punct_ratio,
                 round(CAST(len(list_filter(toks, w -> w IN ${inList(TextAnalysis.stopwords)})) AS DOUBLE)
                       / len(toks), 6) AS stopword_ratio
          FROM (SELECT doc_id, text, regexp_split_to_array(lower(text), '\\s+') AS toks
                FROM documents))
        SELECT doc_id, n_tokens, punct_ratio, stopword_ratio,
               round(ln(1 + n_tokens) * (1.0 - punct_ratio)
                     * (1.0 + stopword_ratio), 6) AS quality_score
        FROM r
      """,

      // quality-weighted sampling: same quality CTE; keep-rate ∝ q/max(q),
      // membership by the shared content-hash rule
      "q_sample_weighted" -> s"""
        WITH r AS (
          SELECT doc_id, text, CAST(len(toks) AS INTEGER) AS n_tokens,
                 round(CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
                       / length(text), 6) AS punct_ratio,
                 round(CAST(len(list_filter(toks, w -> w IN ${inList(TextAnalysis.stopwords)})) AS DOUBLE)
                       / len(toks), 6) AS stopword_ratio
          FROM (SELECT doc_id, text, regexp_split_to_array(lower(text), '\\s+') AS toks
                FROM documents)),
        s AS (
          SELECT doc_id, text,
                 round(ln(1 + n_tokens) * (1.0 - punct_ratio)
                       * (1.0 + stopword_ratio), 6) AS quality_score
          FROM r),
        m AS (SELECT MAX(quality_score) AS max_q FROM s)
        SELECT doc_id, quality_score,
               CAST(floor(500.0 * quality_score / max_q) AS INTEGER)
                 AS keep_permille
        FROM s, m
        WHERE ${h64("text")} % 1000
              < CAST(floor(500.0 * quality_score / max_q) AS INTEGER)
      """,

      "q_fingerprint" -> s"""
        SELECT doc_id, md5(norm_text) AS fp, ${h64("norm_text")} AS fp_int
        FROM (SELECT doc_id,
                     regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm_text
              FROM documents)
      """,

      // cutoff = exact interpolated p75 of the 6dp-rounded quality scores,
      // itself rounded to 6dp — both engines interpolate at rank p*(n-1)
      // over identical doubles, so the cutoff (and the kept set) match
      "q_quality_cutoff" -> s"""
        WITH r AS (
          SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_tokens,
                 round(CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
                       / length(text), 6) AS punct_ratio,
                 round(CAST(len(list_filter(toks, w -> w IN ${inList(TextAnalysis.stopwords)})) AS DOUBLE)
                       / len(toks), 6) AS stopword_ratio
          FROM (SELECT doc_id, text, regexp_split_to_array(lower(text), '\\s+') AS toks
                FROM documents)),
        s AS (SELECT doc_id,
                     round(ln(1 + n_tokens) * (1.0 - punct_ratio)
                           * (1.0 + stopword_ratio), 6) AS quality_score
              FROM r),
        c AS (SELECT round(quantile_cont(quality_score, 0.75), 6) AS cutoff FROM s)
        SELECT s.doc_id, s.quality_score FROM s, c
        WHERE s.quality_score >= c.cutoff
      """,

      // within-doc repetition: token 2-grams as 0-based slices (DuckDB
      // lists are 1-based, hence toks[i+1] || ' ' || toks[i+2])
      "q_repetition" -> s"""
        WITH g AS (
          SELECT doc_id, list_transform(range(0, len(toks) - 1),
                   i -> toks[i+1] || ' ' || toks[i+2]) AS grams
          FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks
                FROM documents)
          WHERE len(toks) >= 2)
        SELECT doc_id,
               CAST(len(grams) AS INTEGER) AS n_grams,
               CAST(len(list_distinct(grams)) AS INTEGER) AS distinct_grams,
               round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                     / len(grams), 6) AS dup_gram_frac,
               round(CAST(list_max(list_transform(list_distinct(grams),
                       g -> len(list_filter(grams, x -> x = g)))) AS DOUBLE)
                     / len(grams), 6) AS top_gram_frac
        FROM g
      """,

      // Gopher rules: same per-row signal arithmetic in both engines
      // (anchored regexp_matches ≡ rlike full match; 1-based DuckDB lists)
      "q_gopher_filter" -> s"""
        WITH t AS (SELECT doc_id,
                          regexp_split_to_array(lower(text), '\\s+') AS toks
                   FROM documents),
        g AS (SELECT doc_id, toks,
                CASE WHEN len(toks) >= 2
                     THEN list_transform(range(0, len(toks) - 1),
                            i -> toks[i+1] || ' ' || toks[i+2]) END AS grams
              FROM t),
        m AS (SELECT doc_id,
                CAST(len(toks) AS INTEGER) AS n_tokens,
                round(list_reduce(list_transform(toks, x -> len(x)),
                        (a, b) -> a + b) / CAST(len(toks) AS DOUBLE), 6)
                  AS mean_token_len,
                round(CAST(len(list_filter(toks,
                        t -> regexp_matches(t, '^[a-z]+$$'))) AS DOUBLE)
                      / len(toks), 6) AS alpha_frac,
                CAST(len(list_filter(toks,
                  t -> t IN ${inList(TextAnalysis.stopwords)})) AS INTEGER)
                  AS n_stopwords,
                CASE WHEN grams IS NULL THEN 0.0
                     ELSE round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                                / len(grams), 6) END AS dup_gram_frac
              FROM g)
        SELECT m.*,
               CAST(n_tokens >= 5 AND n_tokens <= 100000
                    AND mean_token_len >= 2.0 AND mean_token_len <= 10.0
                    AND alpha_frac >= 0.8 AND n_stopwords >= 1
                    AND dup_gram_frac <= 0.5 AS INTEGER) AS keep
        FROM m
      """,

      // unigram LM score: per-token ln(cnt/total) rounded to 9dp and
      // summed as DECIMAL(20,9) — association-order-exact in both engines;
      // the mean divides the exact sum as DOUBLE
      "q_unigram_logprob" -> s"""
        WITH t AS (SELECT doc_id,
                          unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
                   FROM documents),
        v AS (SELECT tok, COUNT(*) AS cnt FROM t GROUP BY 1),
        lp AS (SELECT tok,
                      CAST(round(ln(cnt / CAST((SELECT sum(cnt) FROM v) AS DOUBLE)), 9)
                        AS DECIMAL(20,9)) AS lp
               FROM v)
        SELECT t.doc_id, COUNT(*) AS n_tokens,
               round(CAST(sum(lp.lp) AS DOUBLE) / COUNT(*), 6) AS mean_logprob
        FROM t JOIN lp USING (tok)
        GROUP BY t.doc_id
      """,

      // CCNet triage: q_unigram_logprob's score CTE + per-language exact
      // terciles (quantile_cont ≡ Spark percentile); score and cuts both
      // 6dp-rounded before the boundary compare
      "q_ccnet_buckets" -> s"""
        WITH t AS (SELECT doc_id,
                          unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
                   FROM documents),
        v AS (SELECT tok, COUNT(*) AS cnt FROM t GROUP BY 1),
        lp AS (SELECT tok,
                      CAST(round(ln(cnt / CAST((SELECT sum(cnt) FROM v) AS DOUBLE)), 9)
                        AS DECIMAL(20,9)) AS lp
               FROM v),
        scored AS (
          SELECT d.doc_id, d.lang, s.mean_logprob
          FROM documents d
          JOIN (SELECT t.doc_id,
                       round(CAST(sum(lp.lp) AS DOUBLE) / COUNT(*), 6)
                         AS mean_logprob
                FROM t JOIN lp USING (tok)
                GROUP BY t.doc_id) s ON d.doc_id = s.doc_id),
        cuts AS (
          SELECT lang,
                 round(quantile_cont(mean_logprob, 1.0/3), 6) AS p33,
                 round(quantile_cont(mean_logprob, 2.0/3), 6) AS p66
          FROM scored GROUP BY 1)
        SELECT doc_id, scored.lang, mean_logprob,
               CASE WHEN mean_logprob >= p66 THEN 'head'
                    WHEN mean_logprob >= p33 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM scored JOIN cuts ON scored.lang = cuts.lang
      """,

      // bigram LM: prefix normalizer is a rollup of the bigram table;
      // parallel unnest zips the (w1, w2) columns (1-based DuckDB slices)
      "q_bigram_logprob" -> s"""
        WITH t AS ($toks),
        g AS (SELECT doc_id,
                     unnest(list_transform(range(0, len(toks) - 1),
                            i -> toks[i+1])) AS w1,
                     unnest(list_transform(range(0, len(toks) - 1),
                            i -> toks[i+2])) AS w2
              FROM t WHERE len(toks) >= 2),
        bg AS (SELECT w1, w2, COUNT(*) AS c2 FROM g GROUP BY 1, 2),
        pf AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM bg GROUP BY 1),
        m AS (SELECT w1, w2,
                     CAST(round(ln(c2 / CAST(c1 AS DOUBLE)), 9)
                       AS DECIMAL(20,9)) AS lp
              FROM bg JOIN pf USING (w1))
        SELECT g.doc_id, COUNT(*) AS n_bigrams,
               round(CAST(sum(m.lp) AS DOUBLE) / COUNT(*), 6) AS mean_logprob
        FROM g JOIN m USING (w1, w2)
        GROUP BY 1
      """,

      // embedding drift: zipped parallel unnest gives (dim, x) pairs;
      // decimal-exact per-dim means, 6dp-rounded before the squared diff
      "q_embedding_drift" -> s"""
        WITH o AS (SELECT label, unnest(range(0, 64)) AS dim,
                          unnest(embedding) AS x
                   FROM embeddings WHERE vec_id % 2 = 0),
        nn AS (SELECT label, unnest(range(0, 64)) AS dim,
                      unnest(embedding) AS x
               FROM embeddings WHERE vec_id % 2 = 1),
        oc AS (SELECT label, dim,
                      round(CAST(SUM(CAST(round(CAST(x AS DOUBLE), 9)
                              AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*), 6)
                        AS old_mean,
                      CAST(COUNT(*) AS BIGINT) AS old_n
               FROM o GROUP BY 1, 2),
        nc AS (SELECT label, dim,
                      round(CAST(SUM(CAST(round(CAST(x AS DOUBLE), 9)
                              AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*), 6)
                        AS new_mean,
                      CAST(COUNT(*) AS BIGINT) AS new_n
               FROM nn GROUP BY 1, 2),
        j AS (SELECT label,
                     CAST(round((old_mean - new_mean) * (old_mean - new_mean),
                                9) AS DECIMAL(28,9)) AS sq,
                     old_n, new_n
              FROM oc JOIN nc USING (label, dim))
        SELECT label, round(sqrt(CAST(SUM(sq) AS DOUBLE)), 6) AS centroid_l2,
               CAST(MAX(new_n) - MAX(old_n) AS BIGINT) AS size_delta
        FROM j GROUP BY 1 ORDER BY 1
      """,

      // length histogram: integer bucket arithmetic (// ≡ Spark div);
      // DuckDB sums INTEGER into HUGEINT, hence the BIGINT casts
      "q_length_hist" -> s"""
        SELECT CAST(n_tokens // 16 AS BIGINT) AS bucket, COUNT(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens
        FROM (SELECT CAST(len(regexp_split_to_array(lower(text), '\\s+'))
                       AS INTEGER) AS n_tokens
              FROM documents)
        GROUP BY 1
      """,

      // decile tiers: the 9 boundary values come from DuckDB's list-form
      // quantile_cont ≡ Spark's array-form percentile (both exact
      // interpolation over identical 6dp-rounded doubles, then rounded);
      // tier = #cutoffs ≤ score
      "q_quality_tiers" -> s"""
        WITH r AS (
          SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_tokens,
                 round(CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
                       / length(text), 6) AS punct_ratio,
                 round(CAST(len(list_filter(toks, w -> w IN ${inList(TextAnalysis.stopwords)})) AS DOUBLE)
                       / len(toks), 6) AS stopword_ratio
          FROM (SELECT doc_id, text, regexp_split_to_array(lower(text), '\\s+') AS toks
                FROM documents)),
        s AS (SELECT doc_id,
                     round(ln(1 + n_tokens) * (1.0 - punct_ratio)
                           * (1.0 + stopword_ratio), 6) AS quality_score
              FROM r),
        c AS (SELECT list_transform(
                quantile_cont(quality_score,
                  [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
                x -> round(x, 6)) AS cuts FROM s)
        SELECT s.doc_id, s.quality_score,
               CAST(len(list_filter(c.cuts, x -> s.quality_score >= x))
                 AS INTEGER) AS tier
        FROM s, c
      """,

      // per-source cap by deterministic content-hash rank
      "q_source_cap" -> s"""
        SELECT doc_id, source, CAST(rk AS INTEGER) AS rk
        FROM (SELECT doc_id, source, row_number() OVER (
                PARTITION BY source
                ORDER BY ${h64("text")} ASC, doc_id ASC) AS rk
              FROM documents)
        WHERE rk <= 50
      """,

      // passage-level boilerplate removal: 3-word passage grid per doc
      // (list_slice is 1-based inclusive ≙ Spark slice(start, length));
      // passages in ≥2 distinct docs are dropped, survivors re-joined in
      // passage order. Parallel unnest zips the equal-length idx/passage
      // lists.
      "q_boilerplate" -> s"""
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        p AS (SELECT doc_id,
                     unnest(generate_series(0,
                       CAST(ceil(len(w) / 3.0) AS INT) - 1)) AS idx,
                     unnest(list_transform(generate_series(0,
                       CAST(ceil(len(w) / 3.0) AS INT) - 1),
                       i -> array_to_string(list_slice(w, i * 3 + 1, i * 3 + 3),
                                            ' '))) AS passage
              FROM w),
        h AS (SELECT doc_id, idx, passage, ${h64("passage")} AS h
              FROM p),
        boiler AS (SELECT h FROM h GROUP BY h
                   HAVING count(DISTINCT doc_id) >= 2),
        agg AS (SELECT doc_id, string_agg(passage, ' ' ORDER BY idx) AS text_clean
                FROM h WHERE h NOT IN (SELECT h FROM boiler)
                GROUP BY doc_id)
        SELECT d.doc_id, coalesce(a.text_clean, '') AS text_clean
        FROM documents d LEFT JOIN agg a USING (doc_id)
      """,

      // Bloom-prefilter incremental dedup: the sketch is an execution
      // detail (no false negatives; confirm join kills false positives),
      // so the oracle is the plain exact-membership semi-join on the
      // 60-bit normalized-text fingerprint.
      "q_dedup_bloom" -> s"""
        WITH f AS (SELECT doc_id,
                          ${h64("regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')")}
                            AS fp
                   FROM documents)
        SELECT f.doc_id,
               f.fp IN (SELECT fp FROM f f2 WHERE f2.doc_id % 4 <> 1)
                 AS exact_dup
        FROM f WHERE f.doc_id % 4 = 1
      """,

      // temperature sampling: per-language keep-rate from the language
      // histogram — floor(200 * sqrt(n_max / n_lang)) capped at 1000 —
      // then the same deterministic content-hash membership as
      // q_sample_hash. sqrt is IEEE-correctly-rounded in both engines, so
      // the rate table matches bit-for-bit.
      "q_sample_temperature" -> s"""
        WITH l AS ($langIdSql),
        c AS (SELECT lang_guess, count(*) AS n_lang FROM l GROUP BY 1),
        r AS (SELECT lang_guess,
                     CAST(least(1000, floor(200.0 *
                       sqrt(CAST(max(n_lang) OVER () AS DOUBLE)
                            / CAST(n_lang AS DOUBLE)))) AS INTEGER)
                       AS keep_permille
              FROM c)
        SELECT d.doc_id, l.lang_guess, r.keep_permille
        FROM documents d
          JOIN l ON d.doc_id = l.doc_id
          JOIN r ON l.lang_guess = r.lang_guess
        WHERE ${h64("d.text")} % 1000 < r.keep_permille
      """,

      // corpus snapshot diff: old/new derived from the one documents table
      // (old drops the %11==3 slice; new drops %17==2 and appends ' v2' to
      // the %13==5 slice) — full outer join on doc_id over 64-bit content
      // fingerprints
      "q_corpus_diff" -> s"""
        WITH o AS (SELECT doc_id, ${h64("text")} AS fp
                   FROM documents WHERE doc_id % 11 <> 3),
        n AS (SELECT doc_id,
                     ${h64("CASE WHEN doc_id % 13 = 5 THEN text || ' v2' ELSE text END")} AS fp
              FROM documents WHERE doc_id % 17 <> 2)
        SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
               CASE WHEN o.doc_id IS NULL THEN 'added'
                    WHEN n.doc_id IS NULL THEN 'removed'
                    WHEN o.fp <> n.fp THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
      """,

      "q_redact_pii" -> """
        SELECT doc_id,
               regexp_replace(
                 regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                   '<EMAIL>', 'g'),
                 '\+?\d[\d ()-]{6,}\d', '<NUMBER>', 'g') AS redacted
        FROM documents
      """,

      "q_chunk_docs" -> s"""
        WITH t AS ($toks),
        c AS (SELECT doc_id, toks,
                     unnest(range(0, 1 + greatest(0,
                       CAST(ceil((len(toks) - 32) / 24.0) AS INT)))) AS chunk_id
              FROM t)
        SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
               array_to_string(list_slice(toks, chunk_id * 24 + 1,
                                          chunk_id * 24 + 32), ' ') AS chunk_text,
               CAST(len(list_slice(toks, chunk_id * 24 + 1,
                                   chunk_id * 24 + 32)) AS INTEGER) AS n_tokens
        FROM c
      """,

      "q_pack_sequences" -> s"""
        WITH t AS ($toks),
        c AS (SELECT doc_id, toks,
                     unnest(range(0, 1 + greatest(0,
                       CAST(ceil((len(toks) - 32) / 24.0) AS INT)))) AS chunk_id
              FROM t),
        ch AS (SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
                      CAST(len(list_slice(toks, chunk_id * 24 + 1,
                                          chunk_id * 24 + 32)) AS INTEGER) AS n_tokens,
                      CAST(${h64("CAST(doc_id AS VARCHAR)")} % 32 AS INTEGER) AS lane
               FROM c),
        s AS (SELECT lane, doc_id, chunk_id, n_tokens,
                     coalesce(SUM(n_tokens) OVER (
                       PARTITION BY lane ORDER BY doc_id, chunk_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS start_tok
              FROM ch)
        SELECT lane, CAST(start_tok // 96 AS BIGINT) AS seq_id,
               CAST(COUNT(*) AS INTEGER) AS n_chunks,
               CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
               MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        FROM s GROUP BY 1, 2
      """,

      "q_sample_hash" -> s"""
        SELECT doc_id, text FROM documents
        WHERE ${h64("text")} % 1000 < 200
      """,

      "q_sample_stratified" -> s"""
        WITH l AS ($langIdSql)
        SELECT d.doc_id, l.lang_guess
        FROM documents d JOIN l ON d.doc_id = l.doc_id
        WHERE ${h64("d.text")} % 1000 <
              CASE l.lang_guess WHEN 'en' THEN 50 WHEN 'de' THEN 300
                   ELSE 100 END
      """,

      "q_upsample_stratified" -> s"""
        WITH l AS ($langIdSql)
        SELECT l.doc_id, l.lang_guess, CAST(t.e AS INTEGER) AS epoch
        FROM l, unnest(range(1, 1 + CASE l.lang_guess WHEN 'de' THEN 3
                                         WHEN 'fr' THEN 2 ELSE 1 END)) AS t(e)
      """,

      "q_dataset_card" -> s"""
        WITH l AS ($langIdSql),
        r AS (
          SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_tokens,
                 round(CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
                       / length(text), 6) AS punct_ratio,
                 round(CAST(len(list_filter(toks, w -> w IN ${inList(TextAnalysis.stopwords)})) AS DOUBLE)
                       / len(toks), 6) AS stopword_ratio,
                 CAST(length(text) AS INTEGER) AS n_bytes
          FROM (SELECT doc_id, text, regexp_split_to_array(lower(text), '\\s+') AS toks
                FROM documents))
        SELECT l.lang_guess, count(*) AS n_docs,
               CAST(sum(r.n_tokens) AS BIGINT) AS total_tokens,
               CAST(sum(r.n_bytes) AS BIGINT) AS total_bytes,
               round(avg(round(ln(1 + r.n_tokens) * (1.0 - r.punct_ratio)
                               * (1.0 + r.stopword_ratio), 6)), 6) AS avg_quality,
               round(quantile_cont(r.n_tokens, 0.5), 4) AS p50_tokens,
               round(quantile_cont(r.n_tokens, 0.95), 4) AS p95_tokens
        FROM l JOIN r ON l.doc_id = r.doc_id
        GROUP BY 1
      """,

      "q_dedup_exact" -> """
        SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
               min(doc_id) AS canonical_id, count(*) AS n_dups
        FROM documents GROUP BY 1
      """,

      "q_minhash_pairs" -> s"""
        WITH t AS ($shingles), $minhashPairsCte
        SELECT * FROM mh_pairs
      """,

      // incremental dedup: bands computed once over all docs (signatures
      // are per-doc, so banding the union equals banding each side), then
      // the new slice (%4==1) membership-tested against the reference
      // slice by normalized-text fp and by shared (band_id, band_key)
      "q_dedup_incremental" -> s"""
        WITH t AS ($shingles), $minhashPairsCte,
        f AS (SELECT doc_id,
                     md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
              FROM documents),
        nb AS (SELECT * FROM bands WHERE doc_id % 4 = 1),
        rb AS (SELECT band_id, band_key FROM bands WHERE doc_id % 4 <> 1),
        near AS (SELECT DISTINCT nb.doc_id FROM nb
                 JOIN rb ON nb.band_id = rb.band_id AND nb.band_key = rb.band_key)
        SELECT f.doc_id,
               f.fp IN (SELECT fp FROM f f2
                        WHERE f2.doc_id % 4 <> 1) AS exact_dup,
               f.doc_id IN (SELECT doc_id FROM near) AS near_dup
        FROM f WHERE f.doc_id % 4 = 1
      """,

      // connected components to a fixpoint (matches Dedup.canonicalFromPairs'
      // min-label propagation): min doc_id over the transitive closure
      "q_dedup_canonical" -> s"""
        WITH RECURSIVE t AS ($shingles), $minhashPairsCte,
        edges AS (SELECT doc_a AS doc_id, doc_b AS nbr FROM mh_pairs
                  UNION ALL
                  SELECT doc_b AS doc_id, doc_a AS nbr FROM mh_pairs),
        reach(doc_id, r) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e.doc_id, reach.r FROM edges e JOIN reach ON e.nbr = reach.doc_id)
        SELECT doc_id, min(r) AS canonical_id FROM reach GROUP BY doc_id
      """,

      // Bloom near-dup prefilter: sketch is an execution detail, the
      // oracle is q_dedup_incremental's near-membership semi-join
      "q_neardup_bloom" -> s"""
        WITH t AS ($shingles), $minhashPairsCte,
        nb AS (SELECT * FROM bands WHERE doc_id % 4 = 1),
        rb AS (SELECT band_id, band_key FROM bands WHERE doc_id % 4 <> 1),
        near AS (SELECT DISTINCT nb.doc_id FROM nb
                 JOIN rb ON nb.band_id = rb.band_id AND nb.band_key = rb.band_key)
        SELECT d.doc_id, d.doc_id IN (SELECT doc_id FROM near) AS near_dup
        FROM documents d WHERE d.doc_id % 4 = 1
      """,

      // cluster-size distribution over the same recursive closure
      "q_cluster_sizes" -> s"""
        WITH RECURSIVE t AS ($shingles), $minhashPairsCte,
        edges AS (SELECT doc_a AS doc_id, doc_b AS nbr FROM mh_pairs
                  UNION ALL
                  SELECT doc_b AS doc_id, doc_a AS nbr FROM mh_pairs),
        reach(doc_id, r) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e.doc_id, reach.r FROM edges e JOIN reach ON e.nbr = reach.doc_id),
        lab AS (SELECT doc_id, min(r) AS canonical_id FROM reach GROUP BY doc_id),
        cs AS (SELECT canonical_id, COUNT(*) AS cluster_size FROM lab GROUP BY 1)
        SELECT cluster_size, COUNT(*) AS n_clusters,
               CAST(COUNT(*) * cluster_size AS BIGINT) AS n_docs
        FROM cs GROUP BY 1
      """,

      // quality-aware canonical: cluster labels from the same recursive
      // closure, winner = rank-1 by (quality DESC, doc_id ASC) per cluster
      "q_canonical_quality" -> s"""
        WITH RECURSIVE t AS ($shingles), $minhashPairsCte,
        edges AS (SELECT doc_a AS doc_id, doc_b AS nbr FROM mh_pairs
                  UNION ALL
                  SELECT doc_b AS doc_id, doc_a AS nbr FROM mh_pairs),
        reach(doc_id, r) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e.doc_id, reach.r FROM edges e JOIN reach ON e.nbr = reach.doc_id),
        lab AS (SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id),
        rq AS (
          SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_tokens,
                 round(CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
                       / length(text), 6) AS punct_ratio,
                 round(CAST(len(list_filter(toks, w -> w IN ${inList(TextAnalysis.stopwords)})) AS DOUBLE)
                       / len(toks), 6) AS stopword_ratio
          FROM (SELECT doc_id, text, regexp_split_to_array(lower(text), '\\s+') AS toks
                FROM documents)),
        q AS (SELECT doc_id,
                     round(ln(1 + n_tokens) * (1.0 - punct_ratio)
                           * (1.0 + stopword_ratio), 6) AS quality_score
              FROM rq)
        SELECT doc_id, cluster_id, quality_score,
               CAST(row_number() OVER (PARTITION BY cluster_id
                 ORDER BY quality_score DESC, doc_id ASC) = 1 AS INTEGER) AS keep
        FROM lab JOIN q USING (doc_id)
      """,

      // minhash agreement fraction over the shared signature CTE
      "q_minhash_jaccard_est" -> s"""
        WITH t AS ($shingles), $minhashPairsCte
        SELECT p.doc_a, p.doc_b,
               round(len(list_filter(range(1, 17),
                 i -> sa.sig[i] = sb.sig[i])) / 16.0, 6) AS est_jaccard
        FROM mh_pairs p
        JOIN sig sa ON sa.doc_id = p.doc_a
        JOIN sig sb ON sb.doc_id = p.doc_b
      """,

      // top-20 2-grams: same 0-based gram grid (1-based DuckDB slices),
      // ties at the boundary broken by gram text in both engines
      "q_top_ngrams" -> s"""
        SELECT gram, COUNT(*) AS n
        FROM (SELECT unnest(list_transform(range(0, len(toks) - 1),
                i -> array_to_string(list_slice(toks, i + 1, i + 2), ' ')))
                AS gram
              FROM ($toks) WHERE len(toks) >= 2)
        GROUP BY 1 ORDER BY n DESC, gram ASC LIMIT 20
      """,

      // content-hash split: same 60-bit hash, same permille bands
      "q_split" -> s"""
        SELECT doc_id,
               CASE WHEN b < 50 THEN 'test'
                    WHEN b < 100 THEN 'val'
                    ELSE 'train' END AS split
        FROM (SELECT doc_id, ${h64("text")} % 1000 AS b FROM documents)
      """,

      // export shard manifest: same seeded id-hash, same (docs desc,
      // source asc) dominance tie-break
      "q_shard_plan" -> s"""
        WITH a AS (SELECT doc_id, source,
                     CAST(${h64("CAST(doc_id AS VARCHAR) || '_v1'")} % 16
                       AS INTEGER) AS shard,
                     CAST(len(regexp_split_to_array(lower(text), '\\s+'))
                       AS BIGINT) AS toks,
                     CAST(length(text) AS BIGINT) AS chars
                   FROM documents),
        cells AS (SELECT shard, source, COUNT(*) AS src_docs,
                         SUM(toks) AS src_toks, SUM(chars) AS src_chars
                  FROM a GROUP BY 1, 2),
        ranked AS (SELECT *, row_number() OVER (PARTITION BY shard
                     ORDER BY src_docs DESC, source ASC) AS rk
                   FROM cells)
        SELECT shard,
               CAST(SUM(src_docs) AS BIGINT) AS n_docs,
               CAST(SUM(src_toks) AS BIGINT) AS n_tokens,
               CAST(SUM(src_chars) AS BIGINT) AS n_chars,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
               MAX(CASE WHEN rk = 1 THEN source END) AS top_source
        FROM ranked GROUP BY shard ORDER BY shard
      """,

      // TF-IDF: DF falls out of the TF table; ln over the same
      // long/long→double division in both engines
      "q_tfidf" -> s"""
        WITH t AS (SELECT doc_id,
                          unnest(regexp_split_to_array(lower(text), '\\s+')) AS keyword
                   FROM documents),
        tf AS (SELECT doc_id, keyword, COUNT(*) AS tf FROM t GROUP BY 1, 2),
        df AS (SELECT keyword, COUNT(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT COUNT(*) AS n FROM documents),
        s AS (SELECT tf.doc_id, tf.keyword, tf.tf,
                     round(tf.tf * ln((SELECT n FROM n) / CAST(df.df AS DOUBLE)), 6)
                       AS score
              FROM tf JOIN df USING (keyword))
        SELECT doc_id, keyword, tf, score, CAST(rk AS INTEGER) AS rk
        FROM (SELECT s.*, row_number() OVER (PARTITION BY doc_id
                ORDER BY score DESC, keyword ASC) AS rk FROM s)
        WHERE rk <= 5
      """,

      // BM25 (Lucene idf variant, k1=1.2 b=0.75): tf restricted to the
      // query terms, BIGINT dl sums divided as double, score rounded to
      // 6dp BEFORE ranking in both engines so the top-k boundary agrees
      "q_bm25" -> s"""
        WITH t AS (SELECT doc_id,
                          unnest(regexp_split_to_array(lower(text), '\\s+'))
                            AS term
                   FROM documents),
        dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
               FROM t GROUP BY 1),
        tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
               FROM t WHERE term IN ('spark', 'window', 'merge')
               GROUP BY 1, 2),
        df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        st AS (SELECT CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) AS n,
                      CAST((SELECT SUM(dl) FROM dl) AS DOUBLE) /
                        CAST((SELECT COUNT(*) FROM dl) AS DOUBLE) AS avgdl)
        SELECT doc_id,
               round(SUM(ln(CAST(1.0 AS DOUBLE)
                            + (n - df + CAST(0.5 AS DOUBLE))
                              / (df + CAST(0.5 AS DOUBLE)))
                         * (tf * CAST(2.2 AS DOUBLE))
                           / (tf + CAST(1.2 AS DOUBLE)
                                   * (CAST(0.25 AS DOUBLE)
                                      + CAST(0.75 AS DOUBLE) * dl / avgdl))),
                     6) AS score
        FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN st
        GROUP BY doc_id
        ORDER BY score DESC, doc_id ASC LIMIT 10
      """,

      // RRF hybrid: the q_bm25 body re-ranked + the q_knn body for query
      // 0, full-outer fused at 1/(60+rank) — per-row arithmetic over two
      // doubles, engine-exact at 6dp
      "q_rrf_hybrid" -> s"""
        WITH t AS (SELECT doc_id,
                          unnest(regexp_split_to_array(lower(text), '\\s+'))
                            AS term
                   FROM documents),
        dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
               FROM t GROUP BY 1),
        tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
               FROM t WHERE term IN ('spark', 'window', 'merge')
               GROUP BY 1, 2),
        dfr AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        st AS (SELECT CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) AS n,
                      CAST((SELECT SUM(dl) FROM dl) AS DOUBLE) /
                        CAST((SELECT COUNT(*) FROM dl) AS DOUBLE) AS avgdl),
        bm AS (SELECT doc_id,
                 round(SUM(ln(CAST(1.0 AS DOUBLE)
                              + (n - df + CAST(0.5 AS DOUBLE))
                                / (df + CAST(0.5 AS DOUBLE)))
                           * (tf * CAST(2.2 AS DOUBLE))
                             / (tf + CAST(1.2 AS DOUBLE)
                                     * (CAST(0.25 AS DOUBLE)
                                        + CAST(0.75 AS DOUBLE) * dl / avgdl))),
                       6) AS score
               FROM tf JOIN dl USING (doc_id) JOIN dfr USING (term)
                 CROSS JOIN st
               GROUP BY doc_id
               ORDER BY score DESC, doc_id ASC LIMIT 10),
        lex AS (SELECT doc_id AS id, CAST(row_number() OVER (
                  ORDER BY score DESC, doc_id ASC) AS INTEGER) AS lex_rnk
                FROM bm),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        kn AS (SELECT e.vec_id AS id, ${cosSql("qv", "v")} AS score
               FROM e, q WHERE e.vec_id <> 0
               ORDER BY score DESC, id ASC LIMIT 10),
        vec AS (SELECT id, CAST(row_number() OVER (
                  ORDER BY score DESC, id ASC) AS INTEGER) AS vec_rnk
                FROM kn)
        SELECT id, lex_rnk, vec_rnk,
               round(COALESCE(1.0 / (60 + lex_rnk), 0.0)
                     + COALESCE(1.0 / (60 + vec_rnk), 0.0), 6) AS rrf_score
        FROM lex FULL OUTER JOIN vec USING (id)
        ORDER BY rrf_score DESC, id ASC LIMIT 10
      """,

      // MMR rerank: the greedy loop IS SQL-expressible over the bounded
      // top-50 candidate set — unroll the k=10 steps as chained CTEs
      // (selected set `ch{i}` grows one row per step; each step argmaxes
      // λ·rel − (1−λ)·max-sim-to-selected with the same (score desc,
      // vec_id asc) tie-break as Similarity.mmrRerank). MATERIALIZED is
      // load-bearing twice over: it stops DuckDB re-inlining the chain
      // (exponential re-evaluation) and caps parquet re-opens at one.
      "q_mmr_rerank" -> {
        val steps = (2 to 10).map { i =>
          s"""s$i AS MATERIALIZED (SELECT c.vec_id, c.rel,
                   0.7 * c.rel - 0.3 * (SELECT max(p.sim)
                                        FROM ps p, ch${i - 1} ch
                                        WHERE p.a_id = c.vec_id
                                          AND p.b_id = ch.id) AS score
                 FROM cand c
                 WHERE c.vec_id NOT IN (SELECT id FROM ch${i - 1})
                 ORDER BY score DESC, c.vec_id ASC LIMIT 1),
        ch$i AS MATERIALIZED (SELECT id FROM ch${i - 1}
                              UNION ALL SELECT vec_id FROM s$i)"""
        }.mkString(",\n        ")
        val finals = (1 to 10).map { i =>
          s"""SELECT CAST($i AS INTEGER) AS rank, vec_id AS selected_id,
                     round(score, 6) AS mmr_score FROM s$i"""
        }.mkString("\n        UNION ALL ")
        s"""
        WITH e AS MATERIALIZED (SELECT vec_id,
                 CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        q AS MATERIALIZED (SELECT v AS qv FROM e WHERE vec_id = 0),
        cand AS MATERIALIZED (SELECT e.vec_id, e.v,
                 ${cosSql("qv", "v")} AS rel
                 FROM e, q WHERE e.vec_id <> 0
                 ORDER BY rel DESC, vec_id ASC LIMIT 50),
        ps AS MATERIALIZED (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                 ${cosSql("a.v", "b.v")} AS sim
               FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
        s1 AS MATERIALIZED (SELECT vec_id, rel, 0.7 * rel AS score FROM cand
               ORDER BY rel DESC, vec_id ASC LIMIT 1),
        ch1 AS MATERIALIZED (SELECT vec_id AS id FROM s1),
        $steps
        $finals
      """
      },

      // KWIC snippets: first-hit position via a conditional index
      // transform (list_min skips NULLs in both engines); 1-based DuckDB
      // slice mirrors Spark's (start, LENGTH) slice
      "q_snippets" -> s"""
        WITH t AS ($toks),
        p AS (SELECT doc_id, toks,
                     CAST(list_min(list_transform(range(0, len(toks)),
                            i -> CASE WHEN toks[i+1] IN ('spark', 'merge')
                                      THEN i END)) AS INTEGER) AS pos
              FROM t)
        SELECT doc_id, toks[pos + 1] AS hit_term, pos,
               array_to_string(list_slice(toks,
                 greatest(0, pos - 3) + 1,
                 least(len(toks) - 1, pos + 3) + 1), ' ') AS snippet
        FROM p WHERE pos IS NOT NULL
      """,

      // token-budget plan: closed-form water-filling on the per-source
      // histogram; binding level = FIRST violated row (arg_min by rn)
      "q_budget_plan" -> s"""
        WITH t AS (SELECT source,
                          CAST(SUM(len(regexp_split_to_array(lower(text),
                            '\\s+'))) AS BIGINT) AS tokens
                   FROM documents GROUP BY 1),
        b AS (SELECT CAST((SUM(tokens) * 9) // 10 AS BIGINT) AS budget FROM t),
        lv AS (SELECT source, tokens,
                      CAST(row_number() OVER
                        (ORDER BY tokens ASC, source ASC) AS BIGINT) AS rn,
                      CAST(COALESCE(SUM(tokens) OVER
                        (ORDER BY tokens ASC, source ASC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS BIGINT) AS prefix,
                      CAST(COUNT(*) OVER () AS BIGINT) AS n_src
               FROM t),
        lv2 AS (SELECT *, CAST((SELECT budget FROM b) - prefix AS DOUBLE)
                          / (n_src - rn + 1) AS level
                FROM lv),
        bind AS (SELECT arg_min(level, rn) AS l FROM lv2 WHERE level < tokens)
        SELECT source, tokens,
               CAST(CASE WHEN (SELECT l FROM bind) IS NULL
                              OR tokens <= (SELECT l FROM bind) THEN 1000
                         ELSE floor(CAST(1000.0 AS DOUBLE)
                                    * (SELECT l FROM bind) / tokens)
                    END AS INTEGER) AS keep_permille
        FROM lv2
      """,

      // Zipf fit on the top-1000 token head: same (freq desc, tok asc)
      // rank, ln/ln OLS slope + intercept + Pearson r²
      "q_zipf_fit" -> s"""
        WITH freq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
                      FROM (SELECT unnest(toks) AS tok FROM ($toks))
                      GROUP BY 1 ORDER BY freq DESC, tok ASC LIMIT 1000),
        ranked AS (SELECT freq,
                          row_number() OVER (ORDER BY freq DESC, tok ASC)
                            AS rank
                   FROM freq)
        SELECT round(regr_slope(ln(CAST(freq AS DOUBLE)),
                                ln(CAST(rank AS DOUBLE))), 6) AS slope,
               round(regr_intercept(ln(CAST(freq AS DOUBLE)),
                                    ln(CAST(rank AS DOUBLE))), 6) AS intercept,
               round(pow(corr(ln(CAST(freq AS DOUBLE)),
                              ln(CAST(rank AS DOUBLE))), 2), 6) AS r2,
               CAST(COUNT(*) AS BIGINT) AS n_tokens
        FROM ranked
      """,

      "q_simhash" -> simhashSql,

      "q_simhash_neardup" -> s"""
        WITH sh AS ($simhashSql),
        bands AS (SELECT doc_id, simhash, b AS band_id,
                         CAST((simhash >> (b * 8)) & 255 AS INTEGER) AS band_byte
                  FROM sh, (SELECT unnest(range(0, 4)) AS b))
        SELECT * FROM (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 bit_count(xor(a.simhash, b.simhash)) AS hamming
          FROM bands a JOIN bands b
            ON a.band_id = b.band_id AND a.band_byte = b.band_byte
            AND a.doc_id < b.doc_id)
        WHERE hamming <= 3
      """,

      // 64-bit twin of q_simhash_neardup: two independent 60-bit md5 halves
      // give bits 0-31 (low) / 32-63 (high); the per-bit powers run in
      // HUGEINT (DuckDB BIGINT << 63 would overflow) and wrap back to the
      // signed 64-bit value Spark's Long arithmetic produces, then the same
      // shift/mask banding at 16 bits per band and bit_count(xor) verify.
      "q_simhash_neardup_wide" -> s"""
        WITH hs_t AS (
          SELECT doc_id, list_transform(
            regexp_split_to_array(lower(text), '\\s+'),
            w -> [${Hashing.hash64DuckDb("w")},
                  ${Hashing.hash64HiDuckDb("w")}]) AS hs
          FROM documents),
        us AS (
          SELECT doc_id, list_sum(list_transform(range(0, 64), j -> CASE
              WHEN list_sum(list_transform(hs, h -> CASE
                     WHEN ((CASE WHEN j < 32 THEN h[1] ELSE h[2] END)
                           >> (CASE WHEN j < 32 THEN j ELSE j - 32 END)) & 1 = 1
                     THEN 1 ELSE -1 END)) > 0
              THEN CAST(1 AS HUGEINT) << j ELSE CAST(0 AS HUGEINT) END)) AS u
          FROM hs_t),
        sh AS (
          SELECT doc_id, CAST(CASE WHEN u >= CAST(power(2, 63) AS HUGEINT)
                   THEN u - (CAST(1 AS HUGEINT) << 64) ELSE u END AS BIGINT)
                 AS simhash
          FROM us),
        bands AS (SELECT doc_id, simhash, b AS band_id,
                         CAST((simhash >> (b * 16)) & 65535 AS INTEGER) AS band_byte
                  FROM sh, (SELECT unnest(range(0, 4)) AS b))
        SELECT * FROM (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 bit_count(xor(a.simhash, b.simhash)) AS hamming
          FROM bands a JOIN bands b
            ON a.band_id = b.band_id AND a.band_byte = b.band_byte
            AND a.doc_id < b.doc_id)
        WHERE hamming <= 3
      """,

      "q_decontaminate" -> s"""
        WITH t AS ($shingles),
        e AS (SELECT DISTINCT doc_id, ${h64("s_raw")} AS s
              FROM (SELECT doc_id, unnest(sh) AS s_raw FROM t)),
        ev AS (SELECT DISTINCT s FROM e WHERE doc_id % 29 = 0),
        ov AS (SELECT e.doc_id, count(*) AS n_overlap
               FROM e JOIN ev ON e.s = ev.s GROUP BY e.doc_id)
        SELECT d.doc_id, COALESCE(ov.n_overlap, 0) AS n_overlap,
               CAST(COALESCE(ov.n_overlap, 0) > 0 AS INTEGER) AS contaminated
        FROM documents d LEFT JOIN ov ON d.doc_id = ov.doc_id
      """,

      // in-scan twin: same semantics, same oracle — the engine-side
      // strategy differs (codegen'd probe vs semi-join), the answer must not
      "q_decontam_scan" -> s"""
        WITH t AS ($shingles),
        e AS (SELECT DISTINCT doc_id, ${h64("s_raw")} AS s
              FROM (SELECT doc_id, unnest(sh) AS s_raw FROM t)),
        ev AS (SELECT DISTINCT s FROM e WHERE doc_id % 29 = 0),
        ov AS (SELECT e.doc_id, count(*) AS n_overlap
               FROM e JOIN ev ON e.s = ev.s GROUP BY e.doc_id)
        SELECT d.doc_id, COALESCE(ov.n_overlap, 0) AS n_overlap,
               CAST(COALESCE(ov.n_overlap, 0) > 0 AS INTEGER) AS contaminated
        FROM documents d LEFT JOIN ov ON d.doc_id = ov.doc_id
      """,

      // count-min sketch: DuckDB rebuilds the exact d×w counter layout
      // from the same md5/KM hash fragments, then answers the same point
      // queries — counter sums commute, so the layouts are bit-identical
      "q_cms_counts" -> s"""
        WITH t AS (SELECT unnest(regexp_split_to_array(lower(text), '\\s+'))
                     AS tok
                   FROM documents),
        h AS (SELECT ${h64("tok")} AS h1,
                     ${graft.functions.Hashing.hash64HiDuckDb("tok")} AS h2
              FROM t),
        b AS (SELECT r.i,
                     (h1 + r.i * (h2 & ${graft.functions.Hashing.maskKM}))
                       % 1024 AS bucket
              FROM h CROSS JOIN range(0, 4) r(i)),
        c AS (SELECT i, bucket, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
        q AS (SELECT tok FROM (VALUES ('join'), ('hash'), ('filter'),
                                      ('window'), ('zzzz_absent')) v(tok)),
        qb AS (SELECT tok, r.i,
                      (${h64("tok")}
                       + r.i * (${graft.functions.Hashing.hash64HiDuckDb("tok")}
                                & ${graft.functions.Hashing.maskKM}))
                        % 1024 AS bucket
               FROM q CROSS JOIN range(0, 4) r(i))
        SELECT qb.tok AS token, CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT)
                 AS est_count
        FROM qb LEFT JOIN c ON c.i = qb.i AND c.bucket = qb.bucket
        GROUP BY 1
      """,

      // batch heavy hitters: exact top-k (ties → key asc) + CMS estimates
      // over the same counter layout as q_cms_counts
      "q_heavy_hitters" -> s"""
        WITH keys AS (SELECT CAST(user_id AS VARCHAR) AS key FROM events
                      WHERE user_id IS NOT NULL),
        h AS (SELECT ${h64("key")} AS h1,
                     ${graft.functions.Hashing.hash64HiDuckDb("key")} AS h2
              FROM keys),
        b AS (SELECT r.i,
                     (h1 + r.i * (h2 & ${graft.functions.Hashing.maskKM}))
                       % 1024 AS bucket
              FROM h CROSS JOIN range(0, 4) r(i)),
        c AS (SELECT i, bucket, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
        topk AS (SELECT key, COUNT(*) AS n_exact FROM keys GROUP BY 1
                 ORDER BY n_exact DESC, key ASC LIMIT 10),
        qb AS (SELECT key, n_exact, r.i,
                      (${h64("key")}
                       + r.i * (${graft.functions.Hashing.hash64HiDuckDb("key")}
                                & ${graft.functions.Hashing.maskKM}))
                        % 1024 AS bucket
               FROM topk CROSS JOIN range(0, 4) r(i))
        SELECT qb.key, qb.n_exact,
               CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS est_count
        FROM qb LEFT JOIN c ON c.i = qb.i AND c.bucket = qb.bucket
        GROUP BY 1, 2
      """,

      // graded decontamination: one LEFT join keeps every corpus shingle,
      // so the denominator and numerator come from the same rollup
      "q_contamination_frac" -> s"""
        WITH t AS ($shingles),
        e AS (SELECT DISTINCT doc_id, ${h64("s_raw")} AS s
              FROM (SELECT doc_id, unnest(sh) AS s_raw FROM t)),
        ev AS (SELECT DISTINCT s FROM e WHERE doc_id % 29 = 0),
        st AS (SELECT e.doc_id, count(*) AS n_shingles,
                      count(ev.s) AS n_overlap
               FROM e LEFT JOIN ev ON e.s = ev.s GROUP BY e.doc_id)
        SELECT d.doc_id,
               COALESCE(st.n_shingles, 0) AS n_shingles,
               COALESCE(st.n_overlap, 0) AS n_overlap,
               round(CAST(COALESCE(st.n_overlap, 0) AS DOUBLE)
                     / GREATEST(COALESCE(st.n_shingles, 0), 1), 6)
                 AS overlap_frac
        FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
      """,

      // graded in-scan twin: same SQL — the strategy must not change the
      // answer
      "q_contam_frac_scan" -> s"""
        WITH t AS ($shingles),
        e AS (SELECT DISTINCT doc_id, ${h64("s_raw")} AS s
              FROM (SELECT doc_id, unnest(sh) AS s_raw FROM t)),
        ev AS (SELECT DISTINCT s FROM e WHERE doc_id % 29 = 0),
        st AS (SELECT e.doc_id, count(*) AS n_shingles,
                      count(ev.s) AS n_overlap
               FROM e LEFT JOIN ev ON e.s = ev.s GROUP BY e.doc_id)
        SELECT d.doc_id,
               COALESCE(st.n_shingles, 0) AS n_shingles,
               COALESCE(st.n_overlap, 0) AS n_overlap,
               round(CAST(COALESCE(st.n_overlap, 0) AS DOUBLE)
                     / GREATEST(COALESCE(st.n_shingles, 0), 1), 6)
                 AS overlap_frac
        FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
      """,

      "q_ngram_jaccard" -> s"""
        WITH t AS ($shingles),
        e AS (SELECT DISTINCT doc_id, ${h64("s_raw")} AS s
              FROM (SELECT doc_id, unnest(sh) AS s_raw FROM t)),
        ef AS (SELECT doc_id, sz, s FROM (
                 SELECT doc_id, s,
                        count(*) OVER (PARTITION BY doc_id) AS sz,
                        count(*) OVER (PARTITION BY s) AS df
                 FROM e)
               WHERE df <= ${Dedup.maxShingleDf}),
        p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     a.sz AS sza, b.sz AS szb, count(*) AS inter
              FROM ef a JOIN ef b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2, 3, 4)
        SELECT doc_a, doc_b, jaccard
        FROM (SELECT doc_a, doc_b,
                     round(inter * 1.0 / (sza + szb - inter), 6) AS jaccard
              FROM p)
        WHERE jaccard > 0.2
      """,

      // edit-distance near-dup: the oracle is the NAIVE form — every
      // prefix pair through DuckDB's levenshtein — so equality proves the
      // engine's q-gram count filter dropped no true pair (the lemma's
      // no-false-negative guarantee, checked exhaustively at sf0.01)
      "q_editdist_pairs" -> """
        WITH s AS (
          SELECT doc_id, substring(text, 1, 40) AS s
          FROM documents WHERE length(text) >= 40
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(levenshtein(a.s, b.s) AS INTEGER) AS dist
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE levenshtein(a.s, b.s) <= 2
      """,

      // the same naive pair set closed under recursive reachability —
      // one min-id label per document (q_semdedup's closure, re-keyed)
      "q_editdist_canonical" -> """
        WITH RECURSIVE
        s AS (
          SELECT doc_id, substring(text, 1, 40) AS s
          FROM documents WHERE length(text) >= 40
        ),
        p AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM s a JOIN s b ON a.doc_id < b.doc_id
          WHERE levenshtein(a.s, b.s) <= 2
        ),
        edges AS (SELECT doc_a AS doc_id, doc_b AS nbr FROM p
                  UNION ALL
                  SELECT doc_b AS doc_id, doc_a AS nbr FROM p),
        reach(doc_id, r) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT g.doc_id, reach.r FROM edges g JOIN reach ON g.nbr = reach.doc_id)
        SELECT doc_id, min(r) AS canonical_id FROM reach GROUP BY doc_id
      """,

      // sliding-window exact-substring dedup: duplicated 8-token gram
      // positions (first corpus occurrence by (doc_id, i) exempt) merged
      // into maximal spans via gaps-and-islands on the running max end.
      // DuckDB groups grams by TEXT where the engine groups by the 120-bit
      // md5 pair — identical short of an md5 collision.
      "q_substr_spans" -> s"""
        WITH $substrIslands
        SELECT doc_id, CAST(min(i) AS INTEGER) AS span_start,
               CAST(max(i) + 8 - min(i) AS INTEGER) AS span_tokens,
               count(*) AS n_grams
        FROM isl GROUP BY doc_id, island
      """,

      "q_substr_stats" -> s"""
        WITH $substrIslands,
        sp AS (SELECT doc_id, min(i) AS s, max(i) + 8 AS e
               FROM isl GROUP BY doc_id, island),
        sa AS (SELECT count(DISTINCT doc_id) AS docs_with_spans,
                      count(*) AS n_spans,
                      COALESCE(CAST(sum(e - s) AS BIGINT), 0) AS dup_tokens
               FROM sp),
        da AS (SELECT count(*) AS n_docs,
                      CAST(sum(len(t)) AS BIGINT) AS total_tokens FROM tk)
        SELECT n_docs, docs_with_spans, n_spans, dup_tokens, total_tokens,
               round(dup_tokens * 1.0 / total_tokens, 6) AS dup_token_frac
        FROM da, sa
      """,

      // incremental twin: reference occurrences (doc_id % 4 <> 1) rank
      // before every new one via the tier column; only new-tier positions
      // are ever flagged
      "q_substr_incremental" -> s"""
        WITH tk AS (SELECT doc_id, toks AS t,
                           CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END AS tier
                    FROM ($toks)),
        pos AS (SELECT doc_id, tier, CAST(i AS BIGINT) AS i,
                       array_to_string(t[i + 1 : i + 8], ' ') AS g
                FROM tk, unnest(range(0, len(t) - 7)) AS u(i)
                WHERE len(t) >= 8),
        dg AS (SELECT doc_id, tier, i,
                      count(*) OVER (PARTITION BY g) AS occ,
                      row_number() OVER (PARTITION BY g
                        ORDER BY tier, doc_id, i) AS rn
               FROM pos),
        dup AS (SELECT doc_id, i FROM dg
                WHERE tier = 1 AND occ >= 2 AND rn >= 2),
        mrg AS (SELECT doc_id, i,
                       max(i + 8) OVER (PARTITION BY doc_id ORDER BY i
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                         AS prev_end
                FROM dup),
        isl AS (SELECT doc_id, i,
                       sum(CASE WHEN prev_end IS NULL OR i > prev_end
                                THEN 1 ELSE 0 END)
                         OVER (PARTITION BY doc_id ORDER BY i) AS island
                FROM mrg)
        SELECT doc_id, CAST(min(i) AS INTEGER) AS span_start,
               CAST(max(i) + 8 - min(i) AS INTEGER) AS span_tokens,
               count(*) AS n_grams
        FROM isl GROUP BY doc_id, island
      """,

      "q_substr_trim" -> s"""
        WITH $substrIslands,
        spans AS (
          SELECT doc_id, min(i) AS s, max(i) + 8 AS e
          FROM isl GROUP BY doc_id, island),
        tokpos AS (
          SELECT doc_id, CAST(j AS BIGINT) AS j, t[j + 1] AS tok
          FROM tk, unnest(range(0, len(t))) AS u(j)),
        kept AS (
          SELECT p.doc_id, p.j, p.tok FROM tokpos p
          WHERE NOT EXISTS (SELECT 1 FROM spans s
                            WHERE s.doc_id = p.doc_id
                              AND p.j >= s.s AND p.j < s.e))
        SELECT tk.doc_id,
               CAST(len(tk.t) AS INTEGER) AS n_tokens,
               COALESCE((SELECT CAST(sum(e - s) AS BIGINT) FROM spans s
                         WHERE s.doc_id = tk.doc_id), 0) AS n_removed,
               COALESCE((SELECT string_agg(tok, ' ' ORDER BY j) FROM kept
                         WHERE kept.doc_id = tk.doc_id), '') AS text_clean
        FROM tk
      """,

      "q_media_decode" -> """
        SELECT doc_id AS media_id,
               CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                    ELSE 'video' END AS kind,
               CAST(length(text) AS INTEGER) AS byte_len,
               md5(text) AS content_hash,
               CAST(64 + doc_id % 1024 AS INTEGER) AS width,
               CAST(64 + length(text) % 768 AS INTEGER) AS height
        FROM documents
      """,

      "q_media_features" -> """
        SELECT doc_id AS media_id, CAST(j AS INTEGER) AS j,
               CAST(('0x' || substring(md5(text), j*2+1, 2)) AS INTEGER)
                 / 255.0 AS feature
        FROM documents, (SELECT unnest(range(0, 8)) AS j)
      """,

      "q_media_frames" -> """
        SELECT doc_id AS media_id, CAST(i AS INTEGER) AS frame_no,
               md5(md5(text) || ':' || CAST(i AS VARCHAR)) AS frame_hash
        FROM (SELECT doc_id, text,
                     unnest(range(0, least((length(text) * 40) // 1000, 5))) AS i
              FROM documents WHERE doc_id % 3 = 2)
      """,

      "q_media_resize" -> """
        SELECT doc_id AS media_id, 'image' AS kind,
               CAST(length(text) AS INTEGER) AS byte_len,
               md5(md5(text) || ':128x128') AS content_hash,
               128 AS width, 128 AS height
        FROM documents WHERE doc_id % 3 = 0
      """,

      "q_media_audio" -> """
        SELECT doc_id AS media_id,
               CAST(16000 AS INTEGER) AS sample_rate,
               CAST(1 AS INTEGER) AS channels,
               CAST(length(text) AS BIGINT) AS frames,
               CAST(length(text) * 40 AS BIGINT) AS duration_ms,
               least(a, b) AS rms, greatest(a, b) AS peak
        FROM (SELECT doc_id, text,
                CAST(('0x' || substring(md5(text), 1, 2)) AS INTEGER) / 255.0 AS a,
                CAST(('0x' || substring(md5(text), 3, 2)) AS INTEGER) / 255.0 AS b
              FROM documents WHERE doc_id % 3 = 1)
      """,

      "q_clean_corpus" -> s"""
        WITH RECURSIVE q AS (SELECT doc_id, text FROM (
                     SELECT doc_id, text,
                            len(regexp_split_to_array(lower(text), '\\s+')) AS n_tokens,
                            round(CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
                                  / length(text), 6) AS punct_ratio
                     FROM documents)
                   WHERE n_tokens >= 5 AND punct_ratio <= 0.3),
        ec AS (SELECT doc_id, text FROM (
                 SELECT doc_id, text,
                        min(doc_id) OVER (PARTITION BY
                          md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')))
                          AS exact_canon
                 FROM q)
               WHERE doc_id = exact_canon),
        t AS (${shinglesFrom("ec")}), $minhashPairsCte,
        edges AS (SELECT doc_a AS doc_id, doc_b AS nbr FROM mh_pairs
                  UNION ALL
                  SELECT doc_b AS doc_id, doc_a AS nbr FROM mh_pairs),
        reach(doc_id, r) AS (
          SELECT doc_id, doc_id FROM ec
          UNION
          SELECT e.doc_id, reach.r FROM edges e JOIN reach ON e.nbr = reach.doc_id),
        canon AS (SELECT doc_id, min(r) AS canonical_id FROM reach
                  GROUP BY doc_id)
        SELECT q.doc_id,
               regexp_replace(
                 regexp_replace(q.text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                   '<EMAIL>', 'g'),
                 '\\+?\\d[\\d ()-]{6,}\\d', '<NUMBER>', 'g') AS redacted
        FROM q JOIN (SELECT doc_id FROM canon WHERE doc_id = canonical_id) c
          ON q.doc_id = c.doc_id
      """,

      "q_knn" -> s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
        s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                     ${cosSql("qv", "v")} AS score
              FROM q JOIN e ON e.vec_id <> q.query_id)
        SELECT query_id, neighbor_id, round(score, 6) AS score,
               CAST(rn AS INTEGER) AS rank
        FROM (SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rn
              FROM s)
        WHERE rn <= 5
      """,

      // same contract as q_knn — the aggregate path must be plan-equivalent
      "q_knn_agg" -> s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
        s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                     ${cosSql("qv", "v")} AS score
              FROM q JOIN e ON e.vec_id <> q.query_id)
        SELECT query_id, neighbor_id, round(score, 6) AS score,
               CAST(rn AS INTEGER) AS rank
        FROM (SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rn
              FROM s)
        WHERE rn <= 5
      """,

      "q_neardup_embed" -> s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                     ${cosSql("a.v", "b.v")} AS score
              FROM e a JOIN e b ON a.vec_id < b.vec_id)
        SELECT vec_a, vec_b, round(score, 6) AS score FROM p WHERE score > 0.4
      """,

      "q_neardup_lsh" -> s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        bk AS (SELECT vec_id, v, $bucketSql AS bucket FROM e),
        p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                     ${cosSql("a.v", "b.v")} AS score
              FROM bk a JOIN bk b
                ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
        SELECT vec_a, vec_b, round(score, 6) AS score FROM p WHERE score > 0.4
      """,

      "q_neardup_lsh_multi" -> s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        bk AS (${(0 until 4).map(t =>
          s"SELECT vec_id, v, $t AS table_id, ${bucketSqlFor(42L + t)} AS bucket FROM e")
          .mkString("\n          UNION ALL\n          ")}),
        p AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
              FROM bk a JOIN bk b
                ON a.table_id = b.table_id AND a.bucket = b.bucket
                AND a.vec_id < b.vec_id),
        s AS (SELECT p.vec_a, p.vec_b, ${cosSql("ea.v", "eb.v")} AS score
              FROM p JOIN e ea ON p.vec_a = ea.vec_id
                     JOIN e eb ON p.vec_b = eb.vec_id)
        SELECT vec_a, vec_b, round(score, 6) AS score FROM s WHERE score > 0.4
      """,

      // SemDeDup-style: same IVF cell assignment as q_ann_ivf, pairs only
      // within a cell
      "q_neardup_ivf" -> s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cents AS (SELECT list(v ORDER BY vec_id) AS cs FROM e WHERE vec_id < 16),
        celled AS (SELECT vec_id, v,
                     list_indexof(scores, list_max(scores)) - 1 AS cell
                   FROM (SELECT vec_id, v,
                           list_transform((SELECT cs FROM cents),
                             c -> list_reduce(list_transform(range(1, 65),
                                    i -> c[i] * v[i]), (x, y) -> x + y)) AS scores
                         FROM e)),
        p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                     ${cosSql("a.v", "b.v")} AS score
              FROM celled a JOIN celled b
                ON a.cell = b.cell AND a.vec_id < b.vec_id)
        SELECT vec_a, vec_b, round(score, 6) AS score FROM p WHERE score > 0.4
      """,

      // SemDeDup end to end: q_neardup_ivf's pair CTE closed under the
      // same recursive reachability as q_dedup_canonical — one min-id
      // label per vector
      "q_semdedup" -> s"""
        WITH RECURSIVE
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cents AS (SELECT list(v ORDER BY vec_id) AS cs FROM e WHERE vec_id < 16),
        celled AS (SELECT vec_id, v,
                     list_indexof(scores, list_max(scores)) - 1 AS cell
                   FROM (SELECT vec_id, v,
                           list_transform((SELECT cs FROM cents),
                             c -> list_reduce(list_transform(range(1, 65),
                                    i -> c[i] * v[i]), (x, y) -> x + y)) AS scores
                         FROM e)),
        p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
              FROM celled a JOIN celled b
                ON a.cell = b.cell AND a.vec_id < b.vec_id
              WHERE ${cosSql("a.v", "b.v")} > 0.4),
        edges AS (SELECT vec_a AS vec_id, vec_b AS nbr FROM p
                  UNION ALL
                  SELECT vec_b AS vec_id, vec_a AS nbr FROM p),
        reach(vec_id, r) AS (
          SELECT vec_id, vec_id FROM embeddings
          UNION
          SELECT g.vec_id, reach.r FROM edges g JOIN reach ON g.nbr = reach.vec_id)
        SELECT vec_id, min(r) AS canonical_id FROM reach GROUP BY vec_id
      """,

      // PQ-ADC: per-(vector, subspace) L2 code assignment mirrors
      // PqEncode's loops index-for-index (subspace s of centroid c = seed
      // vector c's elements s*16+1 … s*16+16); ADC folds per-subspace
      // partials in s order (list(sub ORDER BY s) → sequential reduce),
      // the same association order as the expression's fold-of-folds
      "q_ann_pq" -> s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cb AS (SELECT list(v ORDER BY vec_id) AS cs FROM e WHERE vec_id < 16),
        sub AS (SELECT vec_id, unnest(range(0, 4)) AS s, v FROM e),
        dists AS (SELECT vec_id, s,
                    list_transform(cb.cs, c ->
                      list_reduce(list_transform(range(1, 17), d ->
                        (c[s*16+d] - v[s*16+d]) * (c[s*16+d] - v[s*16+d])),
                        (x, y) -> x + y)) AS ds
                  FROM sub, cb),
        codes AS (SELECT vec_id, s,
                    list_indexof(ds, list_min(ds)) - 1 AS code
                  FROM dists),
        adc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.s,
                       list_reduce(list_transform(range(1, 17), d ->
                         (cb.cs[c.code + 1][c.s*16+d] - q.v[c.s*16+d])
                         * (cb.cs[c.code + 1][c.s*16+d] - q.v[c.s*16+d])),
                         (x, y) -> x + y) AS sub
                FROM codes c, e q, cb
                WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
        tot AS (SELECT query_id, neighbor_id,
                       list_reduce(list(sub ORDER BY s), (x, y) -> x + y)
                         AS adist
                FROM adc GROUP BY 1, 2)
        SELECT query_id, neighbor_id, round(adist, 6) AS adist,
               CAST(rk AS INTEGER) AS rank
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY adist ASC, neighbor_id ASC) AS rk FROM tot)
        WHERE rk <= 3
      """,

      // SQ8: floor(v·127/scale) per dimension (IEEE double product, then
      // floor — engine-exact), symmetric integer dot (every term ≤ 127²,
      // so the double list_dot stays integer-exact and casts back to the
      // expression's long bit for bit)
      "q_ann_sq8" -> s"""
        WITH s AS (SELECT max(abs(CAST(x AS DOUBLE))) AS scale
                   FROM embeddings, unnest(embedding) AS t(x)),
        enc AS (SELECT vec_id,
                  list_transform(CAST(embedding AS DOUBLE[]),
                    v -> CAST(floor(v * 127.0 / scale) AS BIGINT)) AS codes
                FROM embeddings, s),
        q AS (SELECT vec_id AS query_id, codes AS qcodes
              FROM enc WHERE vec_id < 10),
        sc AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                      CAST(list_reduce(list_transform(range(1, 65),
                        i -> q.qcodes[i] * e.codes[i]), (x, y) -> x + y)
                        AS BIGINT) AS score
               FROM q JOIN enc e ON e.vec_id <> q.query_id)
        SELECT query_id, neighbor_id, score, CAST(rk AS INTEGER) AS rank
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY score DESC, neighbor_id ASC) AS rk FROM sc)
        WHERE rk <= 5
      """,

      // IVF-PQ: q_ann_ivf's cell assignment prunes candidates to the
      // query's cell; q_ann_pq's encode+ADC scores them through codes
      "q_ann_ivf_pq" -> s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cb AS (SELECT list(v ORDER BY vec_id) AS cs FROM e WHERE vec_id < 16),
        celled AS (SELECT vec_id, v,
                     list_indexof(scores, list_max(scores)) - 1 AS cell
                   FROM (SELECT vec_id, v,
                           list_transform((SELECT cs FROM cb),
                             c -> list_reduce(list_transform(range(1, 65),
                                    i -> c[i] * v[i]), (x, y) -> x + y)) AS scores
                         FROM e)),
        sub AS (SELECT vec_id, unnest(range(0, 4)) AS s, v FROM e),
        dists AS (SELECT vec_id, s,
                    list_transform(cb.cs, c ->
                      list_reduce(list_transform(range(1, 17), d ->
                        (c[s*16+d] - v[s*16+d]) * (c[s*16+d] - v[s*16+d])),
                        (x, y) -> x + y)) AS ds
                  FROM sub, cb),
        codes AS (SELECT vec_id, s,
                    list_indexof(ds, list_min(ds)) - 1 AS code
                  FROM dists),
        adc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.s,
                       list_reduce(list_transform(range(1, 17), d ->
                         (cb.cs[c.code + 1][c.s*16+d] - q.v[c.s*16+d])
                         * (cb.cs[c.code + 1][c.s*16+d] - q.v[c.s*16+d])),
                         (x, y) -> x + y) AS sub
                FROM codes c, celled q, celled n, cb
                WHERE q.vec_id < 10 AND n.vec_id = c.vec_id
                  AND n.cell = q.cell AND c.vec_id <> q.vec_id),
        tot AS (SELECT query_id, neighbor_id,
                       list_reduce(list(sub ORDER BY s), (x, y) -> x + y)
                         AS adist
                FROM adc GROUP BY 1, 2)
        SELECT query_id, neighbor_id, round(adist, 6) AS adist,
               CAST(rk AS INTEGER) AS rank
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY adist ASC, neighbor_id ASC) AS rk FROM tot)
        WHERE rk <= 3
      """,

      // per-cell index health: same cell assignment as q_ann_ivf, then
      // each member scored against ITS centroid (cs[cell+1]) and rolled up
      "q_cluster_stats" -> s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cents AS (SELECT list(v ORDER BY vec_id) AS cs FROM e WHERE vec_id < 16),
        celled AS (SELECT vec_id, v,
                     list_indexof(scores, list_max(scores)) - 1 AS cell
                   FROM (SELECT vec_id, v,
                           list_transform((SELECT cs FROM cents),
                             c -> list_reduce(list_transform(range(1, 65),
                                    i -> c[i] * v[i]), (x, y) -> x + y)) AS scores
                         FROM e)),
        sc AS (SELECT cell, ${cosSql("v", "cv")} AS cos
               FROM (SELECT cell, v, (SELECT cs FROM cents)[cell + 1] AS cv
                     FROM celled))
        SELECT CAST(cell AS INTEGER) AS cell, COUNT(*) AS n_vecs,
               round(CAST(sum(CAST(round(cos, 9) AS DECIMAL(28,9))) AS DOUBLE)
                     / count(*), 6) AS mean_cos,
               round(min(cos), 6) AS min_cos,
               round(max(cos), 6) AS max_cos
        FROM sc GROUP BY cell
      """,

      "q_ann_ivf" -> s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cents AS (SELECT list(v ORDER BY vec_id) AS cs FROM e WHERE vec_id < 16),
        celled AS (SELECT vec_id, v,
                     list_indexof(scores, list_max(scores)) - 1 AS cell
                   FROM (SELECT vec_id, v,
                           list_transform((SELECT cs FROM cents),
                             c -> list_reduce(list_transform(range(1, 65),
                                    i -> c[i] * v[i]), (x, y) -> x + y)) AS scores
                         FROM e)),
        q AS (SELECT vec_id AS query_id, v AS qv, cell AS qcell
              FROM celled WHERE vec_id < 10),
        s AS (SELECT q.query_id, c.vec_id AS neighbor_id,
                     ${cosSql("qv", "v")} AS score
              FROM q JOIN celled c ON c.cell = q.qcell AND c.vec_id <> q.query_id)
        SELECT query_id, neighbor_id, round(score, 6) AS score,
               CAST(rn AS INTEGER) AS rank
        FROM (SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rn
              FROM s)
        WHERE rn <= 3
      """,

      // pre-filtered exact knn: label equality inside the scoring join
      "q_knn_filtered" -> s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
                   FROM embeddings),
        q AS (SELECT vec_id AS query_id, v AS qv, label AS qlabel
              FROM e WHERE vec_id < 10),
        s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                     ${cosSql("qv", "v")} AS score
              FROM q JOIN e ON e.vec_id <> q.query_id
                           AND e.label = q.qlabel)
        SELECT query_id, neighbor_id, round(score, 6) AS score,
               CAST(rn AS INTEGER) AS rank
        FROM (SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rn
              FROM s)
        WHERE rn <= 5
      """,

      // filtered IVF: q_ann_ivf's cell assignment + the label equality
      // riding the cell join
      "q_ann_ivf_filtered" -> s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
                   FROM embeddings),
        cents AS (SELECT list(v ORDER BY vec_id) AS cs FROM e WHERE vec_id < 16),
        celled AS (SELECT vec_id, v, label,
                     list_indexof(scores, list_max(scores)) - 1 AS cell
                   FROM (SELECT vec_id, v, label,
                           list_transform((SELECT cs FROM cents),
                             c -> list_reduce(list_transform(range(1, 65),
                                    i -> c[i] * v[i]), (x, y) -> x + y)) AS scores
                         FROM e)),
        q AS (SELECT vec_id AS query_id, v AS qv, cell AS qcell,
                     label AS qlabel
              FROM celled WHERE vec_id < 10),
        s AS (SELECT q.query_id, c.vec_id AS neighbor_id,
                     ${cosSql("qv", "v")} AS score
              FROM q JOIN celled c ON c.cell = q.qcell
                                  AND c.vec_id <> q.query_id
                                  AND c.label = q.qlabel)
        SELECT query_id, neighbor_id, round(score, 6) AS score,
               CAST(rn AS INTEGER) AS rank
        FROM (SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rn
              FROM s)
        WHERE rn <= 3
      """,

      // post-filter: unfiltered top-15 first, label filter second, re-rank
      "q_knn_postfilter" -> s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
                   FROM embeddings),
        q AS (SELECT vec_id AS query_id, v AS qv, label AS qlabel
              FROM e WHERE vec_id < 10),
        s AS (SELECT q.query_id, q.qlabel, e.vec_id AS neighbor_id,
                     e.label AS nlabel, ${cosSql("qv", "v")} AS score
              FROM q JOIN e ON e.vec_id <> q.query_id),
        topn AS (SELECT *, row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY score DESC, neighbor_id ASC) AS rn
                 FROM s),
        kept AS (SELECT query_id, neighbor_id, round(score, 6) AS score,
                        row_number() OVER (PARTITION BY query_id
                          ORDER BY rn ASC) AS fr
                 FROM topn WHERE rn <= 15 AND nlabel = qlabel)
        SELECT query_id, neighbor_id, score, CAST(fr AS INTEGER) AS rank
        FROM kept WHERE fr <= 5
      """,

      // MRR + binary nDCG@10 under same-label relevance; DCG terms summed
      // as 9dp decimals, IDCG closed-form over min(R, 10)
      "q_retrieval_eval" -> s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
                   FROM embeddings),
        lc AS (SELECT label AS qlabel, COUNT(*) AS label_n FROM e GROUP BY 1),
        q AS (SELECT vec_id AS query_id, v AS qv, label AS qlabel
              FROM e WHERE vec_id < 10),
        s AS (SELECT q.query_id, q.qlabel, e.vec_id AS neighbor_id,
                     e.label AS nlabel, ${cosSql("qv", "v")} AS score
              FROM q JOIN e ON e.vec_id <> q.query_id),
        topk AS (SELECT *, row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY score DESC, neighbor_id ASC) AS rnk
                 FROM s QUALIFY rnk <= 10),
        agg AS (SELECT query_id, qlabel,
                       min(CASE WHEN nlabel = qlabel THEN rnk END) AS first_rel,
                       CAST(SUM(CAST(round(CASE WHEN nlabel = qlabel
                           THEN 1.0 / log2(rnk + 1) ELSE 0.0 END, 9)
                         AS DECIMAL(28,9))) AS DOUBLE) AS dcg
                FROM topk GROUP BY 1, 2)
        SELECT query_id,
               CAST(COALESCE(first_rel, 0) AS INTEGER) AS first_rel_rank,
               round(COALESCE(1.0 / first_rel, 0.0), 6) AS mrr,
               round(CASE WHEN lc.label_n - 1 > 0 THEN dcg /
                   list_reduce(list_transform(
                     range(1, CAST(least(lc.label_n - 1, 10) AS INTEGER) + 1),
                     i -> 1.0 / log2(i + 1)), (x, y) -> x + y)
                 ELSE 0.0 END, 6) AS ndcg
        FROM agg JOIN lc USING (qlabel)
        ORDER BY query_id
      """,

      // multi-probe IVF: identical cell assignment, but each query probes
      // its TOP-2 cells (rank over per-cell dot scores, ties to the lower
      // cell id — the same contract as ArgTopPDot)
      "q_ann_ivf_probe2" -> s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cents AS (SELECT list(v ORDER BY vec_id) AS cs FROM e WHERE vec_id < 16),
        scored AS (SELECT vec_id, v,
                     list_transform((SELECT cs FROM cents),
                       c -> list_reduce(list_transform(range(1, 65),
                              i -> c[i] * v[i]), (x, y) -> x + y)) AS scores
                   FROM e),
        celled AS (SELECT vec_id, v,
                     list_indexof(scores, list_max(scores)) - 1 AS cell
                   FROM scored),
        qprobe AS (SELECT vec_id AS query_id, v AS qv, ci - 1 AS qcell
                   FROM (SELECT sc.vec_id, sc.v, t.ci,
                           row_number() OVER (PARTITION BY sc.vec_id
                             ORDER BY sc.scores[t.ci] DESC, t.ci ASC) AS pr
                         FROM scored sc, range(1, 17) t(ci)
                         WHERE sc.vec_id < 10)
                   WHERE pr <= 2),
        s AS (SELECT q.query_id, c.vec_id AS neighbor_id,
                     ${cosSql("q.qv", "c.v")} AS score
              FROM qprobe q JOIN celled c
                ON c.cell = q.qcell AND c.vec_id <> q.query_id)
        SELECT query_id, neighbor_id, round(score, 6) AS score,
               CAST(rn AS INTEGER) AS rank
        FROM (SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rn
              FROM s)
        WHERE rn <= 3
      """,

      "q_ann_lsh" -> s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        bk AS (SELECT vec_id, v, $bucketSql AS bucket FROM e),
        q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qbucket
              FROM bk WHERE vec_id < 10),
        s AS (SELECT q.query_id, c.vec_id AS neighbor_id,
                     ${cosSql("qv", "v")} AS score
              FROM q JOIN bk c ON c.bucket = q.qbucket AND c.vec_id <> q.query_id)
        SELECT query_id, neighbor_id, round(score, 6) AS score,
               CAST(rn AS INTEGER) AS rank
        FROM (SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rn
              FROM s)
        WHERE rn <= 3
      """,

      // recall@3 of the IVF index vs the exact top-3 — the exact side is
      // q_knn's contract at k=3, the approx side q_ann_ivf's; recall is
      // the per-query overlap count over k
      "q_ann_recall" -> s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cents AS (SELECT list(v ORDER BY vec_id) AS cs FROM e WHERE vec_id < 16),
        celled AS (SELECT vec_id, v,
                     list_indexof(scores, list_max(scores)) - 1 AS cell
                   FROM (SELECT vec_id, v,
                           list_transform((SELECT cs FROM cents),
                             c -> list_reduce(list_transform(range(1, 65),
                                    i -> c[i] * v[i]), (x, y) -> x + y)) AS scores
                         FROM e)),
        q AS (SELECT vec_id AS query_id, v AS qv, cell AS qcell
              FROM celled WHERE vec_id < 10),
        si AS (SELECT q.query_id, c.vec_id AS neighbor_id,
                      ${cosSql("qv", "v")} AS score
               FROM q JOIN celled c
                 ON c.cell = q.qcell AND c.vec_id <> q.query_id),
        ivf AS (SELECT query_id, neighbor_id
                FROM (SELECT *, row_number() OVER (
                        PARTITION BY query_id
                        ORDER BY score DESC, neighbor_id ASC) AS rn FROM si)
                WHERE rn <= 3),
        se AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                      ${cosSql("qv", "v")} AS score
               FROM q JOIN e ON e.vec_id <> q.query_id),
        exact AS (SELECT query_id, neighbor_id
                  FROM (SELECT *, row_number() OVER (
                          PARTITION BY query_id
                          ORDER BY score DESC, neighbor_id ASC) AS rn FROM se)
                  WHERE rn <= 3)
        SELECT x.query_id,
               ROUND(CAST(COUNT(i.neighbor_id) AS DOUBLE) / 3.0, 6)
                 AS recall_at_k
        FROM exact x LEFT JOIN ivf i
          ON i.query_id = x.query_id AND i.neighbor_id = x.neighbor_id
        GROUP BY 1 ORDER BY 1
      """
    )
  }
}
