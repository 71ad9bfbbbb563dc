package graft

/** Physical-plan regression tests: lock the plan shapes that matter at
  * scale, so a refactor that silently loses a broadcast, pushdown, or
  * partial aggregation fails loudly here instead of at 100 TB. */
class PlanSpec extends GraftSuite {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("enrichment join broadcasts the dimension side") {
    assert(plan("q_enrich").contains("BroadcastHashJoin"))
  }

  test("enrichment broadcast hint is size-gated: over-threshold dim falls " +
    "back to a shuffled join with identical rows") {
    // Round-7 verdict item 5: the hint used to be unconditional — faithful
    // to the reference's 20-row dim, but a plan that can't survive an
    // adversarial scale-up (a 100M-key CDC dimension would OOM the driver
    // rather than degrade). Forcing the threshold to -1 models the
    // over-threshold case exactly (the gate compares estimate ≤ threshold);
    // the fallback plan must NOT carry the hint and must return the same
    // rows via whatever join Catalyst picks.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val hinted = SparkEntry.queries("q_enrich")(spark, sf)
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val gated = SparkEntry.queries("q_enrich")(spark, sf)
      val logical = gated.queryExecution.optimizedPlan.toString
      assert(!gated.queryExecution.analyzed.toString.contains("ResolvedHint"),
        s"gate must drop the broadcast hint at threshold -1:\n$logical")
      val physical = gated.queryExecution.executedPlan.toString
      assert(!physical.contains("BroadcastHashJoin"),
        "threshold -1 must not plan a broadcast join")
      assert(gated.exceptAll(hinted).isEmpty && hinted.exceptAll(gated).isEmpty,
        "fallback join must return identical rows")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q3 pushes date filters into the parquet scan") {
    val p = plan("q3_shipping")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate"))
  }

  test("q10 pushes the returnflag filter and broadcasts both dims") {
    val p = plan("q10_returns")
    assert(p.contains("EqualTo(l_returnflag,R)"),
      "returnflag must reach the lineitem parquet scan")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("top-k compiles to TakeOrderedAndProject, never a global sort") {
    assert(plan("q_topk_users").contains("TakeOrderedAndProject"))
    assert(plan("q_sorted_recent").contains("TakeOrderedAndProject"))
  }

  test("projection prunes unread columns out of the scan") {
    val p = plan("q_scan_project")
    assert(!p.contains("props"), "q_scan_project must not read the props column")
  }

  test("grouped aggregation applies map-side partial aggregation") {
    assert(plan("q1_agg").contains("partial_sum"))
  }

  test("jaccard self-join stays a shuffled hash join (broadcast would re-execute the pipeline)") {
    assert(plan("q_ngram_jaccard").contains("ShuffledHashJoin"))
  }

  test("jaccard shingle pipeline executes once (checkpointed index, not twice)") {
    // Verified at runtime (round-2): neither ReuseExchange nor AQE stage
    // reuse deduplicates the self-join's identical subtrees, so the
    // operator checkpoints the inverted index and both sides must scan
    // that RDD — the full shingle/window pipeline (Generate + Window) must
    // NOT appear in the join plan at all, let alone twice.
    val p = plan("q_ngram_jaccard")
    assert(p.contains("Scan ExistingRDD"),
      "expected both join sides to read the checkpointed inverted index")
    assert(!p.contains("Generate explode"),
      "shingle explosion leaked back into the join plan — pipeline re-executes per side")
  }

  test("semi-join form for EXISTS (no row duplication)") {
    assert(plan("q_order_priority").contains("LeftSemi"))
  }

  test("decontamination broadcasts the eval shingle set, never shuffles it") {
    // the eval set is tiny vs the corpus: its membership test must be a
    // broadcast join or the corpus pays a shuffle for it
    assert(plan("q_decontaminate").contains("BroadcastHashJoin"))
  }

  test("cleanCorpus exact-dedup shuffles fingerprints, never document text") {
    val kept = graft.sources.Tables.documents(spark, sf).select("doc_id", "text")
    val qe = graft.operators.Dedup.exactSurvivorIds(kept).queryExecution
    assert(!qe.executedPlan.toString.contains("Window"),
      "exact dedup regressed to the text-shuffling Window.partitionBy(fp) form")
    // every shuffle in the aggregate path carries only the (fp, doc_id)
    // pair — document text never crosses an exchange
    val exchanges = org.apache.spark.sql.GraftColumnBridge
      .collectShuffles(qe.executedPlan)
    assert(exchanges.nonEmpty, "expected the fp group-by exchange")
    assert(exchanges.forall(_.forall(_ != "text")),
      s"document text crossed a shuffle: $exchanges")
  }

  test("bloom incremental dedup probes in-scan; text never shuffles") {
    val qe = SparkEntry.queries("q_dedup_bloom")(spark, sf).queryExecution
    val p = qe.executedPlan.toString
    assert(p.contains("bloom_might_contain"),
      "the Bloom probe must run as a codegen'd filter inside the scan stage")
    val exchanges = org.apache.spark.sql.GraftColumnBridge
      .collectShuffles(qe.executedPlan)
    assert(exchanges.forall(_.forall(c => c != "text" && c != "nt")),
      s"document text crossed a shuffle: $exchanges")
  }

  test("passage boilerplate removal never shuffles full document text") {
    // passages ride the output-forced doc_id reassembly shuffle; the raw
    // text column must stay inside its scan stage
    val qe = SparkEntry.queries("q_boilerplate")(spark, sf).queryExecution
    val exchanges = org.apache.spark.sql.GraftColumnBridge
      .collectShuffles(qe.executedPlan)
    assert(exchanges.nonEmpty, "expected df-aggregate and reassembly exchanges")
    assert(exchanges.forall(_.forall(_ != "text")),
      s"document text crossed a shuffle: $exchanges")
    assert(qe.executedPlan.toString.contains("BroadcastHashJoin"),
      "the boilerplate set must broadcast back as the anti-join build side")
  }

  test("substring dedup shuffles 24-byte gram rows once; text stays in-scan") {
    for (q <- Seq("q_substr_spans", "q_substr_incremental")) {
      val qe = SparkEntry.queries(q)(spark, sf).queryExecution
      val exchanges = org.apache.spark.sql.GraftColumnBridge
        .collectShuffles(qe.executedPlan)
      assert(exchanges.nonEmpty, s"$q: expected the gram-window exchange")
      // raw text never shuffles (the tokenized spreadByKey floor may fire
      // at fixture scale — it is a no-op on any real multi-split scan)
      assert(exchanges.forall(!_.contains("text")),
        s"$q: document text crossed a shuffle: $exchanges")
      // one gram pass: the occurrence count and first-occurrence witness
      // share a window spec, so the positional-gram subtree (tokenize+md5,
      // the dominant CPU) must appear exactly once in the executed plan
      val gramScans = "\\bGenerate explode".r
        .findAllIn(qe.executedPlan.toString).length
      val expected = if (q == "q_substr_incremental") 2 else 1
      assert(gramScans == expected,
        s"$q: gram subtree executed $gramScans times, expected $expected " +
          "(groupBy+join-back regression would double the md5 work)")
    }
  }

  test("in-scan decontamination is shuffle-free with the probe in the plan") {
    for ((q, probe) <- Seq("q_decontam_scan" -> "shingle_overlap",
        "q_contam_frac_scan" -> "shingle_stats")) {
      val qe = SparkEntry.queries(q)(spark, sf).queryExecution
      val shuffles = org.apache.spark.sql.GraftColumnBridge
        .collectShuffles(qe.executedPlan)
      assert(shuffles.isEmpty,
        s"$q: the scan probe must not shuffle, found exchanges over $shuffles")
      assert(qe.executedPlan.toString.contains(probe),
        s"$q: the native $probe expression must appear in the plan")
    }
  }

  test("ingest guard's bloom-gated confirm join stays hash-based, never a loop") {
    // mirror of IngestGuard's judged-join shape: a left-side probe gate
    // AND an equi key. Catalyst must extract the equi key (hash join) —
    // a nested-loop fallback would scan the whole fingerprint store per
    // batch row at scale.
    import spark.implicits._
    val left = (1L to 100L).map(i => (i, i % 3 == 0)).toDF("__fp", "__probe")
    val right = (1L to 50L).map(i => (i, true)).toDF("__pfp", "__seen")
    import org.apache.spark.sql.functions.col
    val plan = left.join(right,
        col("__probe") && col("__fp") === col("__pfp"), "left")
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"expected a hash-based join, got:\n$plan")
    assert(!plan.contains("NestedLoop"), s"nested loop join planned:\n$plan")
  }

  test("heavy-hitter top-k compiles to per-partition heaps, not a global sort") {
    val plan = graft.sources.Tables.events(spark, sf)
      .selectExpr("CAST(user_id AS STRING) AS key")
      .groupBy("key").count()
      .orderBy(org.apache.spark.sql.functions.col("count").desc,
        org.apache.spark.sql.functions.col("key").asc)
      .limit(10).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      "exact top-k must be per-partition heaps + driver merge")
  }

  test("BPE encode is a shuffle-free projection; training caps via top-k heaps") {
    // applying the learned vocab must stay a scan-side projection — the
    // rank table is a plan constant, so no join, no exchange, no UDF
    val qe = SparkEntry.queries("q_bpe_token_counts")(spark, sf).queryExecution
    val shuffles = org.apache.spark.sql.GraftColumnBridge
      .collectShuffles(qe.executedPlan)
    assert(shuffles.isEmpty,
      s"BPE token counting must not shuffle, found exchanges over $shuffles")
    assert(qe.executedPlan.toString.contains("bpe_tokens"),
      "the native bpe_tokens expression must appear in the plan")
    // the histogram cap is per-partition heaps + driver merge, not a
    // global sort
    val hist = graft.operators.Bpe
      .wordHistogram(graft.sources.Tables.documents(spark, sf))
      .queryExecution.executedPlan.toString
    assert(hist.contains("TakeOrderedAndProject"),
      "topWords cap must compile to TakeOrderedAndProject")
  }

  test("tf-idf and unigram LM broadcast their model tables onto the scan") {
    assert(plan("q_tfidf").contains("BroadcastHashJoin"),
      "the DF/N model table must broadcast, not shuffle the token stream")
    assert(plan("q_unigram_logprob").contains("BroadcastHashJoin"),
      "the vocabulary log-prob table must broadcast")
  }

  test("quality-aware canonicalization never shuffles document text") {
    val qe = SparkEntry.queries("q_canonical_quality")(spark, sf).queryExecution
    val exchanges = org.apache.spark.sql.GraftColumnBridge
      .collectShuffles(qe.executedPlan)
    assert(exchanges.nonEmpty)
    assert(exchanges.forall(_.forall(_ != "text")),
      s"document text crossed a shuffle: $exchanges")
  }

  test("corpus top-ngrams uses per-partition top-k heaps, not a global sort") {
    assert(plan("q_top_ngrams").contains("TakeOrderedAndProject"))
  }

  test("hash split is a pure projection - zero exchanges") {
    val qe = SparkEntry.queries("q_split")(spark, sf).queryExecution
    assert(org.apache.spark.sql.GraftColumnBridge
      .collectShuffles(qe.executedPlan).isEmpty)
  }

  test("event pivot is one shuffle of conditional partial counts") {
    val qe = SparkEntry.queries("q_event_pivot")(spark, sf).queryExecution
    val exchanges = org.apache.spark.sql.GraftColumnBridge
      .collectShuffles(qe.executedPlan)
    assert(exchanges.length === 1, s"expected 1 exchange, got $exchanges")
    assert(qe.executedPlan.toString.contains("partial_pivot") ||
      qe.executedPlan.toString.contains("partial_count"),
      "pivot must apply map-side partial aggregation")
  }

  test("z-scores broadcast the moment table; inter-arrival reuses one exchange") {
    assert(plan("q_zscores").contains("BroadcastHashJoin"),
      "the per-type moment table must broadcast back onto the scan")
    val qe = SparkEntry.queries("q_inter_arrival")(spark, sf).queryExecution
    val exchanges = org.apache.spark.sql.GraftColumnBridge
      .collectShuffles(qe.executedPlan)
    assert(exchanges.length === 1,
      s"window + rollup must share the user_id exchange, got $exchanges")
  }

  test("approximate distinct users aggregate one DataSketches buffer, " +
    "not HLL++ registers") {
    // HLL++ at rsd 0.01 keeps 1,639 buffer fields, which the non-codegen
    // hash aggregate turns into a freshly generated projection per task
    val physical = SparkEntry.queries("q_approx_distinct_users")(spark, sf)
      .queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.inputPlan
      case p => p
    }
    val aggregates = physical.flatMap(_.expressions).flatMap(_.collect {
      case f: org.apache.spark.sql.catalyst.expressions.aggregate
          .AggregateFunction => f.getClass.getSimpleName
    })
    assert(aggregates.contains("HllSketchAgg"), aggregates)
    assert(!aggregates.contains("HyperLogLogPlusPlus"), aggregates)
  }

  test("scan-parallelism floor no-ops when the scan is already parallel") {
    val docs = graft.sources.Tables.documents(spark, sf).select("doc_id", "text")
    val wide = docs.repartition(spark.sparkContext.defaultParallelism + 1)
    // no-op contract is referential: the same Dataset comes back untouched
    assert(graft.operators.Dedup.spreadByKey(wide, "doc_id") eq wide)
    val narrow = docs.coalesce(1)
    val spread = graft.operators.Dedup.spreadByKey(narrow, "doc_id")
    assert(spread ne narrow)
    assert(spread.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
  }

  test("scan-parallelism floor sizes the spread from input bytes (r20)") {
    val p = spark.sparkContext.defaultParallelism
    val docs = graft.sources.Tables.documents(spark, sf).select("doc_id", "text")
    // file-scan input: partition count = ceil(bytes / bytesPerTask), capped
    // at defaultParallelism — never 32 near-empty partitions for a small
    // input, never fewer when the kernel is dense (tiny bytesPerTask)
    val bytes = graft.operators.Dedup.fileScanBytes(docs).get
    val big = 1L << 40 // one task's worth no matter the fixture size
    val one = graft.operators.Dedup.spreadByKey(docs, "doc_id", big)
    assert(one.rdd.getNumPartitions == 1,
      "huge bytesPerTask must yield a single partition")
    // one partition is the scan's own count: no repartition(1) shuffle
    assert(one eq docs)
    val dense = graft.operators.Dedup.spreadByKey(docs, "doc_id", 1L)
    assert(dense.rdd.getNumPartitions == p,
      "tiny bytesPerTask must cap at defaultParallelism")
    val mid = math.max(1L, bytes / 2)
    val two = graft.operators.Dedup.spreadByKey(docs, "doc_id", mid)
    val expected = math.min(p.toLong, (bytes + mid - 1) / mid)
    assert(two.rdd.getNumPartitions == expected,
      s"bytes=$bytes per=$mid expected=$expected")
    // non-file inputs (no byte estimate) keep the full-parallelism floor
    val local = docs.coalesce(1)
    assert(graft.operators.Dedup.spreadByKey(local, "doc_id", big)
      .rdd.getNumPartitions == p)
  }

  test("simhash is a zero-shuffle projection with the native signature") {
    // r19: the explode → 32-aggregate groupBy (and with it the scan floor
    // and its exchange) was replaced by the one-pass simhash_sig
    // projection — the whole signature table must now plan with no
    // exchange at all and the native expression in the scan stage
    val qe = SparkEntry.queries("q_simhash")(spark, sf).queryExecution
    val shuffles = org.apache.spark.sql.GraftColumnBridge
      .collectShuffles(qe.executedPlan)
    assert(shuffles.isEmpty,
      s"q_simhash: signature projection must not shuffle, got $shuffles")
    assert(qe.executedPlan.toString.contains("simhash_sig"),
      "q_simhash: the native simhash_sig expression must appear in the plan")
  }

  test("as-of join is the union+window form: one keyed exchange, no join node") {
    val p = plan("q_asof_enrich")
    // the final plan may carry broadcast exchanges from the tiny label
    // relation, but the as-of core must not plan a range/theta join
    assert(!p.contains("NestedLoop"),
      s"as-of degenerated into a nested-loop range join:\n$p")
    assert(p.contains("Window"), "expected the running-last window form")
  }

  test("corpus diff joins 64-bit fingerprints, never document text") {
    val qe = SparkEntry.queries("q_corpus_diff")(spark, sf).queryExecution
    val exchanges = org.apache.spark.sql.GraftColumnBridge
      .collectShuffles(qe.executedPlan)
    assert(exchanges.nonEmpty, "expected the doc_id full-outer-join exchange")
    assert(exchanges.forall(_.forall(_ != "text")),
      s"document text crossed a shuffle: $exchanges")
  }

  test("temperature sampling broadcasts the rate table; corpus text never shuffles") {
    val qe = SparkEntry.queries("q_sample_temperature")(spark, sf).queryExecution
    val p = qe.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      "rate table must broadcast-join onto the corpus scan")
    // the only exchanges belong to the tiny language histogram — document
    // text stays put
    val exchanges = org.apache.spark.sql.GraftColumnBridge
      .collectShuffles(qe.executedPlan)
    assert(exchanges.forall(_.forall(_ != "text")),
      s"document text crossed a shuffle: $exchanges")
  }

  test("sf-scaling dims: threshold picks BHJ at fixture scale, no hint overrides it") {
    // customer/part/supplier/firstSeen grow with the data, so they carry NO
    // explicit broadcast() hint (a hint overrides AQE's size statistics —
    // convenient at sf0.1, an OOM at 100×). Two-way lock:
    //  (a) at fixture scale the stats-based planner still picks
    //      BroadcastHashJoin for them — the fast plan is not lost;
    //  (b) with the threshold disabled the same queries plan shuffled
    //      joins — proving no forced hint is overriding the statistics.
    for (q <- Seq("q10_returns", "q_top_brands", "q_retention"))
      assert(plan(q).contains("BroadcastHashJoin"),
        s"$q lost its stats-chosen broadcast at fixture scale")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      for (q <- Seq("q3_shipping", "q5_local_supplier", "q_top_brands",
                    "q_retention")) {
        val p = plan(q)
        assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
          s"$q must degrade to a shuffled join when the threshold forbids " +
            s"broadcast — a surviving forced hint would OOM at 100×:\n$p")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q6 pushes every filter into the lineitem scan; one row crosses the wire") {
    val p = plan("q6_forecast")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), IsNotNull(l_quantity)"),
      s"all three Q6 filters must reach the parquet scan:\n$p")
    assert(p.contains("partial_sum"), "revenue must partially aggregate map-side")
    assert(!p.contains("JoinExec"), "Q6 is a zero-join scan shape")
  }

  test("q18 pre-aggregates lineitem on its key BEFORE any join") {
    // the HAVING survivor set must come out of a grouped aggregate keyed
    // on l_orderkey with a partial_sum below it — joining first would
    // shuffle the whole fact table against orders before the filter can
    // shrink it. (String-match the plan: AQE wraps the tree, so typed
    // collect() does not traverse it.)
    val p = plan("q18_large_orders")
    assert(p.contains("partial_sum"),
      "lineitem quantity must partially aggregate map-side")
    assert("HashAggregate(?:Exec)?\\(keys=\\[l_orderkey".r
      .findFirstIn(p).isDefined,
      s"expected a grouped aggregate keyed on l_orderkey:\n$p")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("bm25 explodes only query-term postings and never sorts globally") {
    val p = plan("q_bm25")
    // the lambda filter must sit inside the Generate input, so the
    // exploded row count is the query terms' posting lists, not the corpus
    // token count
    assert(p.contains("TakeOrderedAndProject"), "top-k must not global-sort")
    val qe = SparkEntry.queries("q_bm25")(spark, sf).queryExecution
    val shuffled = org.apache.spark.sql.GraftColumnBridge
      .collectShuffles(qe.executedPlan)
    assert(shuffled.forall(_.forall(c => c != "text" && c != "toks")),
      s"document text/token arrays crossed a shuffle: $shuffled")
  }

  test("stickiness rollups run off one distinct-triple exchange") {
    val qe = SparkEntry.queries("q_stickiness")(spark, sf).queryExecution
    val shuffled = org.apache.spark.sql.GraftColumnBridge
      .collectShuffles(qe.executedPlan)
    // the only shuffles carrying user_id are the (week, day, user)
    // distinct and its weekly-distinct rollup — post-dedup cardinality,
    // never raw event volume twice
    assert(shuffled.count(_.contains("user_id")) <= 3,
      s"too many user-bearing exchanges: $shuffled")
    assert(qe.executedPlan.toString.contains("partial_count") ||
      qe.executedPlan.toString.contains("HashAggregate"))
  }

  test("q7 pushes the ship-date window into the scan; nation slice broadcasts") {
    val p = plan("q7_nation_volume")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      s"Q7's date window must reach the lineitem parquet scan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      "the 2-row nation slice must broadcast into supplier/customer")
  }

  test("q19's brand IN implicant pushes into the part scan") {
    // the three-branch disjunction spans both tables and cannot push
    // anywhere whole — but its part-side implicant (brand IN (...)) must
    // shrink the build side at the scan
    val p = plan("q19_disjunctive")
    assert(p.contains("In(p_brand"),
      s"brand-IN implicant must reach the part parquet scan:\n$p")
  }

  test("q17 pushes brand+type into the part scan") {
    val p = plan("q17_small_qty")
    assert(p.contains("EqualTo(p_brand,Brand#11)") &&
      p.contains("EqualTo(p_type,SMALL)"),
      s"Q17's brand/type filter must reach the part parquet scan:\n$p")
  }

  test("q21 scans lineitem once (classic form is three self-joins)") {
    val p = plan("q21_waiting")
    assert(p.contains("LeftSemi"),
      "order-status filter must apply as a semi join, not row duplication")
    val liScans = "Scan parquet .*lineitem".r.findAllIn(p).length
    assert(liScans == 1,
      s"expected exactly one lineitem scan, found $liScans — the EXISTS / " +
        s"NOT EXISTS pair must fold into the per-order aggregate:\n$p")
  }

  test("rollup expands the pre-aggregated cells, never the fact table") {
    val qe = SparkEntry.queries("q_rollup_revenue")(spark, sf).queryExecution
    val p = qe.executedPlan.toString
    assert(p.contains("Expand"), "ROLLUP must plan an Expand")
    // the fact's money column must be partially aggregated BEFORE any
    // exchange — an Expand over raw orders would triple the fact shuffle
    val shuffled = org.apache.spark.sql.GraftColumnBridge
      .collectShuffles(qe.executedPlan)
    assert(shuffled.forall(!_.contains("o_totalprice")),
      s"raw o_totalprice crossed a shuffle (Expand over the fact): $shuffled")
  }

  test("TPC-H analog suite completions keep their scale shapes") {
    // Q2: correlated min as agg + join-back; dims broadcast, top-k never
    // globally sorts
    val q2 = plan("q2_min_cost")
    assert(q2.contains("BroadcastHashJoin"), "Q2 region/nation must broadcast")
    assert(q2.contains("TakeOrderedAndProject"), "Q2 LIMIT must be top-k")
    assert(q2.contains("partial_min"), "Q2 per-part min must partial-agg")
    // Q9: the part keyword filter must reach the scan, profit partial-sums
    val q9 = plan("q9_profit")
    assert(q9.contains("StringContains(p_name,widget)"),
      "Q9 part keyword must push into the parquet scan")
    assert(q9.contains("partial_sum"), "Q9 must partial-aggregate")
    // Q11: nation membership is a semi join; the 1-row total broadcasts
    val q11 = plan("q11_important_parts")
    assert(q11.contains("LeftSemi"), "Q11 supplier membership must be semi")
    assert(q11.contains("BroadcastNestedLoopJoin"),
      "Q11 1-row total must broadcast, never shuffle")
    // Q16: the complaints exclusion is an ANTI join, not a distinct+filter
    val q16 = plan("q16_part_suppliers")
    assert(q16.contains("LeftAnti"), "Q16 NOT IN must compile to anti join")
    // Q20: both membership chains are semi joins (no row duplication)
    val q20 = plan("q20_excess_shippers")
    assert(q20.contains("LeftSemi"), "Q20 nested-IN must stay semi joins")
  }

  test("filtered ANN keeps its scale shapes; shard plan never shuffles text") {
    // pre-filter: queries broadcast; the label predicate must not force a
    // cartesian (the join keeps its broadcast nested-loop/hash form with
    // the predicate inside)
    val pre = plan("q_knn_filtered")
    assert(pre.contains("Broadcast"), "query side must broadcast")
    assert(!pre.contains("CartesianProduct"),
      "label predicate must ride the join, not degrade to a cartesian")
    // filtered IVF: label equality joins WITH the cell key — an equi-join,
    // not a nested loop
    val ivf = plan("q_ann_ivf_filtered")
    assert(ivf.contains("BroadcastHashJoin"),
      "cell+label equi-join against broadcast queries")
    // shard manifest: raw document text must never cross an exchange —
    // only (shard, source, counters) cells do
    val qe = SparkEntry.queries("q_shard_plan")(spark, sf).queryExecution
    val exchanges = org.apache.spark.sql.GraftColumnBridge
      .collectShuffles(qe.executedPlan)
    assert(exchanges.nonEmpty, "manifest has its two bounded aggregations")
    assert(exchanges.forall(_.forall(c => c != "text")),
      s"document text crossed a shuffle: $exchanges")
  }

  test("quality cutoff is a broadcast compare, not a sort or text shuffle") {
    val qe = SparkEntry.queries("q_quality_cutoff")(spark, sf).queryExecution
    val p = qe.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin"),
      "1-row cutoff side must broadcast")
    assert(!p.contains("SortExec"), "value cutoff must not globally sort")
    val exchanges = org.apache.spark.sql.GraftColumnBridge
      .collectShuffles(qe.executedPlan)
    assert(exchanges.forall(_.forall(_ != "text")),
      s"document text crossed a shuffle: $exchanges")
  }

  test("round-9 additions keep their scale shapes") {
    // z-value: a pure codegen'd projection over the scan — no exchange,
    // no sort, no join; the 1-row stats aggregate runs before planning
    val zq = SparkEntry.queries("q_zorder")(spark, sf).queryExecution
    val zp = zq.executedPlan.toString
    assert(zp.contains("*(1) Project"),
      "zval projection must sit inside whole-stage codegen")
    assert(org.apache.spark.sql.GraftColumnBridge
      .collectShuffles(zq.executedPlan).isEmpty,
      "z-value projection must not shuffle")
    assert(!zp.contains("SortExec") && !zp.contains("Join"),
      "z-value is a projection, not a sort or join")
    // salted join: the salt must be IN the shuffle key when the join
    // shuffles — force the shuffled regime (tiny fixture would broadcast)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val sp = SparkEntry.queries("q_salted_join")(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!sp.contains("BroadcastHashJoin"))
      assert(sp.contains("__salt"),
        "salt column missing from the shuffled join key")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // SQ8: queries broadcast; scoring join stays a BHJ over the encoded
    // scan — the corpus is never shuffled to score candidates
    val qp = SparkEntry.queries("q_ann_sq8")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(qp.contains("BroadcastHashJoin") ||
      qp.contains("BroadcastNestedLoopJoin"),
      "SQ8 queries must broadcast")
  }

  test("round-10 additions keep their scale shapes") {
    // edit-distance candidates: the PassJoin probe-index join must be an
    // EQUI join on (segment index, segment text) — never a
    // cartesian/nested-loop over documents — and the exact DP must run
    // only after candidate generation
    val ep = SparkEntry.queries("q_editdist_pairs")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!ep.contains("CartesianProduct") &&
      !ep.contains("BroadcastNestedLoopJoin"),
      "edit-distance join must never be a cartesian/nested-loop product")
    assert(ep.contains("sub"),
      "candidate join must key on the segment text column")
    assert(ep.contains("levenshtein"),
      "exact verify must be present after candidate generation")
    // incremental view maintenance: the merge is aggregate-sized — the
    // plan may scan events for base/delta (fixture synthesis) but the
    // final merge must be a join of two AGGREGATES, not a re-aggregation
    // of a joined fact
    val mq = SparkEntry.queries("q_agg_maintain")(spark, sf).queryExecution
    val mp = mq.executedPlan.toString
    assert(mp.contains("FullOuter") || mp.contains("full_outer") ||
      mp.toLowerCase.contains("fullouter"),
      "view merge must be the full-outer delta rule")
    assert(mp.contains("HashAggregate") || mp.contains("SortAggregate"),
      "delta must pre-aggregate before the merge")
  }
}
