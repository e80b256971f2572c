package graft

import org.scalatest.matchers.should.Matchers

/** Asserted plan-shape invariants for the scale-critical queries: the
  * properties that make these plans survive a 100× scale-up, checked as
  * tests so a regression (lost broadcast, surprise cross product,
  * unpruned scan, lost window group limit) fails CI instead of waiting
  * for a slow bench. Planning-only — nothing here executes a job. */
class PlanShapeSpec extends SparkSpec with Matchers {

  private val dir = "/root/testdata/sf0.001"

  private def physical(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  private def optimized(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.optimizedPlan.toString

  // every lazily-planned query: no accidental cross products anywhere
  private val lazyQueries = Seq("vdb_knn", "vdb_knn_filtered", "vdb_embed_knn",
    "vdb_filter_json", "vdb_filter_rich", "vdb_filter_variant", "vdb_insert_dedup",
    "dedup_exact", "dedup_jaccard_block", "dedup_prefix_filter", "dedup_minhash_lsh", "dedup_simhash",
    "dedup_simhash_pairs", "dedup_embed_cosine", "sim_knn_batch", "sim_containment",
    "text_profile", "text_winnow", "q_asof_join", "q_range_join", "agg_kmv_sketch",
    "q3_join", "q5_multijoin", "q_join_anti", "q_outer_join", "q_window_topn",
    "q_intersect", "q_except", "q_rollup", "q_above_avg", "q_cube", "q_quantiles",
    "vdb_filter_suffix", "q1_agg", "q_topk_price", "q_skew_salted_join",
    "q_skew_distinct", "q_pivot", "q_window_running", "mm_binary_stats", "agg_tdigest",
    "mm_decode_png", "mm_decode_stub", "text_chunk", "q_join_semi",
    "q_histogram", "q_window_range", "agg_bitmap_distinct", "agg_heavy_hitters",
    "mm_decode_wav", "mm_frame_sample", "agg_incremental", "q_concurrency",
    "pipeline_e2e", "vdb_insert_bloom", "dedup_substring", "dedup_minhash_capped",
    "text_quality_gopher", "sim_decontaminate", "text_domain_mix",
    "text_pack", "text_line_filter", "text_fertility", "sim_cluster_balance",
    "text_bigram_lm", "drift_daily", "link_fuzzy_blocked", "text_token_budget",
    "search_phrase", "sim_bitext_margin", "text_kneser_ney", "agg_sketch_algebra",
    "text_bpe_merges", "dedup_lines", "dedup_minhash_exact", "sim_decontaminate_exact",
    "link_fuzzy_capped", "link_string_kernels", "sim_ann_bq", "text_bpe_apply",
    "q_funnel", "q_cohort", "q_anomaly_zscore", "q_gapfill", "q_cep_pattern",
    "q_funnel_windowed", "pipeline_er_incremental",
    "q_event_paths", "q_attribution", "drift_psi", "q_stickiness",
    "q_event_transitions", "q_time_to_convert",
    "text_split_stratified", "mm_crossmodal_align", "q_funnel_sessionized",
    // round-7 stats/ML/graph batches (the driver-iteration ops —
    // kmeans/pca/bfs — run jobs at build time and are stressed
    // separately; everything here is lazily planned)
    "ts_holt", "ts_seasonal", "ts_acf", "ts_cusum", "q_scd2", "dq_checks",
    "q_market_basket", "text_zipf", "q_abtest", "q_abtest_cuped", "q_abtest_srm",
    "q_abtest_power", "link_best_match", "agg_tdigest_rollup", "ml_kfold",
    "ml_cv_linreg", "q_diff_in_diff", "dq_outlier_iqr", "q_kaplan_meier", "ml_linreg",
    "ml_naive_bayes", "ml_bootstrap_ci", "rec_item_item", "ml_chi2_tokens",
    "text_keywords_tfidf", "ml_auc", "ml_calibration", "ts_holt_winters",
    "q_skyline", "ml_knn_classifier", "dq_benford", "agg_moments",
    "text_collocations", "graph_clustering_coeff", "ts_changepoint",
    "q_mann_kendall", "ts_theil_sen", "graph_assortativity", "dq_fd_check",
    "sim_mips", "ml_perceptron", "text_ttr",
    // rec_gini_coverage runs globalRowNumber jobs at build time —
    // stressed separately like the other prefix-scan consumers
    "q_corr_matrix", "q_cohort_ltv", "ml_brier",
    "q_runs_test", "search_eval_metrics", "ts_backtest", "q_histogram2d",
    "dq_referential", "graph_summary", "text_source_tv",
    "q_new_vs_returning", "q_basket_size_dist", "ts_weekday_profile",
    "dq_freshness", "q_ship_lag", "ml_perceptron_eval",
    // round-9 SQL surfaces (lateral's per-row subquery decorrelates to
    // a ranked window — never a cartesian)
    "q_recursive_cte", "q_lateral_join", "q_unpivot", "q_recursive_reach")

  test("no unintended cross product in any relational plan") {
    // the only legitimate nested-loop shapes: broadcast single-row query
    // vectors (vdb_knn*, sim_knn_*: crossJoin(broadcast(1-row))) — those
    // are BroadcastNestedLoopJoin over one row, never CartesianProduct
    for (n <- lazyQueries) {
      val p = physical(n)
      withClue(s"$n:") { p should not include "CartesianProduct" }
    }
  }

  test("string-similarity kernels evaluate inside whole-stage codegen") {
    // the one executing test here: AQE defers codegen-stage wrapping
    // until the plan finalizes, so `*(n)` only shows on the FINAL plan
    // (sf0.001, milliseconds)
    val df = SparkEntry.queries("link_string_kernels")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    p should include("isFinalPlan=true")
    p should include("damerau_levenshtein")
    p should include("jaro_winkler")
    // the projection carrying the kernels sits in a codegen stage (*(n))
    val l = p.linesIterator.find(_.contains("damerau_levenshtein(c_name")).get
    l should include("*(")
  }

  test("recursive CTE plans as UnionLoop (native SQL iteration, not an unrolled union)") {
    physical("q_recursive_cte") should include("UnionLoop")
    // the join-per-iteration variant too: frontier ⋈ edges inside the loop
    physical("q_recursive_reach") should include("UnionLoop")
  }

  test("prefix-filter verify runs the bounded-intersect kernel, not array_intersect") {
    val p = physical("dedup_prefix_filter")
    p should include("bounded_intersect")
    p should not include "array_intersect"
  }

  test("fact-dim joins broadcast the dims (q3, q5)") {
    val q3 = physical("q3_join")
    q3 should include("BroadcastHashJoin")
    val q5 = physical("q5_multijoin")
    // customer, supplier, nation, region all broadcast
    "BroadcastHashJoin".r.findAllIn(q5).size should be >= 4
    q5 should not include "CartesianProduct"
  }

  test("global top-k plans as TakeOrderedAndProject, not a full sort") {
    physical("q_topk_price") should include("TakeOrderedAndProject")
    // path mining's top-10 must fuse the same way (paths ≤ types³,
    // but the operator shape matters at any cardinality)
    physical("q_event_paths") should include("TakeOrderedAndProject")
  }

  test("attribution and stickiness stay one keyed pass + bounded aggregate") {
    // last-touch lookup must ride the user-keyed window — exactly one
    // corpus-sized Exchange (user_id), then channel-bounded aggs
    val attr = physical("q_attribution")
    attr should not include "CartesianProduct"
    attr should include("Window [")
    // stickiness: the 7-day fan-out is a map-side Generate (explode),
    // never a range self-join — the only join is the day-keyed census
    val stick = physical("q_stickiness")
    stick should include("Generate explode")
    stick should not include "BroadcastNestedLoopJoin"
  }

  test("window top-n pushes the rank bound into per-partition heaps") {
    physical("q_window_topn") should include("WindowGroupLimit")
  }

  test("aggregations are partial (map-side combine before the shuffle)") {
    // two HashAggregate levels around one exchange
    val p = physical("q1_agg")
    "HashAggregate".r.findAllIn(p).size should be >= 2
    p should include("Exchange")
  }

  test("scans are column-pruned to what the query needs") {
    val knn = physical("vdb_knn")
    knn should include("ReadSchema")
    // embeddings scan must not read the label column it never uses
    knn.linesIterator.filter(_.contains("ReadSchema")).mkString should not include "label"
    val topk = physical("q_topk_price")
    topk.linesIterator.filter(_.contains("ReadSchema")).mkString should not include "l_discount"
  }

  test("filter pushdown reaches the parquet scan") {
    val p = physical("vdb_knn_filtered")
    p should include("PushedFilters: [IsNotNull(label), EqualTo(label,2)]")
  }

  test("exact dedup shuffles only the digest, never the document") {
    val p = physical("dedup_exact")
    // what the exchange carries = the partial aggregate's output row:
    // (content_hash, partial min, partial count) — no text column
    val partialOut = p.linesIterator
      .filter(l => l.contains("HashAggregate") && l.contains("partial_"))
      .mkString("\n")
    partialOut should include("content_hash")
    partialOut.split("output=").last should not include "text#"
  }

  test("blocked embedding near-dup joins on the block key (no all-pairs)") {
    val p = physical("dedup_embed_cosine")
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
  }

  test("as-of join is one shuffle, not a range cross product") {
    val p = physical("q_asof_join")
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
  }

  test("partitioned layout prunes to the matching partition directory") {
    val p = physical("layout_partitioned_read")
    val partitionFilters = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    partitionFilters should include("event_type")
    // the pruned partition column never reaches the data filters
    val pushed = "PushedFilters: \\[([^\\]]*)\\]".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    pushed should not include "event_type"
  }

  test("bucketed tables read pre-partitioned (bucketed scan, all buckets)") {
    val p = physical("layout_bucketed_join")
    p should include("SelectedBucketsCount: 8 out of 8")
  }

  test("salted join replicates only the small side") {
    val p = optimized("q_skew_salted_join")
    // the explode (salt replication) must sit on the orders subtree
    p should include("explode")
    p.toLowerCase should not include "cartesian"
  }

  test("z-ordered box scan pushes both range predicates to parquet") {
    val p = physical("layout_zorder")
    // the PushedFilters list is elided mid-string in plan output, so
    // match its (stable) prefix rather than bracket-extracting
    p should include("PushedFilters: [IsNotNull(l_partkey), IsNotNull(l_suppkey), " +
      "GreaterThanOrEqual(l_partkey,100)")
  }

  test("bloom dedup: exact re-check anti-join broadcasts the existing-id side") {
    val p = physical("vdb_insert_bloom")
    p should include("BroadcastHashJoin")
    p should include("LeftAnti")
    p should not include "CartesianProduct"
  }

  test("bloom dedup probes with the codegen'd might_contain predicate, not a UDF") {
    val p = physical("vdb_insert_bloom")
    p should include("might_contain")
    p should not include "UDF("         // no Scala UDF breaking the fused stage
    p should not include "BatchEvalPython"
  }

  test("chunking explodes map-side: generator before any exchange") {
    val p = physical("text_chunk")
    // one scan, a generate, no shuffle at all in the chunk production
    p should include("Generate explode")
    p should not include "Exchange"
  }

  test("bm25: non-matching docs pruned before the explode, stats+df broadcast, heap top-k") {
    val p = physical("search_bm25")
    p should include("arrays_overlap")       // prune ahead of Generate
    p should include("TakeOrderedAndProject") // no global sort for top-k
    // df (per-term) and corpus stats (one row) both broadcast into scoring
    "BroadcastExchange".r.findAllIn(p).size should be >= 2
    p should not include "CartesianProduct"
  }

  test("gopher rules are one kernel pass: single scan, no join, no generate") {
    val p = physical("text_quality_gopher")
    p should include("gopher_stats")
    "Scan parquet".r.findAllIn(p).size shouldBe 1
    p should not include "Generate"
    p should not include "BroadcastHashJoin"
  }

  test("substring spans: interval merge windows are per-doc, not global") {
    val o = optimized("dedup_substring")
    // both window functions partition by the doc id — a global (empty
    // partition-by) window would single-partition the corpus
    "windowspecdefinition\\(doc_id".r.findAllIn(o.toLowerCase).size should be >= 2
    physical("dedup_substring") should not include "CartesianProduct"
  }

  test("conformal calibration rank is distributed — no single-partition window") {
    // the k-th smallest calibration residual is found by a range-
    // partitioned sort + per-partition rank offsets; a global
    // (empty partition-by) row_number window would move ¼ of the
    // corpus into ONE task
    val df = SparkEntry.queries("ml_conformal")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    core.PlanCache.release(spark)
    p should not include "Window ["
    p.toLowerCase should not include "windowspecdefinition"
    df.count() shouldBe 1L
  }

  test("semantic dedup: broadcast centroids, partial argmin heaps, cluster-keyed prune") {
    val p = physical("dedup_semantic")
    core.PlanCache.release(spark)
    // the ONLY nested-loop is the deliberate k-row centroid broadcast
    p should include("BroadcastNestedLoopJoin BuildRight, Cross")
    p should include("TakeOrderedAndProject(limit=8")
    p should not include "CartesianProduct"
    // rank-1 assignment runs as WindowGroupLimit heaps (partial before
    // the shuffle), not a full per-id sort of the n×k cross rows
    p should include("WindowGroupLimit")
    // the within-cluster prune shuffles on the cluster key
    p should include("hashpartitioning(cluster")
  }

  test("dsir: top-k select is a heap, log-weight table broadcast into scoring") {
    val p = physical("text_dsir_select")
    core.PlanCache.release(spark)
    p should include("TakeOrderedAndProject(limit=50")
    p should include("BroadcastHashJoin")
    p should not include "CartesianProduct"
    // one corpus-wide explode feeds everything else via the persisted
    // bucket table — no second tokenize of the raw documents
    "InMemoryTableScan".r.findAllIn(p).size should be >= 2
  }

  test("vocab/oov: vocabulary cut is a heap and is broadcast back to the tokens") {
    val p = physical("text_vocab_oov")
    core.PlanCache.release(spark)
    p should include("TakeOrderedAndProject(limit=30")
    p should include("BroadcastHashJoin")
    p should not include "CartesianProduct"
  }

  test("cross-shard dedup: bucket join keyed on (band, key), no existing×existing pair") {
    val p = physical("dedup_cross_shard")
    core.PlanCache.release(spark)
    p should not include "CartesianProduct"
    // both sides scan with the pushed shard split (modulo filter reaches
    // the scan's data filters)
    p should include("pmod(doc_id")
    // candidate generation joins band+key equality, never id inequality alone
    (p.contains("band") && p.contains("key")) shouldBe true
  }

  test("c4 line filter is pure map-side: one scan, no exchange, no generate") {
    val p = physical("text_line_filter")
    p should not include "Exchange"
    p should not include "Generate"
    "FileScan parquet".r.findAllIn(p).size shouldBe 1
  }

  test("boilerplate line dedup broadcasts the frequent set back") {
    val p = physical("dedup_lines")
    core.PlanCache.release(spark)
    // removal flag join: frequent (small) side broadcast, never shuffled
    p should include("BroadcastHashJoin")
    p should not include "CartesianProduct"
    // df count partial-aggregates map-side before its shuffle
    p should include("partial_count(distinct")
  }

  test("boilerplate line dedup: one explode pass, hash-keyed shuffles (r5 review #3)") {
    val p = physical("dedup_lines")
    core.PlanCache.release(spark)
    // the persisted line table feeds BOTH the df aggregate and the
    // removal join — the split+join kernel is computed once, not twice
    // (each InMemoryTableScan prints its cached subtree, so the Generate
    // count in the flat string is not a pass count; the reuse is what
    // proves single-pass)
    "InMemoryTableScan".r.findAllIn(p).size should be >= 2
    // every repartitioning exchange keys on xxhash64(line) or the doc
    // id — full line text never becomes a shuffle key
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).mkString
    exchanges should not include "line#"
  }

  test("fuzzy ER: candidates come from an equi-join on the block key, verifier after") {
    val p = physical("link_fuzzy_blocked")
    p should not include "CartesianProduct"
    // the join must be hash-keyed on (nation, blk) — the levenshtein
    // verifier runs on candidates, never as the join condition itself
    (p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin")) shouldBe true
    p should include("blk")
  }

  test("capped fuzzy ER: block-size guard windows on the join's own key") {
    val p = physical("link_fuzzy_capped")
    p should not include "CartesianProduct"
    // the guard is a count window over (nation, blk) — the same key the
    // verifier self-join shuffles on, so the cap adds no extra shuffle key
    p should include("windowspecdefinition(c_nationkey")
    p should include("blk")
  }

  test("bigram LM: counts aggregate partially before the shuffle, vocab row broadcast") {
    val p = physical("text_bigram_lm")
    p should include("partial_count")
    p should include("BroadcastExchange") // the 1-row vocab stats
    p should not include "CartesianProduct"
  }

  test("cluster balance: census reuses the window's bucket partitioning") {
    val plan = SparkEntry.queries("sim_cluster_balance")(spark, dir)
      .queryExecution.executedPlan.toString
    // one shuffle on bucket feeds both the rank window and the final agg
    "Exchange hashpartitioning\\(bucket".r.findAllIn(plan).size shouldBe 1
  }

  test("maxsim: broadcast query terms, partial aggs, heap top-k — no cartesian") {
    val p = physical("search_maxsim")
    p should not include "CartesianProduct" // 3-term side is broadcast NLJ
    p should include("BroadcastNestedLoopJoin")
    p should include("partial_min") // per-(doc, term) min combines map-side
    p should include("TakeOrderedAndProject") // top-k never global-sorts
  }

  test("matryoshka: both ranks share one shuffle keyed by query id") {
    val p = physical("sim_matryoshka")
    p should not include "CartesianProduct"
    "Exchange hashpartitioning\\(qid".r.findAllIn(p).size shouldBe 1
  }

  test("count-min: sketch counters partial-aggregate before the shuffle") {
    val p = physical("agg_countmin")
    p should include("partial_count")
    p should not include "CartesianProduct"
  }

  test("bq cascade: queries broadcast, every shortlist is a per-partition heap, codegen kernels") {
    val p = physical("sim_ann_bq")
    p should not include "CartesianProduct"
    // three ranked shortlists (coarse, fine, exact) all bound their
    // window with per-partition heaps
    "WindowGroupLimit".r.findAllIn(p).size should be >= 3
    // the packed-code scan never shuffles: the only exchanges key on
    // query_id for the rank windows / recall join
    p should include("bq_hamming")
    p should include("bq_sign_cosine_distance")
    p should not include "BatchEvalPython"
  }

  test("bpe apply: merge argmax broadcasts, token census aggregates partially") {
    val p = physical("text_bpe_apply")
    p should include("BroadcastNestedLoopJoin BuildRight, Cross") // 1-row merge pattern
    p should include("partial_sum")
  }

  test("market basket: pairs explode map-side off the basket build, count dims broadcast") {
    val p = physical("q_market_basket")
    p should include("Generate") // C(basket,2) explode, not a self-join
    "BroadcastHashJoin".r.findAllIn(p).size should be >= 2 // the two pc joins
    p should not include "CartesianProduct"
  }

  test("item-item recs: count joins broadcast, top-3 bounds with per-partition heaps") {
    val p = physical("rec_item_item")
    "BroadcastHashJoin".r.findAllIn(p).size should be >= 2
    p should include("WindowGroupLimit")
    p should not include "CartesianProduct"
  }

  test("tfidf keywords: per-doc top-5 bounds with per-partition heaps, partial aggs") {
    val p = physical("text_keywords_tfidf")
    p should include("WindowGroupLimit")
    p should include("partial_count")
  }

  test("auc: corpus agg partial-combines; rank windows run on the score census only") {
    val p = physical("ml_auc")
    p should include("partial_count") // per-user then per-score map-side combine
    p should not include "CartesianProduct"
  }

  test("collocations: top-30 is a heap (TakeOrdered), censuses partial-combine") {
    val p = physical("text_collocations")
    p should include("TakeOrderedAndProject")
    p should include("partial_count")
    // the one nested-loop is the broadcast one-row bigram total
    p should not include "CartesianProduct"
  }

  test("clustering coefficient: wedge/closing joins are hash joins on edge keys") {
    val p = physical("graph_clustering_coeff")
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    "(BroadcastHashJoin|SortMergeJoin)".r.findAllIn(p).size should be >= 3
  }

  test("mann-kendall: pair join keys on event_type, no cross product") {
    val p = physical("q_mann_kendall")
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    p should include("partial_sum") // S partial-aggregates map-side
  }

  test("theil-sen: slope pairs key on event_type; medians picked per-key") {
    val p = physical("ts_theil_sen")
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
  }

  test("assortativity: degree joins are hash joins, power sums partial-combine") {
    val p = physical("graph_assortativity")
    p should include("partial_sum")
    p should not include "CartesianProduct"
  }

  test("fd check: countDistinct aggs are two-phase (partial on the det key)") {
    val p = physical("dq_fd_check")
    p should include("partial_count")
    p should not include "CartesianProduct"
  }

  test("mips: query panel broadcasts, top-k bounds with per-partition heaps") {
    val p = physical("sim_mips")
    p should include("BroadcastNestedLoopJoin BuildRight, Cross") // 10-row panel
    p should include("WindowGroupLimit")
    p should include("dot_product") // the codegen kernel, not an HOF
  }

  test("perceptron: each epoch is a scan against broadcast 1-row weights") {
    val p = physical("ml_perceptron")
    // three epochs = three broadcast crossJoins of the 1-row weight agg
    "BroadcastNestedLoopJoin BuildRight, Cross".r.findAllIn(p).size should be >= 3
    p should include("partial_sum") // the update aggregates map-side
    p should not include "CartesianProduct"
  }

  test("corr matrix: all 14 power sums come from ONE scan (InMemory reuse)") {
    val p = physical("q_corr_matrix")
    // all 6 pair branches read the persisted 1-row sums relation
    "InMemoryTableScan".r.findAllIn(p).size should be >= 6
    p should include("partial_sum")
  }

  test("cohort ltv: cohort sizes broadcast, cum window partitions per cohort") {
    val p = physical("q_cohort_ltv")
    p should include("BroadcastHashJoin")
    p should not include "CartesianProduct"
    p should include("hashpartitioning(cw") // cum window keys per cohort
  }

  test("gvdb reads are a V2 BatchScan: handled pushdown + pruning visible in the plan") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = tempDir("graft-planshape-gvdb") + "/t"
    (0 until 50).map(i => (i.toString, "{}", Seq(i.toFloat)))
      .toDF("id", "metadata", "embedding")
      .write.format("gvdb").option("dim", "1").mode("overwrite").save(root)
    val q = spark.read.format("gvdb").load(root)
      .where(col("id") > "3").select("id")
    val p = q.queryExecution.executedPlan.toString
    // the format's scan is a DSv2 BatchScan leaf (codegen-capable, no
    // external-Row conversion), its description reporting the HANDLED
    // predicate (evaluated once, inside the scan) and the pruned schema
    p should include("BatchScan")
    p should include("GreaterThan(id,3)")
    p should include regex "ReadSchema: struct<id:string[^>]*>"
    p should not include "embedding:"
    new graft.table.VectorTable(spark, root, 1).drop()
  }

  test("gvdb COUNT(*) is answered from footers + tombstones, never a data scan") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = tempDir("graft-planshape-cnt") + "/t"
    (0 until 60).map(i => (i.toString, "{}", Seq(i.toFloat)))
      .toDF("id", "metadata", "embedding")
      .write.format("gvdb").option("dim", "1").mode("overwrite").save(root)
    val tbl = new graft.table.VectorTable(spark, root, 1)
    tbl.delete(col("id").startsWith("1")) // 1, 10..19 → 11 tombstones
    val q = spark.read.format("gvdb").load(root).groupBy().count()
    val p = q.queryExecution.executedPlan.toString
    // complete aggregate pushdown: the scan itself reports the pushed
    // COUNT(*) and reads NO table columns — the answer is parquet
    // footer row counts minus the tombstone count, zero rows scanned
    p should include("PushedAggregates: [COUNT(*)]")
    p should not include regex("ReadSchema: struct<id")
    q.head().getLong(0) shouldBe 49L
    // a FILTERED count must abstain (footers can't see predicates) and
    // still be correct through the ordinary pushdown path
    val filtered = spark.read.format("gvdb").load(root)
      .where(col("id") > "3").groupBy().count()
    filtered.queryExecution.executedPlan
      .toString should not include "PushedAggregates"
    filtered.head().getLong(0) shouldBe
      (0 until 60).count(i => i.toString > "3" && !i.toString.startsWith("1")).toLong
    // a version-pinned count pushes too: the manifest's footers minus
    // the snapshot-recorded tombstones — and stays pinned (immune to
    // the later delete)
    val v = tbl.snapshot()
    tbl.delete(col("id") === "42")
    val pinned = spark.read.format("gvdb").option("versionAsOf", v.toString)
      .load(root).groupBy().count()
    pinned.queryExecution.executedPlan
      .toString should include("PushedAggregates: [COUNT(*)]")
    pinned.head().getLong(0) shouldBe 49L
    spark.read.format("gvdb").load(root).groupBy().count()
      .head().getLong(0) shouldBe 48L
    tbl.drop()
  }
}
