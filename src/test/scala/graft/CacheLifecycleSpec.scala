package graft

import org.scalatest.matchers.should.Matchers

/** Explicit cache lifecycle (round-4 review item): transient mid-plan
  * persists registered through `PlanCache` die with the query that
  * created them (Verify releases after every query); memoized
  * session-lifetime tables (components, PQ/IVF-PQ codes) survive
  * between queries and die with the session via
  * `SparkEntry.releaseSessionCaches`. */
class CacheLifecycleSpec extends SparkSpec with Matchers {

  private val dir = "/root/testdata/sf0.001"

  // memo entries that hold a persisted plan (SessionMemo.cached)
  private def memoCount: Int = core.SessionMemo.cachedHeld(spark)

  test("every cache-registering query leaves only memoized tables after release") {
    val sc = spark.sparkContext
    SparkEntry.releaseSessionCaches(spark) // start from no memoized tables
    val baseline = sc.getPersistentRDDs.keySet // other suites share the context
    // the registry queries that persist mid-plan subtrees (minhash
    // signatures, BM25 tf, duplicated windows — directly or through an
    // op) or build memoized tables
    val names = Seq("search_bm25", "search_hybrid_rrf", "search_mmr", "search_ndcg",
      "dedup_minhash_lsh", "dedup_minhash_capped", "dedup_substring",
      "dedup_split_leakage", "dedup_incremental",
      "dedup_semantic", "text_dsir_select", "text_vocab_oov", "dedup_cross_shard",
      "pipeline_curation", "sim_rp_project", "text_unigram_nll",
      "text_quality_adaptive", "text_curriculum",
      "text_bigram_lm", "graph_pagerank", "graph_ppr", "graph_triangles",
      "graph_hits", "graph_link_pred", "drift_daily",
      "ml_minhash_dedup", "dedup_components", "dedup_keep_one",
      "sim_ann_pq", "sim_ann_ivfpq", "sim_decontaminate",
      "text_eval_contamination", "sim_dist_outliers", "search_inverted_index",
      "ann_ivfpq_incremental", "stream_ann_append", "ml_quality_classifier",
      "search_phrase", "sim_bitext_margin", "graph_label_prop",
      "pipeline_retrieval", "text_kneser_ney", "agg_sketch_algebra", "text_bpe_merges",
      "dedup_lines", "dedup_minhash_exact", "sim_decontaminate_exact")
    for (name <- names) {
      SparkEntry.queries(name)(spark, dir).queryExecution.toRdd.foreach(_ => ())
      core.PlanCache.release(spark)
      core.PlanCache.registered(spark) shouldBe 0
      val extra = sc.getPersistentRDDs.keySet -- baseline
      // each memoized table accounts for at most one cached plan;
      // anything beyond that is a leaked transient cache
      withClue(s"after $name: ${extra.size} persistent RDDs vs $memoCount memo tables: ") {
        extra.size should be <= memoCount
      }
      // this entry list fills only the components and PQ / IVF-PQ
      // code-table memos: the bound is no looser than those three
      memoCount shouldBe Seq(SparkEntry.componentsMemo.size(spark),
        SparkEntry.pqIndex.size(spark), SparkEntry.ivfpqIndex.size(spark)).sum
    }
    memoCount should be > 0 // the loop exercised the exemption, not a vacuous bound
    SparkEntry.releaseSessionCaches(spark)
    memoCount shouldBe 0
    withClue("after releaseSessionCaches: ") {
      (sc.getPersistentRDDs.keySet -- baseline) shouldBe empty
    }
  }

  test("releaseSessionCaches drops every session memo the session holds") {
    SparkEntry.runEntry(spark, "ann_hnsw_compact", "/root/testdata/sf0.001") shouldBe true
    SparkEntry.autoCompactMemo.size(spark) shouldBe 1
    SparkEntry.hnswCompactInputMemo.size(spark) shouldBe 1
    SparkEntry.releaseSessionCaches(spark)
    core.SessionMemo.held(spark) shouldBe 0
    core.SessionMemo.hits(spark) shouldBe 0
  }

  test("concurrent child sessions register and release caches independently") {
    val dir = "/root/testdata/sf0.001"
    val (s1, s2) = (spark.newSession(), spark.newSession())
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // both queries persist through PlanCache; they run in parallel on
      // isolated sessions of ONE context (the documented concurrency
      // pattern) and must not see each other's registrations
      val f1 = Future(SparkEntry.queries("search_bm25")(s1, dir).count())
      val f2 = Future(SparkEntry.queries("dedup_minhash_lsh")(s2, dir).count())
      Await.result(f1, 120.seconds) should be > 0L
      Await.result(f2, 120.seconds) should be >= 0L
      core.PlanCache.registered(s1) should be > 0
      core.PlanCache.registered(s2) should be > 0
      core.PlanCache.release(s1) // s1's release must not touch s2
      core.PlanCache.registered(s1) shouldBe 0
      core.PlanCache.registered(s2) should be > 0
      core.PlanCache.release(s2)
      core.PlanCache.registered(s2) shouldBe 0
      SparkEntry.releaseSessionCaches(s1)
      SparkEntry.releaseSessionCaches(s2)
    } finally pool.shutdown()
  }
}
