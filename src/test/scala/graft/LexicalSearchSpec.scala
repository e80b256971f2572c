package graft

import org.apache.spark.sql.functions._

import graft.ops.LexicalSearch

class LexicalSearchSpec extends SparkSpec {
  import spark.implicits._

  // df(rare)=3 (docs 1,3,5), df(common)=4 (docs 1,2,3,6) → idf(rare) > idf(common)
  private lazy val docs = Seq(
    (1L, "rare common common filler filler"),   // rare x1, common x2
    (2L, "common filler filler filler filler"), // common only
    (3L, "rare rare common filler filler"),     // rare x2, common x1
    (4L, "filler filler filler filler filler"), // no query term
    (5L, "rare"),                               // short doc, rare term
    (6L, "common filler filler filler filler")
  ).toDF("doc_id", "text")

  test("bm25: idf and tf ordering, non-matching docs absent") {
    val scored = LexicalSearch.bm25(docs, "doc_id", "text", Seq("rare", "common"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(!scored.contains(4L), "doc with no query term must not appear")
    // rare has higher idf, so shifting a tf from common to rare raises the score
    assert(scored(3L) > scored(1L))
    // more matched mass beats less: doc 1 (rare+common) over doc 2 (one common)
    assert(scored(1L) > scored(2L))
    // length normalization: doc 5 (dl=1, rare x1) beats doc 2 (dl=5, common x1)
    assert(scored(5L) > scored(2L))
  }

  test("bm25 matches the hand-computed Okapi formula") {
    val scored = LexicalSearch.bm25(docs, "doc_id", "text", Seq("rare"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val N = 6.0; val df = 3.0; val avgdl = 26.0 / 6.0
    val idf = math.log(1.0 + (N - df + 0.5) / (df + 0.5))
    def s(tf: Double, dl: Double) =
      idf * tf * 2.2 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
    assert(math.abs(scored(1L) - s(1, 5)) < 1e-12)
    assert(math.abs(scored(3L) - s(2, 5)) < 1e-12)
    assert(math.abs(scored(5L) - s(1, 1)) < 1e-12)
  }

  test("rankedTopK bounds the shortlist and ranks 1..k deterministically") {
    val scored = LexicalSearch.bm25(docs, "doc_id", "text", Seq("rare", "common"))
    val ranked = LexicalSearch.rankedTopK(scored, "doc_id",
      Seq(col("score").desc, col("doc_id").asc), 3).collect()
    assert(ranked.map(_.getInt(1)).sorted.toSeq == Seq(1, 2, 3))
    // physical plan takes the top-k with heaps, not a global sort
    val plan = scored.orderBy(col("score").desc, col("doc_id").asc).limit(3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("rrfFuse: both-list docs beat single-list docs at equal rank") {
    val a = Seq((1L, 1), (2L, 2)).toDF("doc_id", "rank")
    val b = Seq((1L, 2), (3L, 1)).toDF("doc_id", "rank")
    val rrf = LexicalSearch.rrfFuse(a, b, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(rrf(1L) - (1.0 / 61 + 1.0 / 62)) < 1e-12)
    assert(math.abs(rrf(2L) - 1.0 / 62) < 1e-12)
    assert(math.abs(rrf(3L) - 1.0 / 61) < 1e-12)
    assert(rrf(1L) > rrf(3L) && rrf(3L) > rrf(2L))
  }

  test("invertedIndex: df counts docs once, prefix is bounded and sorted") {
    import spark.implicits._
    val df = Seq(
      (3L, "b b b a"),   // repeated term counts once toward df
      (1L, "a c"),
      (2L, "a b")
    ).toDF("doc_id", "text")
    val out = LexicalSearch.invertedIndex(df, "doc_id", "text", prefixLen = 2)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    graft.core.PlanCache.release(spark)
    assert(out("a") == ((3L, "1,2")))  // prefix capped at 2, lowest ids, sorted
    assert(out("b") == ((2L, "2,3")))  // b's repeat in doc 3 counted once
    assert(out("c") == ((1L, "1")))
    assert(out.keySet == Set("a", "b", "c"))
  }

  test("bm25 keeps the arrays_overlap prune ahead of the explode on a file source") {
    // a LocalRelation input would be constant-folded at optimization time,
    // so prove the plan shape against a real parquet scan
    val dir = tempDir("graft-bm25")
    docs.write.mode("overwrite").parquet(s"$dir/docs")
    val fromFile = spark.read.parquet(s"$dir/docs")
    val plan = LexicalSearch.bm25(fromFile, "doc_id", "text", Seq("rare"))
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("arrays_overlap"))
  }

  test("phraseSearch counts only adjacent occurrences, duplicate-term phrases included") {
    val pd = Seq(
      (1L, "alpha beta gamma"),       // one "beta gamma"
      (2L, "beta filler gamma"),      // words present but apart -> no hit
      (3L, "beta gamma beta gamma"),  // two occurrences
      (4L, "gamma beta"),             // reversed -> no hit
      (5L, "beta beta beta")          // for the duplicate-term phrase below
    ).toDF("doc_id", "text")
    val hits = LexicalSearch.phraseSearch(pd, "doc_id", "text", Seq("beta", "gamma"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.core.PlanCache.release(spark)
    assert(hits == Map(1L -> 1L, 3L -> 2L)) // 2, 4, 5 absent, not zero-rowed
    val dup = LexicalSearch.phraseSearch(pd, "doc_id", "text", Seq("beta", "beta"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.core.PlanCache.release(spark)
    assert(dup == Map(5L -> 2L)) // overlapping starts both count; doc 3's betas are 2 apart
  }

  test("phraseSearch prunes postings to the phrase terms before the joins") {
    val pd = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
    val plan = LexicalSearch.phraseSearch(pd, "doc_id", "text", Seq("beta", "gamma"))
      .queryExecution.optimizedPlan.toString
    graft.core.PlanCache.release(spark)
    assert(plan.contains("IN (beta,gamma)") || plan.contains("term IN"),
      s"posting prune missing from plan:\n$plan")
  }
}
