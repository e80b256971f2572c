package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.filters.Filters
import graft.filters.Filters._
import graft.functions.TextKernels

class EdgeCaseSpec extends SparkSpec with Matchers {

  test("empty table: query returns empty, empty insert is a no-op") {
    import spark.implicits._
    val wh = tempDir("graft-edge")
    val db = new VectorDB(spark, "empty", wh, "hashing", Map("dim" -> "16"),
      dim = 16, newTable = true)
    db.numRows shouldBe 0L
    db.query("anything", k = 5).collect() shouldBe empty
    db.insert(spark.emptyDataset[String])
    db.numRows shouldBe 0L
  }

  test("malformed metadata JSON filters out, does not fail, in both filter paths") {
    import spark.implicits._
    val docs = Seq(
      """{"a": 5, "s": "ok"}""",
      """{broken json!!""",
      "",
      """{"a": 9}""").toDF("metadata")
    val preds: Seq[Pred] = Seq(Cmp("a", CmpOp.Gt, 1))
    docs.where(Filters.compile(preds, col("metadata"))).count() shouldBe 2
    docs.where(Filters.compileVariant(preds, col("metadata"))).count() shouldBe 2
  }

  test("unicode and emoji survive the full text kernel set deterministically") {
    val texts = Seq(
      "héllo wörld müller straße çöğüş 你好 世界 测试 文本 数据",
      "emoji 🎉 test 🚀 with 🌍 many 🎯 symbols 🔥 here ✨ done",
      "mixed ascii ελληνικά русский 日本語 한국어 with spaces")
    texts.foreach { t =>
      val w = TextKernels.words(t)
      val sh = TextKernels.shingles(w, 3)
      sh should not be empty
      TextKernels.minhashSig(sh, 8).toSeq shouldBe TextKernels.minhashSig(sh, 8).toSeq
      TextKernels.simhash(w) shouldBe TextKernels.simhash(w)
      TextKernels.winnowFingerprints(t, 8, 4).toSeq shouldBe
        TextKernels.winnowFingerprints(t, 8, 4).toSeq
    }
  }

  test("unicode document round-trips insert + query with stable content id") {
    import spark.implicits._
    val wh = tempDir("graft-edge-uni")
    val db = new VectorDB(spark, "uni", wh, "hashing", Map("dim" -> "16"),
      dim = 16, newTable = true)
    val doc = """{"name": "müller 你好 🎉", "text": "unicode content body"}"""
    db.insert(Seq(doc).toDS(), embedField = Some("text"))
    db.insert(Seq(doc).toDS(), embedField = Some("text")) // dedup on re-insert
    db.numRows shouldBe 1L
    val hit = db.query("unicode content", k = 1).collect()
    hit.head.metadata shouldBe doc
  }

  test("corrupt JSONL lines quarantine under PERMISSIVE mode instead of failing the job") {
    import spark.implicits._
    val dir = tempDir("graft-corrupt")
    Seq(
      """{"doc_id": 1, "text": "good one"}""",
      """{"doc_id": 2, "text": "truncated""", // bad
      """not json at all""", // bad
      """{"doc_id": 4, "text": "good two"}"""
    ).toDF("value").coalesce(1).write.mode("overwrite").text(dir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_corrupt_record", org.apache.spark.sql.types.StringType)))
    val parsed = spark.read.schema(schema)
      .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir).cache() // cache: querying _corrupt_record alone is disallowed uncached
    parsed.where(col("_corrupt_record").isNull).count() shouldBe 2L
    parsed.where(col("_corrupt_record").isNotNull).count() shouldBe 2L
    parsed.where(col("_corrupt_record").isNull)
      .select("doc_id").as[Long].collect().sorted shouldBe Seq(1L, 4L)
    parsed.unpersist()
  }

  test("round-4 operators on degenerate inputs: empties, misses, tiny shortlists") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma"), (2L, "")).toDF("doc_id", "text")
    // bm25: term absent from the corpus → empty result, no failure
    graft.ops.LexicalSearch.bm25(docs, "doc_id", "text", Seq("zzzmissing"))
      .count() shouldBe 0L
    // bm25: empty term list rejected eagerly
    an[IllegalArgumentException] should be thrownBy
      graft.ops.LexicalSearch.bm25(docs, "doc_id", "text", Seq.empty)
    // substring spans: stride > window rejected; all-short corpus → empty
    an[IllegalArgumentException] should be thrownBy
      graft.ops.Dedup.duplicatedSpans(docs, "doc_id", "text", w = 5, stride = 6)
    graft.ops.Dedup.duplicatedSpans(docs, "doc_id", "text", w = 20, stride = 10)
      .count() shouldBe 0L
    // gopher kernel: empty text yields zeroed metrics, not NaN/crash
    val g = graft.ops.TextAnalysis.gopherQuality(docs, "doc_id", "text")
      .where($"doc_id" === 2L).collect().head
    g.getAs[Boolean]("r_words") shouldBe false // 1 empty token < 50 words
    g.getAs[Boolean]("r_symbol") shouldBe true // 0/1 ratio, no NaN
    // mmr: k larger than the shortlist returns every shortlist row ranked
    val emb = Seq((1L, Seq(1f, 0f), 0.0), (2L, Seq(0f, 1f), 0.5))
      .toDF("vec_id", "embedding", "distance")
    val mmr = graft.ops.Similarity.mmrRerank(emb, k = 10, shortlist = 50)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    mmr.map(_._2).sorted.toSeq shouldBe Seq(1, 2)
  }

  test("q_mad on a constant column: MAD = 0 reports zero modified-z, never NaN") {
    import spark.implicits._
    val dir = tempDir("graft-mad-edge")
    // every total identical -> every deviation 0 -> mad4 = 0: the
    // modified z-score is undefined (0/0) and must guard to 0.0
    (1 to 7).map(i => (i.toLong, 100.00)).toDF("o_orderkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val row = SparkEntry.queries("q_mad")(spark, dir).collect().head
    core.PlanCache.release(spark)
    row.getAs[Long]("n") shouldBe 7L
    row.getAs[Double]("median") shouldBe 100.0
    row.getAs[Double]("mad") shouldBe 0.0
    row.getAs[Long]("n_outliers") shouldBe 0L
    val z = row.getAs[Double]("max_zmod")
    assert(!z.isNaN && z == 0.0, s"expected guarded 0.0, got $z")
  }

  test("round-5 curation operators on degenerate inputs") {
    import spark.implicits._
    // semantic dedup: singleton corpus — one cluster, no near-dup pairs
    val one = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val sd = graft.ops.Dedup.semanticDedup(one, "vec_id", "embedding",
      graft.ops.Dedup.seedCentroids(one, "vec_id", "embedding", 4), 0.5).collect()
    core.PlanCache.release(spark)
    sd.length shouldBe 1
    sd.head.getAs[Long]("n_members") shouldBe 1L
    sd.head.getAs[Long]("n_dropped") shouldBe 0L
    // dsir with ZERO target docs: smoothing keeps log-weights finite;
    // ranking degrades to least-source-typical first, still total
    val docs = Seq((1L, "aa bb cc", "x"), (2L, "aa aa aa", "x")).toDF("doc_id", "text", "d")
    val ds = graft.ops.TextAnalysis.dsirScores(docs, "doc_id", "text",
      isTarget = lit(false), buckets = 8, topK = 5).collect()
    core.PlanCache.release(spark)
    ds.length shouldBe 2
    ds.foreach(r => assert(!r.getAs[Double]("dsir_score").isNaN))
    // vocab larger than the token universe: nothing is OOV
    val vo = graft.ops.TextAnalysis.vocabOov(docs, "doc_id", "d", "text", vocabSize = 1000)
      .collect()
    core.PlanCache.release(spark)
    vo.head.getAs[Double]("max_oov") shouldBe 0.0
    // cross-shard with empty incoming: no candidates, no rows, no crash
    val none = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val cs = graft.ops.Dedup.crossShardNearDups(
      docs.select($"doc_id", $"text"), none, "doc_id", "text", 2, 4, 2, 0.5)
    cs.count() shouldBe 0L
    core.PlanCache.release(spark)
  }

  test("phrase search and BPE degrade gracefully on empty/degenerate corpora") {
    import spark.implicits._
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    graft.ops.LexicalSearch.phraseSearch(noDocs, "doc_id", "text", Seq("a", "b"))
      .collect() shouldBe empty
    graft.core.PlanCache.release(spark)
    // single-char-word corpus: no pairs anywhere, phrase finds nothing
    val singles = Seq((1L, "a b c"), (2L, "x")).toDF("doc_id", "text")
    graft.ops.LexicalSearch.phraseSearch(singles, "doc_id", "text", Seq("q", "r"))
      .collect() shouldBe empty
    graft.core.PlanCache.release(spark)
  }

  test("bitext margin mining: candidate pool smaller than k still mines, empty side yields empty") {
    import spark.implicits._
    val a = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f))).toDF("vec_id", "embedding")
    val b = Seq((10L, Array(0.9f, 0.1f))).toDF("vec_id", "embedding") // |B| = 1 < k
    val out = graft.ops.Similarity.bitextMarginPairs(a, a, b, k = 4).collect()
    graft.core.PlanCache.release(spark)
    // with one candidate, sim == fwd_avg for each query; margin hinges on
    // the backward leg — whatever survives must be one pair per query
    out.map(_.getLong(0)).distinct.length shouldBe out.length
    val none = graft.ops.Similarity.bitextMarginPairs(
      a, a, Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding"), k = 4).collect()
    graft.core.PlanCache.release(spark)
    none shouldBe empty
  }

  test("label propagation with no seeds leaves every node unlabeled (-1 census)") {
    val edges = spark.createDataFrame(Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 1L)))
      .toDF("src", "dst")
    val noSeeds = spark.createDataFrame(Seq.empty[(Long, Long)]).toDF("id", "label")
    val census = graft.ops.Graph.labelPropagation(edges, noSeeds, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.core.PlanCache.release(spark)
    census shouldBe Map(-1L -> 3L)
  }

  test("trained langid with an EMPTY train split predicts und for every test doc") {
    import spark.implicits._
    val docs = Seq((1L, "en", "abc def"), (2L, "de", "ghi jkl"))
      .toDF("doc_id", "lang", "text")
    val census = graft.ops.TextAnalysis.langIdNgram(docs, "doc_id", "lang", "text",
        isTrain = lit(false))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    graft.core.PlanCache.release(spark)
    census shouldBe Map(("en", "und") -> 1L, ("de", "und") -> 1L)
  }

  test("bpe on an empty corpus yields an empty census, not a crash") {
    import spark.implicits._
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    graft.ops.Bpe.tokenCensus(noDocs, col("text"), rounds = 2, topN = 5)
      .collect() shouldBe empty
    graft.core.PlanCache.release(spark)
  }

  test("bq cascade with empty candidates returns no neighbors; single-dim vectors encode") {
    import spark.implicits._
    val q = Seq((0L, Seq(1f, -1f))).toDF("vec_id", "embedding")
    val none = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    graft.ops.Similarity.bqTopK(q, none, k = 3).collect() shouldBe empty
    // a 1-dim corpus (single pad-heavy byte) still round-trips
    val one = Seq((1L, Seq(1f)), (2L, Seq(-1f))).toDF("vec_id", "embedding")
    val r = graft.ops.Similarity.bqTopK(Seq((9L, Seq(1f))).toDF("vec_id", "embedding"),
      one, k = 1, coarseFactor = 2, fineFactor = 2).collect()
    r.map(_.getLong(1)).toSeq shouldBe Seq(1L)
  }

  test("filtered IVF probe with a predicate matching nothing returns zero rows for every query") {
    import spark.implicits._
    val emb = (0L until 20L).map(i =>
      (i, Seq(math.sin(i * 0.7).toFloat, math.cos(i * 1.3).toFloat), (i % 3).toInt))
      .toDF("vec_id", "embedding", "label")
    val idx = graft.ops.MlAnn.ivfBuild(emb, nCells = 2, keepCols = Seq("label"))
    graft.ops.MlAnn.ivfProbeFiltered(idx, emb.where($"vec_id" < 2), k = 3,
      nProbe = 2, pred = $"label" === 99).collect() shouldBe empty
  }

  test("JsonFileList round-trips hostile file names at log-entry scale") {
    import graft.core.JsonFileList
    // quotes, backslashes, unicode, a name containing the "files" key,
    // and a bracket — everything that could confuse a naive parser
    val hostile = Seq(
      """/a/part-quote"inside.parquet""",
      """/a/part-back\slash.parquet""",
      "/a/part-ünicøde-日本.parquet",
      """/a/part-"files": ["x"].parquet""",
      "/a/part-bracket].parquet")
    JsonFileList.parse(JsonFileList.render(hostile)) shouldBe hostile.sorted
    // linear scan survives the file counts a 100 TB table reaches —
    // the retired backtracking regex stack-overflowed near 10^3 names
    val big = (0 until 50000).map(i => f"/warehouse/tbl/part-$i%06d-abc.snappy.parquet")
    JsonFileList.parse(JsonFileList.render(big)) should have size 50000
    // only the CONTENTS of the files array are read
    JsonFileList.parse("""{"ts": 123, "files": ["/a/p1", "/a/p2"], "other": ["zzz"]}""") shouldBe
      Seq("/a/p1", "/a/p2")
    JsonFileList.parse("""{"nofiles": ["/a/p1"]}""") shouldBe Seq.empty
  }
}
