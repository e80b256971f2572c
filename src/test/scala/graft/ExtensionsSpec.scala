package graft

import org.scalatest.matchers.should.Matchers

import graft.functions.TextKernels

/** GraftExtensions function-injection surface: the builders must produce
  * working expressions (full withExtensions wiring needs a fresh
  * SparkContext, so here the builders are exercised through the same
  * registry path createOrReplaceTempFunction uses). */
class ExtensionsSpec extends SparkSpec with Matchers {

  test("extension-registered SQL functions evaluate the kernels") {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("shingles",
      exprs => graft.functions.ShinglesExpr(exprs(0), 3), "built-in")
    reg.createOrReplaceTempFunction("simhash",
      exprs => graft.functions.SimhashExpr(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction("cosine_distance",
      exprs => graft.functions.CosineDistance(exprs(0), exprs(1)), "built-in")

    val r = spark.sql(
      """SELECT shingles('a b c d', 3) AS sh,
        |       simhash('the quick brown fox') AS sim,
        |       cosine_distance(array(1.0f, 0.0f), array(0.0f, 1.0f)) AS d""".stripMargin).head()
    r.getSeq[String](0) shouldBe Seq("a b c", "b c d")
    r.getLong(1) shouldBe TextKernels.simhash(Array("the", "quick", "brown", "fox"))
    r.getDouble(2) shouldBe 1.0 +- 1e-12

    reg.createOrReplaceTempFunction("nfc_normalize",
      exprs => graft.functions.NfcNormalizeExpr(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction("winnow_fingerprints",
      exprs => graft.functions.WinnowExpr(exprs(0), 8, 4), "built-in")
    val r2 = spark.sql(
      "SELECT nfc_normalize('café') AS n, winnow_fingerprints('some passage of text') AS w")
      .head()
    r2.getString(0) shouldBe "caf\u00e9"
    r2.getSeq[Long](1) shouldBe
      TextKernels.winnowFingerprints("some passage of text", 8, 4).toSeq
  }

  test("quantization kernels reachable from SQL: bq round-trip and sq8 asymmetric distance") {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("bq_encode",
      exprs => graft.functions.BqEncodeExpr(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction("bq_hamming",
      exprs => graft.functions.BqHammingDistance(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction("bq_sign_cosine_distance",
      exprs => graft.functions.BqSignCosineDistance(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction("char_ngrams",
      exprs => graft.functions.CharNgramsExpr(exprs(0), 2), "built-in")
    val r = spark.sql(
      """SELECT bq_hamming(bq_encode(array(1.0f, -1.0f, 1.0f)),
        |                  bq_encode(array(1.0f, 1.0f, -1.0f))) AS hd,
        |       bq_sign_cosine_distance(array(3.0f, 4.0f),
        |                  bq_encode(array(1.0f, 1.0f))) AS d,
        |       char_ngrams('AbC', 2) AS g""".stripMargin).head()
    r.getInt(0) shouldBe 2
    // dot = 3+4 = 7, |q| = 5, |s| = sqrt(2)
    r.getDouble(1) shouldBe (1.0 - 7.0 / (5.0 * math.sqrt(2))) +- 1e-12
    r.getSeq[String](2) shouldBe Seq("ab", "bc")
  }

  test("GraftExtensions class instantiates (spark.sql.extensions entry point)") {
    new graft.plans.GraftExtensions() should not be null
  }

  test("gvdb table-valued functions: SQL scan/knn match the DataFrame path and fuse top-k") {
    import spark.implicits._
    graft.plans.GvdbTableFunctions.register(spark)
    val root = tempDir("graft-tvf") + "/tbl"
    // angles spread on the unit circle: distance to (1, 0) grows with i
    (0 until 50).map { i =>
      val a = i * 0.02
      (f"d$i%02d", "{}", Seq(math.cos(a).toFloat, math.sin(a).toFloat))
    }.toDF("id", "metadata", "embedding")
      .write.format("gvdb").option("dim", "2").mode("overwrite").save(root)

    spark.sql(s"SELECT count(*) AS n FROM gvdb_scan('$root')")
      .head().getLong(0) shouldBe 50L

    val knn = spark.sql(s"SELECT id, distance FROM gvdb_knn('$root', array(1.0, 0.0), 3)")
    knn.collect().map(_.getString(0)).toSeq shouldBe Seq("d00", "d01", "d02")
    // the SQL path gets the facade's plan: fused top-k, not a full sort
    knn.queryExecution.executedPlan.toString should include("TakeOrderedAndProject")

    new graft.table.VectorTable(spark, root, 2).drop()
  }

  test("SQL gvdb_knn is planner-accelerated by a persisted HNSW index") {
    import spark.implicits._
    val root = tempDir("graft-tvf-ann") + "/tbl"
    (0 until 200).map { i =>
      val a = i * 0.01
      (f"d$i%03d", "{}", Seq(math.cos(a).toFloat, math.sin(a).toFloat, 0f, 0f))
    }.toDF("id", "metadata", "embedding")
      .write.format("gvdb").option("dim", "4").mode("overwrite").save(root)
    new graft.table.VectorTable(spark, root, 4).buildHnswIndex()

    val s2 = spark.newSession()
    s2.experimental.extraOptimizations = Seq(new graft.plans.AnnRewriteRule(s2))
    s2.conf.set("spark.graft.ann.autoRewrite", "true")
    graft.plans.GvdbTableFunctions.register(s2)
    graft.plans.GvdbTableFunctions.register(spark) // exact leg, rule-free session
    val sql = s"SELECT id FROM gvdb_knn('$root', array(1.0, 0.0, 0.0, 0.0), 5)"

    val accelerated = s2.sql(sql)
    // the planning-time graph consult planted its candidate IN-filter
    // (xxhash64 surrogate keys), replacing the corpus distance scan
    accelerated.queryExecution.optimizedPlan.toString should include("xxhash64")
    val approx = accelerated.collect().map(_.getString(0)).toSet
    val exact = spark.sql(sql).collect().map(_.getString(0)).toSet
    (exact intersect approx).size.toDouble / exact.size should be >= 0.8
    new graft.table.VectorTable(spark, root, 4).drop()
  }
}
