package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.plans.AnnRewriteRule

class AnnRewriteSpec extends SparkSpec with Matchers {

  test("ANN rewrite injects an LSH bucket prefilter into brute-force knn plans") {
    import spark.implicits._
    spark.experimental.extraOptimizations = Seq(new AnnRewriteRule(spark))
    try {
      val wh = tempDir("graft-ann")
      val db = new VectorDB(spark, "t", wh, "hashing", Map("dim" -> "16"), dim = 16, newTable = true)
      val docs = (0 until 200).map(i =>
        s"""{"id": $i, "text": "topic ${i % 5} document $i with words about subject ${i % 5}"}""")
      db.insert(docs.toDS(), embedField = Some("text"))

      val qvec = db.embedder.embed("topic 3 subject")
      // rewrite OFF: plan has no arrays_overlap
      val plainPlan = db.queryByVector(qvec, 10).queryExecution.optimizedPlan.toString
      plainPlan should not include "arrays_overlap"
      val exact = db.queryByVector(qvec, 10).collect().map(_.id).toSet

      // rewrite ON: prefilter appears, and on clustered data recall holds
      spark.conf.set("spark.graft.ann.autoRewrite", "true")
      spark.conf.set("spark.graft.ann.bits", "2") // coarse buckets → high recall
      spark.conf.set("spark.graft.ann.tables", "8")
      val q = db.queryByVector(qvec, 10)
      val annPlan = q.queryExecution.optimizedPlan.toString
      annPlan should include("arrays_overlap")
      val approx = q.collect().map(_.id).toSet
      (exact intersect approx).size.toDouble / exact.size should be >= 0.8
    } finally {
      spark.conf.set("spark.graft.ann.autoRewrite", "false")
      spark.experimental.extraOptimizations = Nil
    }
  }

  test("rewrite composes with a FILTERED kNN: bucket prefilter + pushed json filter coexist") {
    import spark.implicits._
    spark.experimental.extraOptimizations = Seq(new AnnRewriteRule(spark))
    try {
      val wh = tempDir("graft-ann-filt")
      val db = new VectorDB(spark, "t", wh, "hashing", Map("dim" -> "16"), dim = 16, newTable = true)
      val docs = (0 until 200).map(i =>
        s"""{"id": $i, "text": "topic ${i % 5} document $i with words about subject ${i % 5}"}""")
      db.insert(docs.toDS(), embedField = Some("text"))
      db.table.buildAnnIndex(tables = 8, bits = 2)

      val qvec = db.embedder.embed("topic 3 subject")
      // the reference's filtered k-NN shape (duckvdb.py:110-116): a
      // metadata predicate UNDER the distance projection
      val filters = Seq(graft.filters.Filters.Cmp("id", graft.filters.Filters.CmpOp.Lt, 100))
      val exact = db.queryByVector(qvec, 10, filters).collect().map(_.id).toSet
      spark.conf.set("spark.graft.ann.autoRewrite", "true")
      val q = db.queryByVector(qvec, 10, filters)
      val optimized = q.queryExecution.optimizedPlan.toString
      optimized should include("arrays_overlap")     // bucket prefilter injected
      optimized should include("get_json_object")    // the json filter survives
      val approx = q.collect().map(_.id).toSet
      (exact intersect approx).size.toDouble / exact.size should be >= 0.8
    } finally {
      spark.conf.set("spark.graft.ann.autoRewrite", "false")
      spark.experimental.extraOptimizations = Nil
    }
  }

  test("rewrite toggle is session-isolated: a child session's rule never leaks to the parent") {
    import spark.implicits._
    val wh = tempDir("graft-ann-iso")
    val db = new VectorDB(spark, "t", wh, "hashing", Map("dim" -> "16"), dim = 16, newTable = true)
    val docs = (0 until 200).map(i =>
      s"""{"id": $i, "text": "topic ${i % 5} document $i with words about subject ${i % 5}"}""")
    db.insert(docs.toDS(), embedField = Some("text"))
    db.table.buildAnnIndex(tables = 8, bits = 2)
    val qvec = db.embedder.embed("topic 3 subject")

    // the ann_index_probe pattern: rule + toggle live ONLY in a child session
    val s2 = spark.newSession()
    s2.experimental.extraOptimizations = Seq(new AnnRewriteRule(s2))
    s2.conf.set("spark.graft.ann.autoRewrite", "true")
    try {
      val db2 = new VectorDB(s2, "t", wh, "hashing", Map("dim" -> "16"), dim = 16)
      db2.table.pinAnnConfs() // fresh session: hash family comes from the persisted meta
      val childPlan = db2.queryByVector(qvec, 10).queryExecution.optimizedPlan.toString
      childPlan should include("arrays_overlap") // child sees the rewrite...

      // ...while a CONCURRENT query planned on the parent session, with
      // the child's toggle still on, is never rewritten
      val parentPlan = db.queryByVector(qvec, 10).queryExecution.optimizedPlan.toString
      parentPlan should not include "arrays_overlap"
      spark.experimental.extraOptimizations shouldBe empty
      spark.conf.get("spark.graft.ann.autoRewrite", "false") shouldBe "false"
      // and both legs execute correctly side by side
      val exact = db.queryByVector(qvec, 10).collect().map(_.id).toSet
      val approx = db2.queryByVector(qvec, 10).collect().map(_.id).toSet
      (exact intersect approx).size.toDouble / exact.size should be >= 0.8
    } finally {
      s2.conf.set("spark.graft.ann.autoRewrite", "false")
      s2.experimental.extraOptimizations = Nil
    }
  }

  test("persisted HNSW graph: rewrite plants the planner-probe IN-filter, no corpus distance scoring") {
    import spark.implicits._
    spark.experimental.extraOptimizations = Seq(new AnnRewriteRule(spark))
    try {
      val wh = tempDir("graft-ann-graph")
      val db = new VectorDB(spark, "t", wh, "hashing", Map("dim" -> "16"), dim = 16, newTable = true)
      val docs = (0 until 200).map(i =>
        s"""{"id": $i, "text": "topic ${i % 5} document $i with words about subject ${i % 5}"}""")
      db.insert(docs.toDS(), embedField = Some("text"))
      db.table.buildHnswIndex()
      val qvec = db.embedder.embed("topic 3 subject")
      // useIndex=false: the BRUTE-FORCE plan shape, exactly what a user
      // hand-writing the scan would produce — the exact leg while the
      // rewrite is off
      val exact = db.queryByVector(qvec, 10, useIndex = false).collect()
      spark.conf.set("spark.graft.ann.autoRewrite", "true")
      val q = db.queryByVector(qvec, 10, useIndex = false)
      val optimized = q.queryExecution.optimizedPlan.toString
      // graph shape won: candidate-key IN-filter, not the LSH overlap —
      // the distance expression survives UNCHANGED above the filter, so
      // it scores only the probe's k+slack candidates
      optimized should include("xxhash64")
      optimized should not include "arrays_overlap"
      // the filter sits BELOW the distance projection in the plan
      optimized.indexOf("xxhash64") should be > optimized.indexOf("cosine_distance")
      val approx = q.collect()
      val recall = (exact.map(_.id).toSet intersect approx.map(_.id).toSet).size.toDouble / exact.size
      recall should be >= 0.9
      // distances of recovered rows are bit-identical to the exact leg
      // (same expression, same rounding — only the candidate set moved)
      val exactById = exact.map(r => r.id -> r.distance).toMap
      approx.filter(r => exactById.contains(r.id))
        .foreach(r => r.distance shouldBe exactById(r.id))
    } finally {
      spark.conf.set("spark.graft.ann.autoRewrite", "false")
      spark.experimental.extraOptimizations = Nil
    }
  }

  test("graph-probe rewrite keeps filtered plans on the LSH shape (global candidates would under-return)") {
    import spark.implicits._
    spark.experimental.extraOptimizations = Seq(new AnnRewriteRule(spark))
    try {
      val wh = tempDir("graft-ann-graph-f")
      val db = new VectorDB(spark, "t", wh, "hashing", Map("dim" -> "16"), dim = 16, newTable = true)
      val docs = (0 until 200).map(i =>
        s"""{"id": $i, "text": "topic ${i % 5} document $i with words about subject ${i % 5}"}""")
      db.insert(docs.toDS(), embedField = Some("text"))
      db.table.buildHnswIndex()
      spark.conf.set("spark.graft.ann.autoRewrite", "true")
      spark.conf.set("spark.graft.ann.bits", "2")
      val qvec = db.embedder.embed("topic 3 subject")
      val filters = Seq(graft.filters.Filters.Cmp("id", graft.filters.Filters.CmpOp.Lt, 100))
      val q = db.queryByVector(qvec, 10, filters, useIndex = false)
      val optimized = q.queryExecution.optimizedPlan.toString
      // the predicate between projection and scan disqualifies the
      // global-candidate probe; the conjunction-safe LSH shape applies
      optimized should include("arrays_overlap")
      optimized should not include "xxhash64"
      q.collect().length should be > 0
    } finally {
      spark.conf.set("spark.graft.ann.autoRewrite", "false")
      spark.conf.set("spark.graft.ann.bits", "12")
      spark.experimental.extraOptimizations = Nil
    }
  }

  test("graph probe with an empty or lost graph falls back to the LSH shape, never zero rows") {
    import spark.implicits._
    spark.experimental.extraOptimizations = Seq(new AnnRewriteRule(spark))
    try {
      val wh = tempDir("graft-ann-empty")
      val db = new VectorDB(spark, "t", wh, "hashing", Map("dim" -> "16"), dim = 16, newTable = true)
      val docs = (0 until 200).map(i =>
        s"""{"id": $i, "text": "topic ${i % 5} document $i with words about subject ${i % 5}"}""")
      db.insert(docs.toDS(), embedField = Some("text"))
      db.table.buildHnswIndex()
      // overwrite the graph with ZERO rows (schema intact): the planning
      // probe now surfaces no candidates — In(xxhash64(id), Nil) would
      // optimizer-fold to false and the query would return 0 rows
      val graphPath = s"$wh/t.hnsw"
      val empty = spark.read.parquet(graphPath).where(lit(false))
      val tmp = tempDir("graft-ann-empty-g")
      empty.write.mode("overwrite").parquet(tmp)
      spark.read.parquet(tmp).write.mode("overwrite").parquet(graphPath)
      spark.conf.set("spark.graft.ann.autoRewrite", "true")
      spark.conf.set("spark.graft.ann.bits", "2")
      val qvec = db.embedder.embed("topic 3 subject")
      val q = db.queryByVector(qvec, 10, useIndex = false)
      val optimized = q.queryExecution.optimizedPlan.toString
      optimized should include("arrays_overlap") // fell back to shape 2
      optimized should not include "xxhash64"
      q.collect().length shouldBe 10
      // unreadable graph (directory gone, sidecar still present): same
      // fallback — a planning-time index consult degrades, never fails
      val fs = new org.apache.hadoop.fs.Path(graphPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(graphPath), true)
      val q2 = db.queryByVector(qvec, 10, useIndex = false)
      q2.queryExecution.optimizedPlan.toString should include("arrays_overlap")
      q2.collect().length shouldBe 10
    } finally {
      spark.conf.set("spark.graft.ann.autoRewrite", "false")
      spark.conf.set("spark.graft.ann.bits", "12")
      spark.experimental.extraOptimizations = Nil
    }
  }

  test("persisted ANN index: rewrite filters on stored buckets, not per-row recompute") {
    import spark.implicits._
    spark.experimental.extraOptimizations = Seq(new AnnRewriteRule(spark))
    try {
      val wh = tempDir("graft-ann-idx")
      val db = new VectorDB(spark, "t", wh, "hashing", Map("dim" -> "16"), dim = 16, newTable = true)
      val docs = (0 until 200).map(i =>
        s"""{"id": $i, "text": "topic ${i % 5} document $i with words about subject ${i % 5}"}""")
      db.insert(docs.toDS(), embedField = Some("text"))
      db.table.buildAnnIndex(tables = 8, bits = 2) // pins spark.graft.ann.* confs

      // index survives inserts: new rows carry buckets too
      db.insert(Seq("""{"id": 900, "text": "topic 3 subject extras"}""").toDS(),
        embedField = Some("text"))
      db.table.df.where(col(graft.core.VectorSchema.ANN_BUCKETS).isNull).count() shouldBe 0

      val qvec = db.embedder.embed("topic 3 subject")
      val exact = db.queryByVector(qvec, 10).collect().map(_.id).toSet
      spark.conf.set("spark.graft.ann.autoRewrite", "true")
      val q = db.queryByVector(qvec, 10)
      val optimized = q.queryExecution.optimizedPlan.toString
      optimized should include("arrays_overlap")
      optimized should include("__ann_buckets")
      // stored column used → no lsh_buckets recompute over the embedding
      optimized should not include "lsh_buckets(embedding"
      val approx = q.collect().map(_.id).toSet
      (exact intersect approx).size.toDouble / exact.size should be >= 0.8
    } finally {
      spark.conf.set("spark.graft.ann.autoRewrite", "false")
      spark.experimental.extraOptimizations = Nil
    }
  }
}
