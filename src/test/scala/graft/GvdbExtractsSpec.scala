package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.table.VectorTable

/** Materialized JSON-path extract columns + the JSON-filter pushdown
  * rule (sources/GvdbExtracts.scala, plans/GvdbJsonFilterRule.scala):
  * file-skipping for the reference's flagship filtered-query shape. */
class GvdbExtractsSpec extends SparkSpec with Matchers {

  private def freshRoot(tag: String): String =
    tempDir(s"graft-xspec-$tag") + "/tbl"

  private val langs = Seq("en", "fr", "de", "es", "it")

  private def rows(ids: Range): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toString,
        s"""{"lang":"${langs(i % langs.size)}","n":${i % 100}}""",
        Seq(i.toFloat)))
      .toDF("id", "metadata", "embedding")
  }

  private val recsRead = new java.util.concurrent.atomic.AtomicLong
  private def measure[T](body: => T): (T, Long) = {
    Thread.sleep(400) // listener bus is async
    recsRead.set(0L)
    val r = body
    Thread.sleep(600)
    (r, recsRead.get)
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) {
          recsRead.addAndGet(te.taskMetrics.inputMetrics.recordsRead); ()
        }
    })
  }

  test("extract columns: json filters map into the scan and prune files") {
    val root = freshRoot("prune")
    rows(0 until 1000).write.format("gvdb").option("dim", "1")
      .option("extractPaths", "$.lang").mode(SaveMode.Overwrite).save(root)
    // contract schema unchanged — the extract column never leaks
    val tbl = spark.read.format("gvdb").load(root)
    tbl.columns.toSeq shouldBe Seq("id", "metadata", "embedding")
    val q = tbl.where(get_json_object(col("metadata"), "$.lang") === "fr")
    // the conjunct moved INTO the scan (visible in the description)…
    val plan = q.queryExecution.executedPlan.toString
    plan should include("PushedJsonFilters")
    plan should include("__x_lang")
    // …and evaluates exactly: same rows as the unmapped evaluation
    val got = q.select("id").collect().map(_.getString(0)).sorted
    got shouldBe (0 until 1000).filter(i => langs(i % langs.size) == "fr")
      .map(_.toString).sorted.toArray
    // file pruning: the clustered layout stores few langs per file, so
    // the filtered scan reads well under the full 1000 rows
    val (_, recs) = measure(q.select("id").collect())
    recs should be < 600L
    // a filter on an UNEXTRACTED path stays above the scan, still correct
    val q2 = tbl.where(get_json_object(col("metadata"), "$.n") === "7")
    q2.queryExecution.executedPlan.toString should not include "PushedJsonFilters"
    q2.count() shouldBe (0 until 1000).count(_ % 100 == 7).toLong
    // mixed shapes map too (cast around the extract): exact, no pruning claim
    val q3 = tbl.where(get_json_object(col("metadata"), "$.lang").isin("fr", "de"))
    q3.count() shouldBe (0 until 1000)
      .count(i => Set("fr", "de")(langs(i % langs.size))).toLong
    new VectorTable(spark, root, 1).drop()
  }

  test("extract columns survive append, delete, vacuum, and MoR semantics") {
    val root = freshRoot("life")
    rows(0 until 200).write.format("gvdb").option("dim", "1")
      .option("extractPaths", "$.lang").mode(SaveMode.Overwrite).save(root)
    // append recomputes the columns for the new files
    rows(200 until 400).write.format("gvdb").mode(SaveMode.Append).save(root)
    def frCount = spark.read.format("gvdb").load(root)
      .where(get_json_object(col("metadata"), "$.lang") === "fr").count()
    val expected = (0 until 400).count(i => langs(i % langs.size) == "fr").toLong
    frCount shouldBe expected
    // MoR delete: mapped filters still see the anti-joined view
    new VectorTable(spark, root, 1).delete(col("id") === "1") // 1 is fr
    frCount shouldBe expected - 1
    // vacuum rewrites the data and must RECOMPUTE the extracts
    new VectorTable(spark, root, 1).vacuum()
    frCount shouldBe expected - 1
    spark.read.format("gvdb").load(root)
      .where(get_json_object(col("metadata"), "$.lang") === "fr")
      .queryExecution.executedPlan.toString should include("PushedJsonFilters")
    new VectorTable(spark, root, 1).drop()
  }

  test("opting a non-empty table in is rejected; empty-table opt-in works") {
    val root = freshRoot("guard")
    rows(0 until 10).write.format("gvdb").option("dim", "1")
      .mode(SaveMode.Overwrite).save(root)
    val ex = intercept[Exception] {
      rows(10 until 20).write.format("gvdb")
        .option("extractPaths", "$.lang").mode(SaveMode.Append).save(root)
    }
    ex.getMessage should include("empty table")
    // overwrite adopts (the table is re-created empty first)
    rows(0 until 10).write.format("gvdb").option("dim", "1")
      .option("extractPaths", "$.lang").mode(SaveMode.Overwrite).save(root)
    // …and the option re-asserted on a later append is an idempotent no-op
    rows(10 until 20).write.format("gvdb")
      .option("extractPaths", "$.lang").mode(SaveMode.Append).save(root)
    spark.read.format("gvdb").load(root)
      .where(get_json_object(col("metadata"), "$.lang") === "en")
      .count() shouldBe (0 until 20).count(i => langs(i % langs.size) == "en").toLong
    new VectorTable(spark, root, 1).drop()
  }
}
