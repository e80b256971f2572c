package graft

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.core.VectorSchema
import graft.table.VectorTable

class DeleteLifecycleSpec extends SparkSpec with Matchers {

  private def mkRows(ids: Range) = {
    import spark.implicits._
    ids.map(i => (i.toString, s"""{"k":$i}""", Array.fill(4)(i.toFloat)))
      .toDF(VectorSchema.ID, VectorSchema.METADATA, VectorSchema.EMBEDDING)
  }

  private def freshTable(name: String) = {
    val wh = tempDir(s"graft-$name")
    new VectorTable(spark, s"$wh/t", 4).create()
  }

  test("delete hides matching rows; data files are not rewritten") {
    val tbl = freshTable("del1")
    tbl.insert(mkRows(0 until 10))
    val filesBefore = new java.io.File(tbl.root).listFiles().map(_.getName).toSet
    tbl.delete(col(VectorSchema.ID).cast("int") < 3)
    tbl.numRows shouldBe 7
    new java.io.File(tbl.root).listFiles().map(_.getName).toSet shouldBe filesBefore
    tbl.drop()
  }

  test("tombstoned id cannot resurrect until vacuum; vacuum makes delete physical") {
    val tbl = freshTable("del2")
    tbl.insert(mkRows(0 until 10))
    tbl.delete(col(VectorSchema.ID) === "4")
    tbl.insert(mkRows(4 until 5)) // still tombstoned: skipped
    tbl.numRows shouldBe 9
    tbl.vacuum()
    tbl.numRows shouldBe 9
    // after vacuum the id is free again
    tbl.insert(mkRows(4 until 5))
    tbl.numRows shouldBe 10
    tbl.drop()
  }

  test("delete is cumulative and idempotent on already-deleted rows") {
    val tbl = freshTable("del3")
    tbl.insert(mkRows(0 until 10))
    tbl.delete(col(VectorSchema.ID).cast("int") < 3)
    tbl.delete(col(VectorSchema.ID).cast("int") < 5) // overlaps: only visible rows match
    tbl.numRows shouldBe 5
    tbl.vacuum()
    tbl.numRows shouldBe 5
    tbl.df.select(VectorSchema.ID).collect().map(_.getString(0)).sorted shouldBe
      Array("5", "6", "7", "8", "9")
    tbl.drop()
  }

  test("vacuum without tombstones is a no-op; drop removes tombstones") {
    val tbl = freshTable("del4")
    tbl.insert(mkRows(0 until 3))
    tbl.vacuum()
    tbl.numRows shouldBe 3
    tbl.delete(lit(true))
    tbl.numRows shouldBe 0
    tbl.drop()
    tbl.exists shouldBe false
  }

  test("snapshots isolate against later inserts and deletes; vacuum expires them") {
    val tbl = freshTable("snap1")
    tbl.insert(mkRows(0 until 5))
    val v1 = tbl.snapshot()
    tbl.insert(mkRows(5 until 8))
    tbl.delete(col(VectorSchema.ID) === "2")
    val v2 = tbl.snapshot()
    tbl.asOf(v1).count() shouldBe 5  // immune to the later insert AND delete
    tbl.asOf(v1).where(col(VectorSchema.ID) === "2").count() shouldBe 1
    tbl.asOf(v2).count() shouldBe 7
    tbl.numRows shouldBe 7
    tbl.snapshotVersions shouldBe Seq(1, 2)
    tbl.vacuum()
    tbl.snapshotVersions shouldBe empty
    an[IllegalArgumentException] should be thrownBy tbl.asOf(v1)
    tbl.drop()
  }

  test("snapshot of a tombstoned state is pinned even after more deletes") {
    val tbl = freshTable("snap2")
    tbl.insert(mkRows(0 until 6))
    tbl.delete(col(VectorSchema.ID) === "0")
    val v = tbl.snapshot()
    tbl.delete(col(VectorSchema.ID) === "1")
    tbl.asOf(v).count() shouldBe 5   // sees the first delete only
    tbl.numRows shouldBe 4
    tbl.drop()
  }

  test("snapshot diff emits exactly the added and deleted ids between versions") {
    val tbl = freshTable("diff1")
    tbl.insert(mkRows(0 until 10))
    val v1 = tbl.snapshot()
    tbl.insert(mkRows(10 until 15))
    tbl.delete(col(VectorSchema.ID).cast("int") < 3)
    val v2 = tbl.snapshot()
    val diff = tbl.diffSnapshots(v1, v2)
      .collect().map(r => r.getString(0).toInt -> r.getString(1)).toMap
    diff.filter(_._2 == "added").keySet shouldBe (10 until 15).toSet
    diff.filter(_._2 == "deleted").keySet shouldBe (0 until 3).toSet
    // diff of a version with itself is empty; reversed diff swaps roles
    tbl.diffSnapshots(v2, v2).count() shouldBe 0
    val rev = tbl.diffSnapshots(v2, v1)
      .collect().map(r => r.getString(0).toInt -> r.getString(1)).toMap
    rev.filter(_._2 == "added").keySet shouldBe (0 until 3).toSet
    rev.filter(_._2 == "deleted").keySet shouldBe (10 until 15).toSet
    tbl.drop()
  }

  test("reads anti-join tombstones with a broadcast, not a shuffle") {
    val tbl = freshTable("del5")
    tbl.insert(mkRows(0 until 10))
    tbl.delete(col(VectorSchema.ID) === "1")
    val plan = tbl.df.queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    plan should include("LeftAnti")
    tbl.drop()
  }

  test("a failed vacuum swap rename throws and keeps the rewritten rows") {
    val tbl = freshTable("delvac")
    tbl.insert(mkRows(0 until 10))
    tbl.delete(col(VectorSchema.ID) === "4")
    val failing = new VectorTable(spark, SwapRenameFailingFs.on(spark, tbl.root), 4)
    intercept[java.io.IOException](failing.vacuum()).getMessage should include("rename")
    // the data directory is gone, but the live rows are in the staged
    // rewrite the error names — not lost behind a reported success
    spark.read.parquet(tbl.root + "__vacuum").count() shouldBe 9L
    new java.io.File(tbl.root + ".tombstones").exists() shouldBe true
  }

  test("a failed LSH index build rename throws and keeps the indexed rows") {
    val tbl = freshTable("delann")
    tbl.insert(mkRows(0 until 10))
    tbl.delete(col(VectorSchema.ID) === "4")
    val failing = new VectorTable(spark, SwapRenameFailingFs.on(spark, tbl.root), 4)
    intercept[java.io.IOException](failing.buildAnnIndex(tables = 2, bits = 4))
      .getMessage should include("__indexing")
    // the data directory is gone, but the live rows are in the staged
    // rewrite the error names; no index is reported built
    spark.read.parquet(tbl.root + "__indexing").count() shouldBe 9L
    new java.io.File(tbl.root + ".tombstones").exists() shouldBe true
    new java.io.File(tbl.root + ".ann_index.json").exists() shouldBe false
  }

  test("a failed tombstone-fold rename throws instead of dropping every tombstone") {
    val tbl = freshTable("delfold")
    tbl.insert(mkRows(0 until 10))
    tbl.delete(col(VectorSchema.ID).isin("2", "7"))
    val root = SwapRenameFailingFs.on(spark, tbl.root)
    def files(dir: String) = Option(new java.io.File(dir).list()).map(_.toSet)
    val before = files(tbl.root)
    def census = tbl.df.collect()
      .map(r => r.getString(0) -> r.getAs[Seq[Float]](VectorSchema.EMBEDDING)).toMap
    val live = census
    // an upsert touching row 3 rewrites its file and folds the
    // tombstones of every victim file through `.tombstones__rewrite`
    intercept[java.io.IOException] {
      graft.sources.GvdbUpsert(spark, root, mkRows(3 until 4).withColumn(
        VectorSchema.EMBEDDING, array(Seq.fill(4)(lit(-1f)): _*)), Some(4))
    }.getMessage should include("tombstone")
    // the failed commit leaves the table as it was: the appended
    // replacement is gone, the victims and both tombstones stay
    files(tbl.root) shouldBe before
    tbl.tombstoneCount shouldBe 2L
    census shouldBe live
    live.keySet shouldBe (0 until 10).map(_.toString).toSet -- Set("2", "7")
    Seq("__rewrite", "__retired").foreach(s => files(tbl.root + ".tombstones" + s) shouldBe None)
  }
}
