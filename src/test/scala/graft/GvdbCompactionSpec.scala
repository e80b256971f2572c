package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.table.VectorTable

/** In-place small-file compaction (`VectorTable.compactSmallFiles`):
  * the CDC-tail maintenance op must (1) rewrite ONLY the small-file
  * tail, never large files, (2) preserve the merge-on-read view
  * bit-exactly across tombstones, (3) expire snapshots selectively
  * (only those referencing a rewritten file), and (4) leave a
  * persisted index tier serving identical results — indexes reference
  * ids, and compaction preserves raw rows. */
class GvdbCompactionSpec extends SparkSpec with Matchers {

  private def fileCount(root: String): Int =
    graft.sources.GvdbFooters.idStats(spark, root).size

  private def batch(lo: Int, hi: Int, dim: Int = 1) = {
    import spark.implicits._
    (lo until hi).map(i => (i.toString, s"""{"grp":${i % 3}}""",
      Seq.tabulate(dim)(d => (i * (d + 1)).toFloat)))
      .toDF("id", "metadata", "embedding")
  }

  test("tail-only rewrite preserves the MoR view and tombstone arithmetic") {
    val root = tempDir("graft-compact-t") + "/t"
    val table = new VectorTable(spark, root, 1).create()
    // one LARGE file (coalesced) + 10 small ones
    table.insert(batch(0, 400).coalesce(1))
    (0 until 10).foreach(b => table.insert(batch(400 + b * 10, 410 + b * 10).coalesce(1)))
    table.delete(get_json_object(col("metadata"), "$.grp") === "1")
    val censusBefore = table.df.select("id").collect().map(_.getString(0)).sorted
    val nBefore = table.numRows
    val before = fileCount(root)

    val removed = table.compactSmallFiles(targetFileRows = 200)
    removed should be >= 2
    fileCount(root) should be < before
    // the 400-row file was over the small threshold: it survived untouched
    val hfs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bigSurvives = graft.sources.GvdbFooters.idStats(spark, root).exists(_._2 == 400L)
    assert(bigSurvives, "compaction must not rewrite files over the threshold")
    table.numRows shouldBe nBefore
    table.df.select("id").collect().map(_.getString(0)).sorted shouldBe censusBefore
    // idempotence: a second pass finds nothing left to compact
    table.compactSmallFiles(targetFileRows = 200) shouldBe 0
    hfs.exists(new Path(root)) shouldBe true
  }

  test("snapshots expire selectively; post-compaction snapshots survive") {
    val root = tempDir("graft-compact-s") + "/t"
    val table = new VectorTable(spark, root, 1).create()
    (0 until 6).foreach(b => table.insert(batch(b * 20, b * 20 + 20).coalesce(1)))
    val vPre = table.snapshot() // references the small files → must expire
    table.compactSmallFiles(targetFileRows = 500) should be >= 2
    table.snapshotVersions should not contain vPre
    val vPost = table.snapshot()
    table.insert(batch(200, 260).coalesce(1)) // unrelated later append
    table.snapshotVersions should contain(vPost)
    table.asOf(vPost).count() shouldBe 120L
  }

  test("a persisted HNSW tier serves identical results across compaction") {
    val wh = tempDir("graft-compact-i")
    val db = new VectorDB(spark, "items", wh, "hashing", Map("dim" -> "8"),
      dim = 8, newTable = true)
    import spark.implicits._
    val rows = (0 until 300).map(i => (i.toString, s"""{"i":$i}""",
      Seq.tabulate(8)(d => math.sin(i * 0.7 + d).toFloat)))
      .toDF("id", "metadata", "embedding")
    db.table.insert(rows.coalesce(1))
    db.table.buildHnswIndex(m = 8, efConstruction = 32)
    // fragmented delta appends AFTER the build (delta segments)
    (0 until 6).foreach { b =>
      val d = (300 + b * 5 until 305 + b * 5).map(i => (i.toString, s"""{"i":$i}""",
        Seq.tabulate(8)(dd => math.sin(i * 0.7 + dd).toFloat)))
        .toDF("id", "metadata", "embedding")
      db.table.insert(d.coalesce(1))
    }
    val q = Array.tabulate(8)(d => math.sin(42 * 0.7 + d).toFloat)
    val preIdx = db.queryByVector(q, k = 10).collect().map(r => (r.id, r.distance)).toSeq
    db.table.compactSmallFiles(targetFileRows = 100) should be >= 2
    val postIdx = db.queryByVector(q, k = 10).collect().map(r => (r.id, r.distance)).toSeq
    postIdx shouldBe preIdx
    val postExact = db.queryByVector(q, k = 10, useIndex = false)
      .collect().map(_.id).toSet
    (postIdx.map(_._1).toSet intersect postExact).size should be >= 9
  }
}
