package graft

import java.nio.file.Files
import java.util.concurrent.CountDownLatch

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SaveMode
import org.scalatest.matchers.should.Matchers

import graft.core.WriterLock
import graft.table.VectorTable

/** Single-writer enforcement (core/WriterLock.scala): the format is
  * single-writer by contract; the lock makes a second concurrent
  * writer fail fast with a named error instead of silently committing
  * duplicate ids through the dedup anti-join race. */
class WriterLockSpec extends SparkSpec with Matchers {

  private def freshRoot(tag: String): String =
    tempDir(s"graft-lockspec-$tag") + "/tbl"

  private def rows(pfx: String, ids: Range) = {
    import spark.implicits._
    ids.map(i => (s"$pfx$i", "{}", Seq(i.toFloat, 0f)))
      .toDF("id", "metadata", "embedding")
  }

  test("two interleaved writers: loser throws named error, state = winner's") {
    val root = freshRoot("race")
    rows("w", 0 until 5).write.format("gvdb").option("dim", "2")
      .mode(SaveMode.Overwrite).save(root)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    @volatile var aFailed: Option[Throwable] = None
    // writer A holds the table's writer turn on another thread and,
    // INSIDE it, commits its batch through the normal API (the nested
    // acquire must reenter, not self-conflict)
    val a = new Thread(() => {
      try WriterLock.withLock(fs, root) {
        entered.countDown()
        release.await()
        rows("a", 0 until 3).write.format("gvdb").mode(SaveMode.Append).save(root)
      } catch { case t: Throwable => aFailed = Some(t); entered.countDown() }
    })
    a.start()
    entered.await()
    // writer B loses: a named, actionable error — not a corrupt table
    val ex = intercept[Exception] {
      rows("b", 0 until 3).write.format("gvdb").mode(SaveMode.Append).save(root)
    }
    ex.getMessage should include("concurrent writer")
    // the same holds for direct mutators (tombstone write, vacuum)
    intercept[Exception] {
      new VectorTable(spark, root, 2).delete(
        org.apache.spark.sql.functions.col("id") === "w0")
    }.getMessage should include("concurrent writer")
    release.countDown()
    a.join()
    aFailed shouldBe None
    // table state is the winner's; the loser can retry and succeed now
    spark.read.format("gvdb").load(root).count() shouldBe 8L
    rows("b", 0 until 3).write.format("gvdb").mode(SaveMode.Append).save(root)
    spark.read.format("gvdb").load(root).count() shouldBe 11L
    // the marker is gone after every release
    fs.exists(new Path(root + ".lock")) shouldBe false
    new VectorTable(spark, root, 2).drop()
  }

  test("a stale marker from a crashed writer is broken, not honored forever") {
    val root = freshRoot("stale")
    rows("w", 0 until 3).write.format("gvdb").option("dim", "2")
      .mode(SaveMode.Overwrite).save(root)
    // simulate a crash: a leftover marker older than the takeover TTL
    val lock = new java.io.File(root + ".lock")
    java.nio.file.Files.write(lock.toPath, """{"ts":0,"writer":"dead"}""".getBytes)
    lock.setLastModified(System.currentTimeMillis() - WriterLock.staleAfterMs - 60000)
    rows("n", 0 until 2).write.format("gvdb").mode(SaveMode.Append).save(root)
    spark.read.format("gvdb").load(root).count() shouldBe 5L
    // ... but a FRESH foreign marker is honored
    java.nio.file.Files.write(lock.toPath, """{"ts":1,"writer":"alive"}""".getBytes)
    intercept[Exception] {
      rows("m", 0 until 2).write.format("gvdb").mode(SaveMode.Append).save(root)
    }.getMessage should include("concurrent writer")
    lock.delete()
    new VectorTable(spark, root, 2).drop()
  }

  test("MERGE and UPDATE read and commit in one writer turn (writer B lands before A's lock)") {
    // writer B commits at the moment writer A takes its lock. A command
    // that read its snapshot BEFORE that moment would commit stale rows:
    // a duplicate id (A's insert of an id B just added) or a lost update
    // (A's rewrite of a row from before B's update). Reading inside the
    // turn, A sees B's rows.
    val warehouse = LockHookFs.on(spark,
      tempDir("graft-lockspec-turn"))
    spark.conf.set("spark.sql.catalog.lkc", "graft.sources.GvdbCatalog")
    spark.conf.set("spark.sql.catalog.lkc.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lkc.w")
    spark.sql("""CREATE TABLE lkc.w.t
                 (id string, metadata string, embedding array<float>) USING gvdb""")
    spark.sql("""INSERT INTO lkc.w.t VALUES
      ('1', 'm', array(1.0f)), ('2', 'm', array(2.0f))""")
    def rowsOf(id: String) =
      spark.sql(s"SELECT metadata FROM lkc.w.t WHERE id = '$id'").collect().map(_.getString(0))

    LockHookFs.beforeNextLock(
      spark.sql("INSERT INTO lkc.w.t VALUES ('n', 'from-b', array(9.0f))"))
    spark.sql("""MERGE INTO lkc.w.t t
      USING (SELECT 'n' AS id, 'from-a' AS metadata, array(7.0f) AS embedding) c
      ON t.id = c.id
      WHEN MATCHED THEN UPDATE SET metadata = c.metadata
      WHEN NOT MATCHED THEN INSERT (id, metadata, embedding)
        VALUES (c.id, c.metadata, c.embedding)""")
    rowsOf("n") shouldBe Array("from-a") // one row: A matched B's insert

    LockHookFs.beforeNextLock(
      spark.sql("UPDATE lkc.w.t SET metadata = concat(metadata, '+b') WHERE id = '1'"))
    spark.sql("UPDATE lkc.w.t SET metadata = concat(metadata, '+a') WHERE id = '1'")
    rowsOf("1") shouldBe Array("m+b+a") // B's update kept, A applied on top
    spark.sql("SELECT count(*) FROM lkc.w.t").head.getLong(0) shouldBe 3L
    spark.sql("DROP TABLE lkc.w.t")
  }
}
