package graft

import java.nio.file.Files

import org.apache.spark.sql.{AnalysisException, DataFrame, SaveMode}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.StringStartsWith
import org.scalatest.matchers.should.Matchers


import graft.table.VectorTable

/** The `gvdb` DataSource surface (sources/GvdbSource.scala): the vector
  * warehouse as a Spark format name — batch read with pruning/pushdown
  * over the merge-on-read view, all four SaveModes over the dedup
  * insert, SQL DDL + INSERT INTO, and the exactly-once streaming sink. */
class GvdbSourceSpec extends SparkSpec with Matchers {

  private def freshRoot(tag: String): String =
    tempDir(s"graft-gvdbspec-$tag") + "/tbl"

  private def rows(ids: Range): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toString, s"""{"k":"v$i","grp":${i % 3}}""",
        Seq(i.toFloat, (i * 2).toFloat)))
      .toDF("id", "metadata", "embedding")
  }

  test("read through format('gvdb') is the merge-on-read view") {
    val root = freshRoot("mor")
    rows(0 until 100).write.format("gvdb").option("dim", "2")
      .mode(SaveMode.Overwrite).save(root)
    val tbl = new VectorTable(spark, root, 2)
    tbl.delete(get_json_object(col("metadata"), "$.grp") === "0")
    val got = spark.read.format("gvdb").load(root)
    got.columns.toSeq shouldBe Seq("id", "metadata", "embedding")
    got.count() shouldBe tbl.df.count()
    got.select("id").collect().map(_.getString(0)).sorted shouldBe
      (0 until 100).filter(_ % 3 != 0).map(_.toString).sorted.toArray
    tbl.drop()
  }

  test("internal index columns never leak through the format schema") {
    val root = freshRoot("leak")
    rows(0 until 50).write.format("gvdb").option("dim", "2")
      .mode(SaveMode.Overwrite).save(root)
    val tbl = new VectorTable(spark, root, 2)
    tbl.buildAnnIndex(tables = 2, bits = 4) // adds __ann_buckets on disk
    spark.read.format("gvdb").load(root).columns.toSeq shouldBe
      Seq("id", "metadata", "embedding")
    tbl.drop()
  }

  test("DSv2 scan: column pruning and filter pushdown visible in the plan") {
    val root = freshRoot("push")
    rows(0 until 200).write.format("gvdb").option("dim", "2")
      .mode(SaveMode.Overwrite).save(root)
    val q = spark.read.format("gvdb").load(root)
      .where(col("id").startsWith("1") &&
        get_json_object(col("metadata"), "$.grp") === "1")
      .select("id")
    val ids = q.collect().map(_.getString(0)).toSet
    // semantics first: prefix-1 ids with grp==1 (id % 3 == 1)
    ids shouldBe (0 until 200).filter(i =>
      i.toString.startsWith("1") && i % 3 == 1).map(_.toString).toSet
    // the read is a V2 BatchScan whose description reports the handled
    // prefix predicate and the pruned read schema (id + metadata for
    // the JSON probe, embedding never read); the untranslatable
    // JSON-path predicate stays in a Filter above the scan
    val plan = q.queryExecution.executedPlan.toString
    plan should include("BatchScan")
    plan should include(StringStartsWith("id", "1").toString)
    plan should include regex "ReadSchema: struct<id:string[^>]*>"
    plan should not include "embedding:"
  }

  test("SaveModes: append dedups, overwrite replaces, error/ignore honor existence") {
    val root = freshRoot("modes")
    val r = rows(0 until 30)
    r.write.format("gvdb").option("dim", "2").mode(SaveMode.Overwrite).save(root)
    // append of the same rows is a no-op (first-wins by id)
    r.write.format("gvdb").mode(SaveMode.Append).save(root)
    spark.read.format("gvdb").load(root).count() shouldBe 30
    // append of a superset inserts only the new ids
    rows(0 until 40).write.format("gvdb").mode(SaveMode.Append).save(root)
    spark.read.format("gvdb").load(root).count() shouldBe 40
    // ErrorIfExists throws on an existing table
    an[AnalysisException] should be thrownBy
      r.write.format("gvdb").mode(SaveMode.ErrorIfExists).save(root)
    // Ignore leaves the table untouched
    rows(100 until 200).write.format("gvdb").mode(SaveMode.Ignore).save(root)
    spark.read.format("gvdb").load(root).count() shouldBe 40
    // Overwrite replaces
    rows(0 until 5).write.format("gvdb").option("dim", "2")
      .mode(SaveMode.Overwrite).save(root)
    spark.read.format("gvdb").load(root).count() shouldBe 5
    new VectorTable(spark, root, 2).drop()
  }

  test("SQL DDL: CREATE TEMPORARY VIEW USING gvdb + INSERT INTO") {
    val root = freshRoot("sql")
    rows(0 until 20).write.format("gvdb").option("dim", "2")
      .mode(SaveMode.Overwrite).save(root)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW gvdb_spec USING gvdb OPTIONS (path '$root', dim '2')")
    spark.sql("SELECT count(*) FROM gvdb_spec").head().getLong(0) shouldBe 20L
    rows(15 until 25).createOrReplaceTempView("gvdb_spec_delta")
    spark.sql("INSERT INTO gvdb_spec SELECT * FROM gvdb_spec_delta")
    // 15..19 already present → deduped; 20..24 inserted
    spark.sql("SELECT count(*) FROM gvdb_spec").head().getLong(0) shouldBe 25L
    spark.catalog.dropTempView("gvdb_spec")
    spark.catalog.dropTempView("gvdb_spec_delta")
    new VectorTable(spark, root, 2).drop()
  }

  test("V2 streaming write: exactly-once across epoch replays, dedup across epochs") {
    import graft.sources.{GvdbStagedFile, GvdbStreamingWrite}
    val root = freshRoot("sink")
    rows(0 until 0).write.format("gvdb").option("dim", "2")
      .mode(SaveMode.Overwrite).save(root) // create empty table
    val schema = rows(0 until 1).schema
    // stage an epoch's rows the way a task writer would (JSON lines),
    // then drive commit() directly to pin the ledger semantics
    def stage(tag: String, ids: Range): GvdbStagedFile = {
      val f = java.nio.file.Paths.get(tempDir(s"gvdb-stage-$tag"), "rows.json")
      val body = ids.map(i =>
        s"""{"id":"$i","metadata":"{}","embedding":[$i.0,${i * 2}.0]}""").mkString("\n")
      java.nio.file.Files.write(f, body.getBytes("UTF-8"))
      GvdbStagedFile(f.toString, ids.size.toLong)
    }
    val w = new GvdbStreamingWrite(spark, root, Some(2),
      truncate = false, queryId = "query-a", schema = schema)
    w.commit(0, Array(stage("a0", 0 until 10)))
    w.commit(0, Array(stage("a0r", 0 until 10))) // replayed epoch id: skipped
    spark.read.format("gvdb").load(root).count() shouldBe 10
    w.commit(1, Array(stage("a1", 5 until 15))) // overlap 5..9: deduped by id
    spark.read.format("gvdb").load(root).count() shouldBe 15
    w.committedEpoch shouldBe 1L
    // the ledger is scoped per QUERY id: a new query against the same
    // root restarts at epoch 0 and must not see query-a's watermark —
    // its epoch 0 still applies (the id anti-join dedups the overlap)
    val fresh = new GvdbStreamingWrite(spark, root, Some(2),
      truncate = false, queryId = "query-b", schema = schema)
    fresh.committedEpoch shouldBe -1L
    fresh.commit(0, Array(stage("b0", 10 until 20))) // 10..14 present → deduped
    spark.read.format("gvdb").load(root).count() shouldBe 20
    // dropping the table drops the ledgers with it
    new VectorTable(spark, root, 2).drop()
    new GvdbStreamingWrite(spark, root, Some(2),
      truncate = false, queryId = "query-a", schema = schema)
      .committedEpoch shouldBe -1L
  }

  test("writeStream.format('gvdb') end to end over MemoryStream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = freshRoot("stream")
    val cp = tempDir("graft-gvdbspec-cp")
    val src = MemoryStream[(String, String, Seq[Float])]
    val q = src.toDF().toDF("id", "metadata", "embedding")
      .writeStream.format("gvdb")
      .option("path", root).option("dim", "2")
      .option("checkpointLocation", cp)
      .start()
    src.addData(("a", "{}", Seq(1f, 2f)), ("b", "{}", Seq(3f, 4f)))
    q.processAllAvailable()
    src.addData(("b", "{}", Seq(3f, 4f)), ("c", "{}", Seq(5f, 6f))) // b: dedup
    q.processAllAvailable()
    q.stop()
    spark.read.format("gvdb").load(root)
      .select("id").collect().map(_.getString(0)).sorted shouldBe Array("a", "b", "c")
    new VectorTable(spark, root, 2).drop()
  }

  test("footer id statistics: per-file ranges, and the victim lookup prunes by them") {
    import spark.implicits._
    val root = freshRoot("stats")
    // three insert batches with disjoint id prefixes → per-batch files
    // span only their batch's range
    def batch(p: String, ids: Range) = ids
      .map(i => (f"$p$i%04d", "{}", Seq(i.toFloat)))
      .toDF("id", "metadata", "embedding")
    batch("a", 0 until 50).write.format("gvdb").option("dim", "1")
      .mode(SaveMode.Overwrite).save(root)
    batch("b", 0 until 50).write.format("gvdb").mode(SaveMode.Append).save(root)
    batch("c", 0 until 50).write.format("gvdb").mode(SaveMode.Append).save(root)
    val stats = graft.sources.GvdbFooters.idStats(spark, root)
    stats.map(_._2).sum shouldBe 150L // zero-row files omitted, counts exact
    all(stats.map(_._3)) shouldBe defined
    // every file's range sits inside ONE batch's prefix
    stats.foreach { case (_, _, Some((lo, hi))) =>
      lo.take(1) shouldBe hi.take(1)
    }
    // the victim lookup touches only the 'b' files: candidates exclude
    // every 'a'/'c' file, and the victims found are exactly the files
    // holding the touched ids
    val touched = Seq("b0007").toDF("id").localCheckpoint(true)
    val (victims, victimIds) =
      graft.plans.GvdbRowLevel.victimLookup(spark, root, touched)
    victims.length should be >= 1
    val bFiles = stats.collect { case (f, _, Some((lo, _))) if lo.startsWith("b") => f }
    // victims ⊆ the b-prefixed files (compare by file NAME — victim
    // paths come from input_file_name, stats paths from listStatus)
    val bNames = bFiles.map(f => new org.apache.hadoop.fs.Path(f).getName).toSet
    victims.foreach { v =>
      bNames should contain(new org.apache.hadoop.fs.Path(v).getName)
    }
    // victimIds = every id the victim files carry, touched or not
    val vIds = victimIds.collect().map(_.getString(0))
    vIds should contain("b0007")
    all(vIds) should startWith("b")
    new VectorTable(spark, root, 1).drop()
  }

  test("Complete-mode streaming write (truncate) replaces the table per epoch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = freshRoot("complete")
    val cp = tempDir("graft-gvdbspec-cpc")
    val src = MemoryStream[(String, Int)]
    // a running aggregate: Complete mode re-emits the FULL result each
    // epoch, and the sink's truncate() path must replace the table with
    // it — the regression pinned here is the insert reading its staged
    // files AFTER the overwrite's drop() deleted root+".staging"
    val agg = src.toDF().toDF("id", "v")
      .groupBy(col("id")).agg(sum(col("v")).as("s"))
      .select(col("id"),
        concat(lit("""{"s":"""), col("s"), lit("}")).as("metadata"),
        array(col("s").cast("float")).as("embedding"))
    val q = agg.writeStream.format("gvdb").outputMode("complete")
      .option("path", root).option("dim", "1")
      .option("checkpointLocation", cp)
      .start()
    src.addData(("a", 1), ("b", 2))
    q.processAllAvailable()
    spark.read.format("gvdb").load(root).count() shouldBe 2
    src.addData(("a", 10), ("c", 3))
    q.processAllAvailable()
    q.stop()
    val out = spark.read.format("gvdb").load(root)
    out.count() shouldBe 3
    // the epoch REPLACED the table: a's row carries the refreshed sum,
    // not the epoch-0 value the first-wins append path would keep
    out.where(col("id") === "a").head().getString(1) shouldBe """{"s":11}"""
    new VectorTable(spark, root, 1).drop()
  }

  test("Update-mode streaming write: keyed MoR upsert via the upsert option") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = freshRoot("upsert")
    val cp = tempDir("graft-gvdbspec-cpu")
    rows(0 until 10).write.format("gvdb").option("dim", "2")
      .mode(SaveMode.Overwrite).save(root)
    // WITHOUT the option, Update mode stays rejected (first-wins
    // append would silently drop updates); the V2Writes check fires on
    // the stream thread, so drive a batch to surface it
    val src0 = MemoryStream[(String, String, Seq[Float])]
    val rejected = intercept[Exception] {
      val q0 = src0.toDF().toDF("id", "metadata", "embedding")
        .writeStream.format("gvdb").outputMode("update")
        .option("path", root).option("dim", "2")
        .option("checkpointLocation", s"$cp/reject").start()
      src0.addData(("x", "{}", Seq(0f, 0f)))
      q0.processAllAvailable()
      q0.stop()
    }
    rejected.getMessage.toLowerCase should include("update")
    // with it: epochs apply as keyed upserts — updates replace, new
    // ids insert, untouched rows survive
    val src = MemoryStream[(String, String, Seq[Float])]
    val q = src.toDF().toDF("id", "metadata", "embedding")
      .writeStream.format("gvdb").outputMode("update")
      .option("path", root).option("dim", "2").option("upsert", "true")
      .option("checkpointLocation", s"$cp/run").start()
    src.addData(("3", """{"u":1}""", Seq(30f, 0f)), ("100", "{}", Seq(9f, 9f)))
    q.processAllAvailable()
    src.addData(("3", """{"u":2}""", Seq(31f, 0f))) // second epoch re-updates
    q.processAllAvailable()
    q.stop()
    val out = spark.read.format("gvdb").load(root)
    out.count() shouldBe 11L // 10 base + 1 insert; updates replaced in place
    out.where(col("id") === "3").head().getString(1) shouldBe """{"u":2}"""
    out.where(col("id") === "100").count() shouldBe 1L
    out.where(col("id") === "0").head().getString(1) should include("v0") // untouched
    new VectorTable(spark, root, 2).drop()
  }

  test("upsert epochs: ledger replay skip and deleted-id resurrection") {
    import graft.sources.{GvdbStagedFile, GvdbStreamingWrite}
    val root = freshRoot("upsert2")
    rows(0 until 10).write.format("gvdb").option("dim", "2")
      .mode(SaveMode.Overwrite).save(root)
    // tombstone id 4, then upsert it back through the sink: the dead
    // raw duplicate is purged with its file and the id resurrects
    new VectorTable(spark, root, 2).delete(col("id") === "4")
    spark.read.format("gvdb").load(root).count() shouldBe 9L
    val schema = rows(0 until 1).schema
    def stage(tag: String, ids: Range): GvdbStagedFile = {
      val f = java.nio.file.Paths.get(tempDir(s"gvdb-upstage-$tag"), "rows.json")
      val body = ids.map(i =>
        s"""{"id":"$i","metadata":"{\\"e\\":\\"$tag\\"}","embedding":[$i.0,0.0]}""")
        .mkString("\n")
      java.nio.file.Files.write(f, body.getBytes("UTF-8"))
      GvdbStagedFile(f.toString, ids.size.toLong)
    }
    val w = new GvdbStreamingWrite(spark, root, Some(2),
      truncate = false, queryId = "up-q", schema = schema, upsert = true)
    w.commit(0, Array(stage("e0", 3 until 6))) // update 3,5; resurrect 4
    spark.read.format("gvdb").load(root).count() shouldBe 10L
    w.commit(0, Array(stage("e0r", 3 until 6))) // replayed epoch: skipped
    spark.read.format("gvdb").load(root).count() shouldBe 10L
    val tbl = spark.read.format("gvdb").load(root)
    tbl.where(col("id") === "4").head().getString(1) shouldBe """{"e":"e0"}"""
    // the raw table carries id 4 exactly once (no hidden dead twin)
    spark.read.parquet(root).where(col("id") === "4").count() shouldBe 1L
    new VectorTable(spark, root, 2).tombstoneCount shouldBe 0L
    new VectorTable(spark, root, 2).drop()
  }

  test("versionAsOf reads the pinned snapshot (time travel) and rejects writes") {
    val root = freshRoot("tt")
    rows(0 until 20).write.format("gvdb").option("dim", "2")
      .mode(SaveMode.Overwrite).save(root)
    val tbl = new VectorTable(spark, root, 2)
    val v1 = tbl.snapshot()
    rows(20 until 30).write.format("gvdb").mode(SaveMode.Append).save(root)
    tbl.delete(col("id") === "5")
    spark.read.format("gvdb").load(root).count() shouldBe 29
    // the pinned snapshot is immune to the later insert AND delete
    val snap = spark.read.format("gvdb").option("versionAsOf", v1.toString).load(root)
    snap.count() shouldBe 20
    snap.select("id").collect().map(_.getString(0)) should contain("5")
    // the TVF's 2-arg variant pins the same version
    graft.plans.GvdbTableFunctions.register(spark)
    spark.sql(s"SELECT count(*) AS n FROM gvdb_scan('$root', $v1)")
      .head().getLong(0) shouldBe 20L
    // timestampAsOf resolves to the LAST snapshot at or before the
    // given time (Delta's rule) — a timestamp after v1's commit but
    // before any later snapshot pins v1
    val midTs = System.currentTimeMillis()
    tbl.snapshot() // v2 (post-insert, post-delete), committed after midTs
    spark.read.format("gvdb").option("timestampAsOf", midTs.toString)
      .load(root).count() shouldBe 20
    an[IllegalArgumentException] should be thrownBy
      spark.read.format("gvdb").option("timestampAsOf", "12")
        .load(root).collect() // before every snapshot: no version
    // history is immutable: INSERT INTO a version-pinned view rejects
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW gvdb_tt USING gvdb " +
      s"OPTIONS (path '$root', dim '2', versionAsOf '$v1')")
    rows(50 until 55).createOrReplaceTempView("gvdb_tt_delta")
    an[Exception] should be thrownBy
      spark.sql("INSERT INTO gvdb_tt SELECT * FROM gvdb_tt_delta")
    spark.catalog.dropTempView("gvdb_tt")
    spark.catalog.dropTempView("gvdb_tt_delta")
    tbl.drop()
  }

  test("gvdb_changes TVF: snapshot CDC surfaces adds and deletes by id") {
    val root = freshRoot("cdc")
    rows(0 until 10).write.format("gvdb").option("dim", "2")
      .mode(SaveMode.Overwrite).save(root)
    val tbl = new VectorTable(spark, root, 2)
    val v1 = tbl.snapshot()
    rows(10 until 13).write.format("gvdb").mode(SaveMode.Append).save(root)
    tbl.delete(col("id") === "4")
    val v2 = tbl.snapshot()
    graft.plans.GvdbTableFunctions.register(spark)
    val changes = spark.sql(s"SELECT id, change FROM gvdb_changes('$root', $v1, $v2)")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    changes shouldBe Set(("10", "added"), ("11", "added"), ("12", "added"), ("4", "deleted"))
    tbl.drop()
  }

  test("readStream.format('gvdb'): insert feed, incremental offsets across restarts") {
    val root = freshRoot("src")
    val cp = tempDir("graft-gvdbspec-srccp")
    val out = tempDir("graft-gvdbspec-srcout")
    rows(0 until 10).write.format("gvdb").option("dim", "2")
      .mode(SaveMode.Overwrite).save(root)
    def drain(tag: String): Unit = {
      val q = spark.readStream.format("gvdb").load(root)
        .writeStream.foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("append").parquet(s"$out/tag=$tag"); ()
        }
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain("p1")
    rows(10 until 15).write.format("gvdb").mode(SaveMode.Append).save(root)
    // a delete must NOT retract already-streamed rows (insert feed)
    new VectorTable(spark, root, 2).delete(col("id") === "3")
    drain("p2") // restart from the checkpoint: only the delta files
    val got = spark.read.parquet(out)
    got.where(col("tag") === "p1").count() shouldBe 10
    got.where(col("tag") === "p2").select("id").collect().map(_.getString(0)).sorted shouldBe
      Array("10", "11", "12", "13", "14")
    new VectorTable(spark, root, 2).drop()
  }

  test("readChangeFeed stream: per-version adds AND deletes, resumable at version offsets") {
    val root = freshRoot("cdcstream")
    val cp = tempDir("graft-gvdbspec-cdccp")
    val out = tempDir("graft-gvdbspec-cdcout")
    rows(0 until 10).write.format("gvdb").option("dim", "2")
      .mode(SaveMode.Overwrite).save(root)
    val tbl = new VectorTable(spark, root, 2)
    tbl.snapshot() // v1
    def drain(tag: String): Unit = {
      val q = spark.readStream.format("gvdb")
        .option("readChangeFeed", "true").load(root)
        .writeStream.foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("append").parquet(s"$out/tag=$tag"); ()
        }
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain("p1") // v1 vs empty: 10 adds
    rows(10 until 13).write.format("gvdb").mode(SaveMode.Append).save(root)
    tbl.delete(col("id") === "4")
    tbl.snapshot() // v2
    rows(13 until 14).write.format("gvdb").mode(SaveMode.Append).save(root)
    tbl.snapshot() // v3: one more add — granularity per version step
    drain("p2") // resumes at v1 → emits v2 and v3 steps only
    val got = spark.read.parquet(out)
    got.where(col("tag") === "p1").count() shouldBe 10
    got.where(col("tag") === "p1" && col("change") =!= "added").count() shouldBe 0
    val p2 = got.where(col("tag") === "p2")
      .select("id", "change", "version").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    p2 shouldBe Set(("10", "added", 2), ("11", "added", 2), ("12", "added", 2),
      ("4", "deleted", 2), ("13", "added", 3))
    tbl.drop()
  }

  test("streaming source rate limit: maxFilesPerTrigger bounds each micro-batch") {
    val root = freshRoot("rate")
    val cp = tempDir("graft-gvdbspec-ratecp")
    // three separate inserts → at least three part-file groups on disk
    rows(0 until 10).write.format("gvdb").option("dim", "2")
      .mode(SaveMode.Overwrite).save(root)
    rows(10 until 20).write.format("gvdb").mode(SaveMode.Append).save(root)
    rows(20 until 30).write.format("gvdb").mode(SaveMode.Append).save(root)
    val batches = new java.util.concurrent.atomic.AtomicInteger
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val q = spark.readStream.format("gvdb")
      .option("maxFilesPerTrigger", "1").load(root)
      .writeStream.foreachBatch { (b: DataFrame, _: Long) =>
        val ids = b.select("id").collect().map(_.getString(0))
        if (ids.nonEmpty) batches.incrementAndGet()
        ids.foreach(seen.add); ()
      }
      .option("checkpointLocation", cp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    // complete, exactly-once delivery — but split across several
    // bounded micro-batches instead of one snapshot batch
    seen.size shouldBe 30
    batches.get should be >= 3
    new VectorTable(spark, root, 2).drop()
  }

  test("relation reports real sizeInBytes, so a small warehouse broadcasts in joins") {
    import spark.implicits._
    val root = freshRoot("size")
    rows(0 until 50).write.format("gvdb").option("dim", "2")
      .mode(SaveMode.Overwrite).save(root)
    val dim = spark.read.format("gvdb").load(root)
      .select(col("id"), get_json_object(col("metadata"), "$.grp").as("grp"))
    val fact = (0 until 1000).map(i => ((i % 50).toString, i.toLong)).toDF("id", "v")
    val joined = fact.join(dim, Seq("id"))
    joined.queryExecution.executedPlan.toString should include("BroadcastHashJoin")
    joined.count() shouldBe 1000
    new VectorTable(spark, root, 2).drop()
  }

  test("overwrite may reshape the embedding dimension (old table's dim is not pinned)") {
    import spark.implicits._
    val root = freshRoot("reshape")
    rows(0 until 10).write.format("gvdb").option("dim", "2")
      .mode(SaveMode.Overwrite).save(root)
    // overwrite with dim-4 vectors and NO dim option: must infer from
    // the incoming data, not the about-to-be-replaced table
    (0 until 5).map(i => (i.toString, "{}", Seq(1f, 2f, 3f, 4f)))
      .toDF("id", "metadata", "embedding")
      .write.format("gvdb").mode(SaveMode.Overwrite).save(root)
    val back = spark.read.format("gvdb").load(root)
    back.count() shouldBe 5
    back.select(org.apache.spark.sql.functions.size(col("embedding")))
      .head().getInt(0) shouldBe 4
    new VectorTable(spark, root, 4).drop()
  }

  test("an emptied table keeps its dimension for INSERT and row-level writes until vacuum") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.dimcat", "graft.sources.GvdbCatalog")
    val warehouse = tempDir("graft-gvdbspec-dimcat")
    spark.conf.set("spark.sql.catalog.dimcat.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS dimcat.d")
    spark.sql("CREATE TABLE dimcat.d.t (id string, metadata string, embedding array<float>) " +
      "USING gvdb")
    def vecs(ids: Range, d: Int) = ids.map(i => (i.toString, "{}", Seq.fill(d)(i.toFloat)))
      .toDF("id", "metadata", "embedding")
    def dims() = spark.sql("SELECT id, size(embedding) FROM dimcat.d.t").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    vecs(0 until 4, 2).createOrReplaceTempView("dim_b2")
    spark.sql("INSERT INTO dimcat.d.t SELECT * FROM dim_b2")
    spark.sql("DELETE FROM dimcat.d.t WHERE id IN ('0', '1', '2', '3')")
    dims() shouldBe empty
    // the dead dim-2 rows still fix the dimension: a dim-4 INSERT is
    // rejected with a message that names the vacuum
    vecs(10 until 12, 4).createOrReplaceTempView("dim_b4")
    val err = intercept[Exception](spark.sql("INSERT INTO dimcat.d.t SELECT * FROM dim_b4"))
    val msgs = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).mkString("\n")
    msgs should (include("expected 2, got 4") and include("vacuum"))
    dims() shouldBe empty
    // so every later row-level write still works at dim 2: a MERGE, a
    // metadata-only UPDATE and an insert-only MERGE
    vecs(20 until 22, 2).createOrReplaceTempView("dim_m")
    spark.sql("""MERGE INTO dimcat.d.t t USING dim_m c ON t.id = c.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    spark.sql("""UPDATE dimcat.d.t SET metadata = '{"u":1}' WHERE id = '20'""")
    vecs(30 until 31, 2).createOrReplaceTempView("dim_i")
    spark.sql("""MERGE INTO dimcat.d.t t USING dim_i c ON t.id = c.id
      WHEN NOT MATCHED THEN INSERT *""")
    dims() shouldBe Map("20" -> 2, "21" -> 2, "30" -> 2)
    // once a vacuum has removed every stored row, a new dimension is free
    spark.sql("DELETE FROM dimcat.d.t WHERE id IN ('20', '21', '30')")
    new VectorTable(spark, s"$warehouse/d/t", 2).vacuum()
    spark.sql("INSERT INTO dimcat.d.t SELECT * FROM dim_b4")
    dims() shouldBe Map("10" -> 4, "11" -> 4)
  }

  test("an explicit dim option that disagrees with the live rows is rejected") {
    import spark.implicits._
    val root = freshRoot("dimpin")
    rows(0 until 10).write.format("gvdb").option("dim", "2")
      .mode(SaveMode.Overwrite).save(root)
    val dim4 = (10 until 15).map(i => (i.toString, "{}", Seq(1f, 2f, 3f, 4f)))
      .toDF("id", "metadata", "embedding")
    val err = intercept[Exception] {
      dim4.write.format("gvdb").option("dim", "4").mode(SaveMode.Append).save(root)
    }
    val msgs = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).mkString("\n")
    msgs should (include("dim option 4") and include("dim 2"))
    val back = spark.read.format("gvdb").load(root)
    back.count() shouldBe 10
    back.select(org.apache.spark.sql.functions.size(col("embedding")))
      .distinct().collect().map(_.getInt(0)) shouldBe Array(2)
    // an agreeing option appends; an overwrite may still reshape
    rows(10 until 12).write.format("gvdb").option("dim", "2")
      .mode(SaveMode.Append).save(root)
    spark.read.format("gvdb").load(root).count() shouldBe 12
    dim4.write.format("gvdb").option("dim", "4").mode(SaveMode.Overwrite).save(root)
    spark.read.format("gvdb").load(root).count() shouldBe 5
    new VectorTable(spark, root, 4).drop()
  }

  test("streaming-source offsets are O(1) log indices backed by a seen-files log") {
    import graft.sources.{GvdbLogOffset, GvdbSourceOffset}
    val root = freshRoot("logoff")
    val cp = tempDir("graft-gvdbspec-logoffcp")
    rows(0 until 10).write.format("gvdb").option("dim", "2")
      .mode(SaveMode.Overwrite).save(root)
    rows(10 until 20).write.format("gvdb").mode(SaveMode.Append).save(root)
    def drain(): Unit = {
      val q = spark.readStream.format("gvdb").load(root)
        .writeStream.foreachBatch { (_: DataFrame, _: Long) => () }
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    // the engine's checkpointed offset is the log INDEX — constant
    // size regardless of how many files the table accumulates
    val offsetsDir = new java.io.File(s"$cp/offsets")
    val latest = offsetsDir.listFiles().filter(_.getName.forall(_.isDigit))
      .maxBy(_.getName.toInt)
    val offsetLine = scala.io.Source.fromFile(latest).getLines().toSeq.last
    offsetLine should include("\"log\"")
    offsetLine.length should be < 32
    // the admitted file names live in the log entries beside the checkpoint
    val logDir = new java.io.File(s"$cp/sources/0/gvdb_seen_files")
    logDir.exists() shouldBe true
    logDir.listFiles().count(_.getName.forall(_.isDigit)) should be >= 1
    // a restart resumes from the log: only the delta is delivered
    rows(20 until 25).write.format("gvdb").mode(SaveMode.Append).save(root)
    val got = new java.util.concurrent.atomic.AtomicLong
    val q2 = spark.readStream.format("gvdb").load(root)
      .writeStream.foreachBatch { (b: DataFrame, _: Long) =>
        got.addAndGet(b.count()); ()
      }
      .option("checkpointLocation", cp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q2.awaitTermination()
    got.get() shouldBe 5L
    // a LEGACY files-list offset (pre-log checkpoint) deserializes and
    // replans: the log-backed stream treats its files as already seen
    val scanB = spark.read.format("gvdb").load(root) // force table init
    scanB.count() shouldBe 25
    def parse(j: String) = GvdbSourceOffset.fromAny(
      new org.apache.spark.sql.connector.read.streaming.Offset {
        override def json: String = j
      })
    parse("""{"log": 7}""") shouldBe GvdbLogOffset(7)
    parse("""{"files": ["/a/part-1", "/a/part-2"]}""") shouldBe
      GvdbSourceOffset(Seq("/a/part-1", "/a/part-2"))
    // compaction: every C-th entry also writes the cumulative set, so
    // a restart reads one compact + the delta tail, not every entry
    spark.conf.set("spark.graft.source.logCompactInterval", "2")
    try {
      (25 until 29).foreach(i =>
        rows(i until i + 1).write.format("gvdb").mode(SaveMode.Append).save(root))
      val q3 = spark.readStream.format("gvdb")
        .option("maxFilesPerTrigger", "1").load(root)
        .writeStream.foreachBatch { (_: DataFrame, _: Long) => () }
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q3.awaitTermination()
      logDir.listFiles().count(_.getName.endsWith(".compact")) should be >= 1
      // a fresh restart (new stream instance, compact-seeded seen set)
      // still sees exactly the new delta
      rows(29 until 30).write.format("gvdb").mode(SaveMode.Append).save(root)
      val got3 = new java.util.concurrent.atomic.AtomicLong
      val q4 = spark.readStream.format("gvdb").load(root)
        .writeStream.foreachBatch { (b: DataFrame, _: Long) =>
          got3.addAndGet(b.count()); ()
        }
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q4.awaitTermination()
      got3.get() shouldBe 1L
    } finally spark.conf.unset("spark.graft.source.logCompactInterval")
    new VectorTable(spark, root, 2).drop()
  }

  test("legacy-offset upgrade: the fold persists across a SECOND restart") {
    import graft.sources.{GvdbLogOffset, GvdbMicroBatchStream, GvdbSourceOffset}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val root = freshRoot("legacyup")
    val cp = tempDir("graft-gvdbspec-legacycp")
    rows(0 until 6).write.format("gvdb").option("dim", "2")
      .mode(SaveMode.Overwrite).save(root)
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val hfs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def partFiles() = hfs.listStatus(rootPath).map(_.getPath)
      .filter(_.getName.startsWith("part-")).map(_.toString).sorted
    val legacy = GvdbSourceOffset(partFiles().toSeq) // a pre-log checkpoint's offset
    rows(6 until 9).write.format("gvdb").mode(SaveMode.Append).save(root)
    // first post-upgrade run: only the delta files are admitted
    val s1 = new GvdbMicroBatchStream(spark, root,
      graft.core.VectorSchema.schema, Array.empty, None, cp)
    val end1 = s1.latestOffset(legacy, ReadLimit.allAvailable())
    end1 shouldBe GvdbLogOffset(1)
    val entry1 = graft.core.JsonFileList.parse(
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$cp/gvdb_seen_files/1")), "UTF-8"))
    entry1.toSet shouldBe (partFiles().toSet -- legacy.files.toSet)
    // SECOND restart: the committed offset is now a log index and the
    // legacy offset is never replayed — the persisted 0.compact fold
    // must keep the legacy files seen, or they'd duplicate here
    val s2 = new GvdbMicroBatchStream(spark, root,
      graft.core.VectorSchema.schema, Array.empty, None, cp)
    s2.latestOffset(GvdbLogOffset(1), ReadLimit.allAvailable()) shouldBe GvdbLogOffset(1)
    // while genuinely new files still flow
    rows(9 until 10).write.format("gvdb").mode(SaveMode.Append).save(root)
    s2.latestOffset(GvdbLogOffset(1), ReadLimit.allAvailable()) shouldBe GvdbLogOffset(2)
    new VectorTable(spark, root, 2).drop()
  }

  test("a failed sink-ledger rename fails the epoch commit") {
    val root = SwapRenameFailingFs.on(spark, freshRoot("ledgerfail"))
    val w = new graft.sources.GvdbStreamingWrite(spark, root, Some(2), truncate = false,
      queryId = "q1", schema = graft.core.VectorSchema.schema)
    intercept[java.io.IOException](w.commit(0L, Array.empty))
      .getMessage should include("epoch 0 is not recorded")
    w.committedEpoch shouldBe -1L
  }

  test("a failed source-log rename throws and leaves no entry-less batch") {
    import graft.sources.{GvdbLogOffset, GvdbMicroBatchStream}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val root = freshRoot("logfail")
    rows(0 until 4).write.format("gvdb").option("dim", "2").mode(SaveMode.Overwrite).save(root)
    val cp = SwapRenameFailingFs.on(spark,
      tempDir("graft-gvdbspec-logfailcp"))
    val s = new GvdbMicroBatchStream(spark, root,
      graft.core.VectorSchema.schema, Array.empty, None, cp)
    // the entry never became durable, so a retry must not offer batch 1
    // as pending: it tries the write again
    (1 to 2).foreach { _ =>
      intercept[java.io.IOException](s.latestOffset(GvdbLogOffset(0), ReadLimit.allAvailable()))
        .getMessage should include("rename")
    }
    new java.io.File(cp.stripPrefix(s"${SwapRenameFailingFs.Scheme}://") +
      "/gvdb_seen_files/1").exists() shouldBe false
    new VectorTable(spark, root, 2).drop()
  }

  test("write shaping: positional matching is the VALUES carve-out, never a partial-name cross") {
    import spark.implicits._
    import graft.sources.GvdbWrite
    // synthetic colN names (the INSERT VALUES shape): positional, accepted
    GvdbWrite.shape(Seq(("a", "{}", Seq(1f)))
        .toDF("col1", "col2", "col3"))
      .columns.toSeq shouldBe Seq("id", "metadata", "embedding")
    // no contract name at all, contract arity: positional, accepted
    GvdbWrite.shape(Seq(("a", "{}", Seq(1f)))
        .toDF("key", "payload", "vector"))
      .columns.toSeq shouldBe Seq("id", "metadata", "embedding")
    // SOME contract names present in the wrong slots: must throw (the
    // array<float> → string casts would otherwise silently cross them)
    an[IllegalArgumentException] should be thrownBy
      GvdbWrite.shape(Seq((Seq(1f), "a", "{}"))
        .toDF("embedding", "id", "meta"))
    // a partially-named frame at contract arity must throw, not guess
    an[IllegalArgumentException] should be thrownBy
      GvdbWrite.shape(Seq(("a", "{}", Seq(1f)))
        .toDF("id", "payload", "vector"))
  }

  test("reading a missing path fails fast") {
    an[AnalysisException] should be thrownBy
      spark.read.format("gvdb").load("/tmp/graft-gvdb-definitely-missing").collect()
  }
}
