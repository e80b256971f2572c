package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.matchers.should.Matchers

import graft.streaming.EventStream
import graft.streaming.EventStream.{Event, SessionOut}

class StreamingSpec extends SparkSpec with Matchers {

  test("windowed agg over AvailableNow equals batch groupBy") {
    val dir = "/root/testdata/sf0.001"
    val streamed = EventStream.runWindowedAggAvailableNow(spark, dir, "test_stream_agg")
      .collect().map(_.toString).sorted
    val batch = Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("window_start"),
        col("event_type"), col("cnt"), col("sum_value"))
      .collect().map(_.toString).sorted
    streamed shouldBe batch
  }

  test("streaming dedup-insert drops duplicate content ids across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = MemoryStream[(String, Timestamp)]
    def d(json: String, sec: Long) = (json, new Timestamp(sec * 1000))
    val q = EventStream.dedupInsertStream(
        docs.toDF().toDF("metadata", "ts"), "metadata", "ts", watermark = "1 hour")
      .writeStream.format("memory").queryName("test_dedup_stream")
      .outputMode(OutputMode.Append()).start()
    docs.addData(d("""{"a": 1}""", 10), d("""{"a": 2}""", 20), d("""{"a": 1}""", 30))
    q.processAllAvailable()
    // second micro-batch re-sends a duplicate within the watermark
    docs.addData(d("""{"a": 2}""", 40), d("""{"a": 3}""", 50))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("test_dedup_stream").select("id", "metadata").collect()
    ids.length shouldBe 3
    // same content id the batch path would assign (bit-exact UUIDv5)
    ids.map(_.getString(0)).distinct.length shouldBe 3
  }

  test("stream-stream interval join pairs events within the window, bounded state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[(Long, Long, Timestamp)]
    val buys = MemoryStream[(Long, Long, Timestamp)]
    def t(sec: Long) = new Timestamp(sec * 1000)
    val q = EventStream.intervalStreamJoin(
        views.toDF().toDF("vid", "user", "ts"),
        buys.toDF().toDF("bid", "user", "ts"),
        key = "user", ts = "ts", window = "1 hour")
      .select($"l.vid", $"r.bid")
      .writeStream.format("memory").queryName("test_ssj")
      .outputMode(OutputMode.Append()).start()
    // base offset keeps rows clear of the initial watermark floor at t=0
    val b = 100000L
    views.addData((1L, 7L, t(b)), (2L, 8L, t(b + 100)))
    buys.addData((10L, 7L, t(b + 1800)), // within the hour of view 1 → match
      (11L, 8L, t(b + 100 + 7200)),      // two hours after view 2 → no match
      (12L, 9L, t(b + 50)))              // user with no view → no match
    q.processAllAvailable()
    q.stop()
    val pairs = spark.table("test_ssj").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs shouldBe Set((1L, 10L))
  }

  test("stateful sessionization via flatMapGroupsWithState") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = MemoryStream[Event]
    def ev(id: Long, sec: Long, user: Long) =
      Event(id, new Timestamp(sec * 1000), user, "click", 1.0)
    // user 1: two sessions separated by a 2000s gap; user 2: one session
    events.addData(
      ev(1, 0, 1), ev(2, 100, 1), ev(3, 2500, 1), ev(4, 2600, 1),
      ev(5, 50, 2))
    val q = EventStream.sessionize(events.toDS(), gapSeconds = 1800)
      .writeStream.format("memory").queryName("test_sessions")
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable()
    q.stop()
    // only the COMPLETED session (user 1's first) is emitted
    val done = spark.table("test_sessions").as[SessionOut].collect().toSet
    done shouldBe Set(SessionOut(1L, 0L, 2L))
  }

  test("checkpointed dedup stream survives restart: no duplicates, no loss") {
    import spark.implicits._
    val base = tempDir("ckpt-restart")
    val (in, out, cp) = (s"$base/in", s"$base/out", s"$base/cp")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("payload", org.apache.spark.sql.types.StringType)))
    def writeBatch(ids: Range): Unit =
      ids.map(i => (i.toLong, s"doc-$i")).toDF("id", "payload")
        .coalesce(1).write.mode("append").parquet(in)
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(in)
        // event time well above the epoch-0 watermark floor
        .withColumn("ts", timestamp_micros((col("id") + 1000000L) * 1000000L))
        .withWatermark("ts", "3650 days")
        .dropDuplicatesWithinWatermark("id")
        .select("id", "payload")
      val q = stream.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .outputMode(OutputMode.Append())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    writeBatch(0 until 300)
    runOnce()
    writeBatch(150 until 450) // 150-299 are duplicates across the restart
    runOnce()
    val result = spark.read.parquet(out).as[(Long, String)].collect()
    result.length shouldBe 450                  // exactly once each
    result.map(_._1).sorted shouldBe (0L until 450L) // no loss
  }

  test("funnel state survives kill + restart from checkpoint (RocksDB store)") {
    import spark.implicits._
    // the restart-recovery contract for the flatMapGroupsWithState
    // machines: a query is stopped after batch 1 (the kill), more
    // TIME-ORDERED data lands, and a new query on the SAME checkpoint
    // must restore per-user state from the state store — mid-funnel
    // users complete across the boundary. Runs on the RocksDB state
    // store (bundled rocksdbjni) — the production store for large
    // state; the registry runners use the default HDFS-backed one.
    val base = tempDir("funnel-restart")
    val (in, out, cp) = (s"$base/in", s"$base/out", s"$base/cp")
    val stages = Seq("signup", "view", "click")
    def writeEvents(tag: String, rows: Seq[(Long, Long, Long, String)]): Unit =
      rows.map { case (id, sec, user, tpe) =>
        (id, new Timestamp(sec * 1000L), user, tpe, 1.0)
      }.toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("append").parquet(in)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
    def runOnce(): Unit = {
      val ev = spark.readStream.schema(schema).parquet(in).as[Event]
      val q = EventStream.funnel(ev, stages, maxDays = 2).toDF()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .outputMode(OutputMode.Append())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val prevStore = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // file 1 (t in [1000, 2500]): user 1 reaches stage 2, user 2
      // stage 1, user 4 sends an out-of-sequence view (no advance)
      writeEvents("f1", Seq(
        (1L, 1000L, 1L, "signup"), (2L, 2000L, 1L, "view"),
        (3L, 1500L, 2L, "signup"), (4L, 2500L, 4L, "view")))
      runOnce()
      val afterRun1 = spark.read.parquet(out).as[(Long, Int)].collect().toSet
      afterRun1 shouldBe Set((1L, 1), (1L, 2), (2L, 1))
      // file 2 (t in [3000, 7000], all AFTER file 1 — time-ordered
      // delivery, the machines' documented contract): user 1 completes
      // (possible ONLY if stage-2 state was restored), user 3 runs the
      // whole funnel inside the new batch, user 4 finally signs up
      writeEvents("f2", Seq(
        (5L, 3000L, 1L, "click"),
        (6L, 5000L, 3L, "signup"), (7L, 6000L, 3L, "view"), (8L, 7000L, 3L, "click"),
        (9L, 5500L, 4L, "signup")))
      runOnce()
      val all = spark.read.parquet(out).as[(Long, Int)].collect()
      all.length shouldBe all.toSet.size // append sink: no duplicate advances
      all.toSet shouldBe Set(
        (1L, 1), (1L, 2), (1L, 3),
        (2L, 1),
        (3L, 1), (3L, 2), (3L, 3),
        (4L, 1))
      // the cross-restart completion is the recovery proof
      all.toSet.contains((1L, 3)) shouldBe true
    } finally {
      prevStore match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("funnel rejects cross-batch out-of-order delivery loudly, not silently") {
    import spark.implicits._
    val base = tempDir("funnel-ooo")
    val (in, cp) = (s"$base/in", s"$base/cp")
    def writeEvents(rows: Seq[(Long, Long, Long, String)]): Unit =
      rows.map { case (id, sec, user, tpe) =>
        (id, new Timestamp(sec * 1000L), user, tpe, 1.0)
      }.toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("append").parquet(in)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
    def runOnce(): Unit = {
      val ev = spark.readStream.schema(schema).parquet(in).as[Event]
      val q = EventStream.funnel(ev, Seq("signup", "view"), maxDays = 2).toDF()
        .writeStream.format("parquet")
        .option("path", s"$base/out").option("checkpointLocation", cp)
        .outputMode(OutputMode.Append())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    writeEvents(Seq((1L, 5000L, 1L, "signup")))
    runOnce()
    // a later batch delivering an EARLIER event for the same user would
    // silently diverge from the batch twin — the guard must throw
    writeEvents(Seq((2L, 1000L, 1L, "view")))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException](runOnce())
    def causes(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(c => c +: causes(c.getCause))
    causes(ex).exists(_.getMessage != null) shouldBe true
    (causes(ex).flatMap(c => Option(c.getMessage))
      .exists(_.contains("cross-batch out-of-order"))) shouldBe true
  }

  test("streaming quality gate equals the batch Gopher core filter") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.EventStream.runQualityGateAvailableNow(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = graft.ops.TextAnalysis.gopherQuality(
        spark.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("lang"), col("text")),
        "doc_id", "text")
      .where(col("r_words") && col("r_wlen") && col("r_symbol") && col("r_alpha"))
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    streamed shouldBe batch
  }

  test("streaming near-dup gate equals the batch quarter-banding twin") {
    val dir = "/root/testdata/sf0.001"
    val streamed = EventStream.runNearDupGateAvailableNow(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sortBy(_._1)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val sh = graft.ops.Dedup.simhashes(docs, "doc_id", "text")
    def quarters(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(q =>
        shiftright(col("simhash"), q * 15).bitwiseAND(0x7fff)): _*)).as(Seq("q", "qv")))
    val ex = quarters(sh.where(col("doc_id") < 250))
      .select(col("q"), col("qv"), col("simhash").as("ex_sh"))
    val batch = quarters(sh.where(col("doc_id") >= 250))
      .join(ex, Seq("q", "qv"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(max(when(col("ex_sh").isNotNull, 1).otherwise(0)).cast("int").as("is_candidate"),
        max(when(bit_count(col("simhash").bitwiseXOR(col("ex_sh"))) <= 3, 1).otherwise(0))
          .cast("int").as("is_neardup"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sortBy(_._1)
    streamed should not be empty
    // every doc with a verified near-dup must also be a banding candidate
    streamed.foreach { case (_, cand, near) => if (near == 1) cand shouldBe 1 }
    streamed shouldBe batch
  }

  test("CDC apply equals global LWW under a forced multi-batch split") {
    import org.apache.spark.sql.functions.col
    // The sf fixtures stream as ONE file = one batch, which never
    // exercises cross-batch conflicts. Re-lay the corpus as a 4-file
    // directory table and force maxFilesPerTrigger=1 → 4 micro-batches
    // with same-key changes scattered across them; the versioned
    // tombstone merge must still equal the single-batch (= batch MERGE
    // oracle) census.
    val src = "/root/testdata/sf0.01"
    val tmp = tempDir("graft-cdc-multi")
    spark.read.parquet(s"$src/documents.parquet")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    def census(df: org.apache.spark.sql.DataFrame) =
      df.select(col("n_rows"), col("n_keys"), col("sum_val"), col("n_inserted"))
        .head()
    val single = census(graft.streaming.EventStream.runCdcUpsertAvailableNow(spark, src))
    // count data-carrying micro-batches so a silently-ignored
    // maxFilesPerTrigger can't make this test vacuous
    val batches = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) { batches.incrementAndGet(); () }
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val multi =
      try census(graft.streaming.EventStream.runCdcUpsertAvailableNow(
        spark, tmp, maxFilesPerTrigger = Some(1)))
      finally {
        Thread.sleep(1000) // listener bus is async
        spark.streams.removeListener(listener)
      }
    assert(batches.get >= 2, s"expected a multi-batch run, saw ${batches.get} batch(es)")
    multi shouldBe single
    def rm(f: java.io.File): Unit = { Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); () }
    rm(new java.io.File(tmp))
  }

  test("streaming ANN append: delta segments searchable post-stream, recall gate holds") {
    val dir = "/root/testdata/sf0.001"
    val (ix, basePath) = SparkEntry.ivfpqBaseIndex(spark, dir)
    val gate = graft.streaming.AnnIngest
      .runIvfPqAppendAvailableNow(spark, dir, ix, basePath).head()
    gate.getLong(0) shouldBe 10L // n_queries
    gate.getInt(1) shouldBe 1    // mean probe recall over the full corpus >= 0.7
    graft.core.PlanCache.release(spark)
  }

  test("ANN ingest batch ledger: a replayed batch id cannot double-append segments") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val root = tempDir("graft-ledger")
    graft.ops.Hnsw.buildGraph(emb.where(col("vec_id") % 5 =!= 0), numSegments = 2)
      .write.mode("overwrite").parquet(s"$root/graph")
    val batch = emb.where(col("vec_id") % 5 === 0)
    def applyBatch(id: Long): Boolean =
      graft.streaming.AnnIngest.onceLedgered(spark, s"$root/ledger", id) {
        graft.ops.Hnsw.buildGraph(batch, numSegments = 1, segOffset = 2 + id.toInt)
          .write.mode("append").parquet(s"$root/graph")
      }
    applyBatch(0) shouldBe true
    val queries = emb.where(col("vec_id") < 5)
    def probeIds() = graft.ops.Hnsw
      .probeGraph(spark.read.parquet(s"$root/graph"), queries, k = 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rowsBefore = spark.read.parquet(s"$root/graph").count()
    val hitsBefore = probeIds()
    // the redelivered batch id (foreachBatch at-least-once after a
    // failure) must be a no-op: same segment rows, same probe answers
    applyBatch(0) shouldBe false
    spark.read.parquet(s"$root/graph").count() shouldBe rowsBefore
    probeIds() shouldBe hitsBefore
    // a NEW batch id still appends
    applyBatch(1) shouldBe true
    spark.read.parquet(s"$root/graph").count() should be > rowsBefore
    graft.core.PlanCache.release(spark)
  }

  test("streaming TABLE-tier append (BQ): mid-stream insert immediately searchable, recall holds") {
    val dir = "/root/testdata/sf0.001"
    val gate = graft.streaming.AnnIngest.runTableTierAppendAvailableNow(
      spark, dir,
      SparkEntry.copyFixture(spark, SparkEntry.tierBaseFixture(spark, dir, "bq")),
      floor = 0.8).head()
    gate.getInt(1) shouldBe 1 // post-stream panel recall vs exact facade leg
    gate.getInt(2) shouldBe 1 // a batch row probed back at distance 0 MID-stream
    // the BASE fixture itself stays delta-free (the runner mutated only
    // its copy): the memoized warehouse serves the next consumer intact
    val base = new graft.table.VectorTable(
      spark, SparkEntry.tierBaseFixture(spark, dir, "bq") + "/items", 64)
    base.bqCodes.get.count() shouldBe base.numRows
    graft.core.PlanCache.release(spark)
  }
}
