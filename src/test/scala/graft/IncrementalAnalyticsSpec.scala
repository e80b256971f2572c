package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

/** Semantics of the round-7 additions on adversarial hand-built
  * fixtures: the windowed funnel's range predicate (boundary
  * inclusive, out-of-window and out-of-order events excluded) and the
  * incremental ER's core property — the batch delta merging two base
  * components yields EXACTLY the full-recompute entities. */
class IncrementalAnalyticsSpec extends SparkSpec with Matchers {

  private def ts(dayOffset: Double): Timestamp =
    new Timestamp(1704067200000L + (dayOffset * 86400 * 1000).toLong) // 2024-01-01 + d

  // u1 converts every stage inside the 2-day windows; u2's view is
  // 3 days after signup (outside); u3's view PRECEDES signup (order);
  // u4 stalls at click (purchase 10 days later); u5's view lands
  // EXACTLY on the 2-day boundary (inclusive — converts stage 2).
  private lazy val funnelDir: String = {
    import spark.implicits._
    val dir = tempDir("graft-funnel")
    val rows = Seq(
      (1L, ts(0.0), 1L, "signup"), (2L, ts(1.0), 1L, "view"),
      (3L, ts(1.5), 1L, "click"), (4L, ts(2.0), 1L, "purchase"),
      (5L, ts(0.0), 2L, "signup"), (6L, ts(3.0), 2L, "view"),
      (7L, ts(-1.0), 3L, "view"), (8L, ts(0.0), 3L, "signup"),
      (9L, ts(0.0), 4L, "signup"), (10L, ts(1.0), 4L, "view"),
      (11L, ts(1.1), 4L, "click"), (12L, ts(10.0), 4L, "purchase"),
      (13L, ts(0.0), 5L, "signup"), (14L, ts(2.0), 5L, "view"))
      .toDF("event_id", "ts", "user_id", "event_type")
      .withColumn("value", lit(1.0))
    // a single FILE named events.parquet, like the real fixtures —
    // EventStream.readEvents's pathGlobFilter matches file names
    rows.coalesce(1).write.parquet(s"$dir/__scratch")
    val part = new java.io.File(s"$dir/__scratch").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, java.nio.file.Paths.get(s"$dir/events.parquet"))
    dir
  }

  test("q_funnel_windowed: window bites, boundary inclusive, order enforced") {
    val out = SparkEntry.queries("q_funnel_windowed")(spark, funnelDir)
      .orderBy("stage").collect()
    out.map(_.getLong(2)).toSeq shouldBe Seq(5L, 3L, 2L, 1L)
    out.map(_.getInt(0)).toSeq shouldBe Seq(1, 2, 3, 4)
    out.map(_.getString(1)).toSeq shouldBe Seq("signup", "view", "click", "purchase")
    out.head.getDouble(3) shouldBe 1.0 // first stage converts from itself
    out(1).getDouble(3) shouldBe 0.6 // 3/5
    out(3).getDouble(3) shouldBe 0.5 // 1/2
  }

  test("stream_funnel: the state machine matches the batch twin on the adversarial fixture") {
    val stream = SparkEntry.queries("stream_funnel")(spark, funnelDir)
      .orderBy("stage").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    val batch = SparkEntry.queries("q_funnel_windowed")(spark, funnelDir)
      .orderBy("stage").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    stream shouldBe batch
  }

  test("stream_cohort: the state machine matches the batch matrix on the fixture") {
    val stream = SparkEntry.queries("stream_cohort")(spark, funnelDir)
      .orderBy("cohort_day", "day_offset").collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2))).toSeq
    val batch = SparkEntry.queries("q_cohort")(spark, funnelDir)
      .orderBy("cohort_day", "day_offset").collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2))).toSeq
    stream shouldBe batch
  }

  test("pipeline_er_incremental: batch bridges two base components == full rerun") {
    import spark.implicits._
    val dir = tempDir("graft-er")
    val P = "PPPPPPPPPPPP" // 12-char prefix so substr(13,3) is the block
    // base components {1,2} and {3,4} (lev 1 inside, lev 2 across);
    // batch id 10 is lev-1 from BOTH — the delta must merge them.
    // {20,30} is a pure batch-batch pair; {5,6} an untouched base
    // entity; 7 and 40 are singletons (dropped by n_members > 1).
    val rows = Seq(
      (1L, 0L, P + "BBB" + "aa", 10.0), (2L, 0L, P + "BBB" + "ab", 20.0),
      (3L, 0L, P + "BBB" + "cc", 30.0), (4L, 0L, P + "BBB" + "cd", 40.0),
      (10L, 0L, P + "BBB" + "ac", 50.0),
      (20L, 0L, P + "CCC" + "xx", 60.0), (30L, 0L, P + "CCC" + "xy", 70.0),
      (5L, 0L, P + "DDD" + "mm", 80.0), (6L, 0L, P + "DDD" + "mn", 90.0),
      (7L, 0L, P + "EEE" + "zz", 5.0), (40L, 0L, P + "FFF" + "qq", 6.0))
      .toDF("c_custkey", "c_nationkey", "c_name", "c_acctbal")
    rows.write.parquet(s"$dir/customer.parquet")
    val inc = SparkEntry.queries("pipeline_er_incremental")(spark, dir)
      .orderBy("entity_id").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSeq
    val full = SparkEntry.queries("pipeline_er")(spark, dir)
      .orderBy("entity_id").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSeq
    inc shouldBe full
    inc shouldBe Seq(
      (1L, 5L, P + "BBB" + "aa", 50.0), // merged {1,2,3,4,10}
      (5L, 2L, P + "DDD" + "mm", 90.0), // untouched base entity
      (20L, 2L, P + "CCC" + "xx", 70.0)) // batch-batch pair
  }
}
