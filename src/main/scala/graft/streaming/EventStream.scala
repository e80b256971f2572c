package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming ingest of the `events` table: watermarked
  * tumbling-window aggregation and stateful sessionization.
  *
  * The reference has no streaming surface (SURVEY.md §2.10); this is the
  * scale extension for continuous pipelines. Batch and stream share the
  * same logical aggregation, so results are oracle-checkable by running
  * the stream with Trigger.AvailableNow over the static parquet and
  * comparing against the batch SQL twin.
  */
object EventStream {

  /** events schema as stored. `ts`'s on-disk encoding varies by fixture
    * generation (TIMESTAMP(NANOS) → long under
    * spark.sql.legacy.parquet.nanosAsLong; TIMESTAMP(MICROS, NTZ) →
    * TimestampNTZ), so the stream's user-provided schema is probed from
    * a one-off batch footer read and `ts` normalized after the source —
    * the same contract as the batch loader (graft.Tables.normalizeTs).
    * A stream declaring the wrong ts type would not fail: it would
    * silently mis-scale every window (nanos÷1000 applied to micros). */
  private def rawSchema(tsType: DataType) = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", tsType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  private val docsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming source over the documents parquet. The table may be a
    * single file (the sf fixtures) or a directory of part files
    * (synthesized stress corpora): a directory is streamed directly
    * (the file source's basePath must be a directory), while a single
    * file keeps the glob-filter-over-the-sf-dir form. Always branching
    * on the actual layout matters because the leaf-name glob
    * `documents.parquet` matches ZERO files inside a directory table —
    * a silently-empty stream that makes every downstream number a lie.
    * (Local-FS check; a cluster deployment would ask the Hadoop
    * FileSystem the same question.) */
  def readDocuments(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val table = s"$dir/documents.parquet"
    var rdr = spark.readStream.schema(docsSchema)
    maxFilesPerTrigger.foreach(n => rdr = rdr.option("maxFilesPerTrigger", n))
    if (new java.io.File(table).isDirectory) rdr.parquet(table)
    else rdr.option("pathGlobFilter", "documents.parquet").parquet(dir)
  }

  /** Streaming source over the events parquet (file-stream source with a
    * glob filter so the sf dir can hold the other tables too). The ts
    * storage type is probed batch-side once (driver-only footer read),
    * then normalized identically to the batch loader. */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    val tsType = spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    val raw = spark.readStream
      .schema(rawSchema(tsType))
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    graft.Tables.normalizeTs(raw, "ts")
  }

  /** Tumbling-window counts/sums per event type with a watermark for
    * late data. At scale this is a streaming shuffle keyed by
    * (window, event_type) with partial aggregation upstream — the same
    * plan shape as the batch groupBy. */
  def windowedAgg(events: DataFrame, windowLen: String = "1 hour", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("cnt"), graft.functions.RoundPortableExpr.r(sum(col("value")), 2).as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("window_start"),
        col("event_type"), col("cnt"), col("sum_value"))

  /** Runs the windowed aggregation over the static parquet with
    * Trigger.AvailableNow into a memory sink and returns the final
    * batch result — the stream-equals-batch bridge used by the
    * `stream_window_agg` oracle query. */
  def runWindowedAggAvailableNow(spark: SparkSession, dir: String, name: String = "stream_window_agg"): DataFrame =
    runToMemory(windowedAgg(readEvents(spark, dir)), name, OutputMode.Complete())

  /** Streaming dedup-insert: the reference's insert path (UUIDv5
    * content id → skip duplicates → append, duckvdb.py:47-61) as a
    * continuous ingest. `dropDuplicates` on the content id keeps
    * per-key state; the watermark bounds that state — ids older than
    * `watermark` are forgotten, so state size tracks the dedup window,
    * not the table (at 100 TB an unbounded id set cannot live in
    * executor state; the historical dedup is the batch anti-join at
    * compaction time, this operator dedups the live window). */
  def dedupInsertStream(
      docs: DataFrame, metadataCol: String, tsCol: String,
      watermark: String): DataFrame =
    dedupInsertStream(docs, graft.functions.JsonUuid5.jsonUuid5Col(col(metadataCol)),
      tsCol, watermark)

  def dedupInsertStream(
      docs: DataFrame, metadataCol: String, tsCol: String): DataFrame =
    dedupInsertStream(docs, metadataCol, tsCol, "2 hours")

  /** Generalized form: any deterministic content-id expression (the
    * oracle-checked entry uses md5 — UUIDv5 is SHA-1-based, which the
    * DuckDB oracle can't reproduce). */
  def dedupInsertStream(
      docs: DataFrame, idExpr: org.apache.spark.sql.Column, tsCol: String,
      watermark: String): DataFrame =
    docs
      .withColumn("id", idExpr)
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("id")

  /** Watermarked stream-stream interval join: pairs every left event
    * with the right events of the same key whose timestamp falls in
    * [left.ts, left.ts + window] (attribution: view → purchase within
    * the hour). The watermarks plus the two-sided time-range condition
    * bound BOTH join states — Spark evicts buffered rows once the
    * watermark passes the interval, so state size tracks the window,
    * not the stream. Output columns: `l.*` / `r.*` structs. */
  def intervalStreamJoin(left: DataFrame, right: DataFrame,
      key: String, ts: String, window: String): DataFrame = {
    val l = left.select(col(key).as("__lk"), col(ts).as("__lts"),
        struct(left.columns.map(col): _*).as("l"))
      .withWatermark("__lts", window)
    val r = right.select(col(key).as("__rk"), col(ts).as("__rts"),
        struct(right.columns.map(col): _*).as("r"))
      .withWatermark("__rts", window)
    l.join(r, expr(s"__lk = __rk AND __rts >= __lts AND __rts <= __lts + INTERVAL $window"))
      .select(col("l"), col("r"))
  }

  // ---- stateful sessionization (flatMapGroupsWithState) ----

  /** Cross-batch order guard for the order-sensitive state machines.
    * Within one micro-batch events are sorted before folding, but a
    * batch whose earliest event PRECEDES anything already folded into
    * state cannot be absorbed by a first-seen/last-touch machine in
    * append mode — emissions are final, there is no retraction — and
    * the stream==batch equivalence would silently break (r7 advice:
    * multi-file fixtures or maxFilesPerTrigger can interleave
    * timestamps across batches). The machines therefore REQUIRE
    * time-ordered batch delivery — single-batch AvailableNow (the
    * registry runners: one fixture file = one batch), or time-split
    * files processed in order (the restart-recovery spec) — and this
    * guard turns a violation into a loud failure instead of a silent
    * divergence. */
  private def guardOrdered(stateMaxTs: Long, batchHeadTs: Long, op: String): Unit =
    if (batchHeadTs < stateMaxTs)
      throw new IllegalStateException(
        s"$op: cross-batch out-of-order delivery (batch-min event ts $batchHeadTs " +
          s"< state max $stateMaxTs); deliver time-ordered batches " +
          "(single-batch AvailableNow or time-split files)")

  case class Event(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)
  case class SessionState(sessionId: Long, lastTs: Long, nEvents: Long)
  case class SessionOut(user_id: Long, session_id: Long, n_events: Long)

  /** Gap-based sessionization as a stateful streaming operator: a new
    * session starts when a user is idle for longer than `gapSeconds`.
    * State per user is O(1) (current session id + last seen ts), so the
    * operator scales with distinct users, not events. Emits one row per
    * completed session; ProcessingTimeTimeout flushes open sessions when
    * the state times out. The batch twin (window lag + running sum) is
    * the `q_sessionize` oracle query. */
  def sessionize(events: Dataset[Event], gapSeconds: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (userId, it, state: GroupState[SessionState]) =>
          // full microsecond precision: Timestamp.getTime is millis-only;
          // a second- or ms-truncated comparison puts boundary events in
          // the wrong session vs the batch twin (same class of bug as the
          // nanos→micros `div` fix in Tables.events)
          def micros(ts: Timestamp): Long = ts.getTime * 1000L + (ts.getNanos % 1000000L) / 1000L
          // events within a trigger arrive unordered: sort this batch
          val sorted = it.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          var st = state.getOption.getOrElse(SessionState(0L, Long.MinValue, 0L))
          // lastTs is monotone over folded events, so it IS the max
          if (sorted.nonEmpty && st.lastTs != Long.MinValue)
            guardOrdered(st.lastTs, micros(sorted.head.ts), "sessionize")
          val out = Seq.newBuilder[SessionOut]
          sorted.foreach { e =>
            val t = micros(e.ts)
            if (st.lastTs != Long.MinValue && t - st.lastTs > gapSeconds * 1000000L) {
              out += SessionOut(userId, st.sessionId, st.nEvents)
              st = SessionState(st.sessionId + 1, t, 1L)
            } else {
              st = st.copy(lastTs = t, nEvents = st.nEvents + 1)
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Batch flush of the final open session per user, for tests that
    * compare streaming sessionization against the batch twin. */
  def finalSessions(spark: SparkSession, sessions: DataFrame): DataFrame = sessions

  case class CepState(sessionIdx: Long, lastTs: Long, trail: String)
  case class CepOut(user_id: Long, session_idx: Long, n_matches: Int)

  /** Streaming complex-event-processing: the q_cep_pattern regex
    * matcher run incrementally — per-user state is the CURRENT
    * session's event-initial trail (bounded by the session gap, the
    * same envelope as [[sessionize]]); a gap closes the session and
    * emits its non-overlapping match count. Only CLOSED sessions
    * emit (the open tail has no final trail yet), so the batch twin
    * oracle excludes each user's last session. */
  def cepSessions(events: Dataset[Event], gapSeconds: Long,
      pattern: String): Dataset[CepOut] = {
    import events.sparkSession.implicits._
    val compiled = java.util.regex.Pattern.compile(pattern)
    def countMatches(trail: String): Int = {
      val m = compiled.matcher(trail)
      var n = 0
      while (m.find()) n += 1
      n
    }
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[CepState, CepOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (userId, it, state: GroupState[CepState]) =>
          def micros(ts: Timestamp): Long = ts.getTime * 1000L + (ts.getNanos % 1000000L) / 1000L
          val sorted = it.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          var st = state.getOption.getOrElse(CepState(0L, Long.MinValue, ""))
          if (sorted.nonEmpty && st.lastTs != Long.MinValue)
            guardOrdered(st.lastTs, micros(sorted.head.ts), "cep")
          val out = Seq.newBuilder[CepOut]
          sorted.foreach { e =>
            val t = micros(e.ts)
            if (st.lastTs != Long.MinValue && t - st.lastTs > gapSeconds * 1000000L) {
              out += CepOut(userId, st.sessionIdx, countMatches(st.trail))
              st = CepState(st.sessionIdx + 1, t, e.event_type.substring(0, 1))
            } else {
              st = CepState(st.sessionIdx, t, st.trail + e.event_type.substring(0, 1))
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** AvailableNow runner for [[cepSessions]]: sinks closed sessions,
    * then the bounded matches-per-session histogram over them. */
  def runCepAvailableNow(spark: SparkSession, dir: String,
      gapSeconds: Long = 1800L, pattern: String = "v[vc]*p"): DataFrame = {
    import spark.implicits._
    val ev = readEvents(spark, dir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value").as[Event]
    runToMemory(cepSessions(ev, gapSeconds, pattern).toDF(), "stream_cep")
      .groupBy($"n_matches")
      .agg(count(lit(1)).as("n_sessions"))
  }

  case class FunnelState(stage: Int, lastTs: Long, maxTs: Long = Long.MinValue)
  case class FunnelAdvance(user_id: Long, stage: Int)

  /** The k-stage windowed conversion funnel as a stateful streaming
    * operator — conversion tracking as it happens, instead of the
    * batch recompute (`q_funnel_windowed` is the batch twin and the
    * oracle). State per user is O(1): the stage reached and the
    * timestamp of the LAST conversion; an incoming event advances the
    * state iff it is the next expected stage type and lands in the
    * half-open window (lastTs, lastTs + maxDays]. Each advancement
    * emits one (user, stage) row, so `count(*) GROUP BY stage` over
    * the emissions IS the batch census: the first in-ts-order
    * qualifying event is exactly the batch side's min-ts qualifying
    * event. Scales with distinct users, not events — the same state
    * envelope as [[sessionize]]. */
  def funnel(events: Dataset[Event], stages: Seq[String],
      maxDays: Int): Dataset[FunnelAdvance] = {
    import events.sparkSession.implicits._
    val windowMicros = maxDays.toLong * 86400L * 1000000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelAdvance](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (userId, it, state: GroupState[FunnelState]) =>
          def micros(ts: Timestamp): Long = ts.getTime * 1000L + (ts.getNanos % 1000000L) / 1000L
          val sorted = it.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          var st = state.getOption.getOrElse(FunnelState(0, Long.MinValue))
          if (sorted.nonEmpty && st.maxTs != Long.MinValue)
            guardOrdered(st.maxTs, micros(sorted.head.ts), "funnel")
          val out = Seq.newBuilder[FunnelAdvance]
          sorted.foreach { e =>
            if (st.stage < stages.length && e.event_type == stages(st.stage)) {
              val t = micros(e.ts)
              if (st.stage == 0 || (t > st.lastTs && t <= st.lastTs + windowMicros)) {
                st = FunnelState(st.stage + 1, t, st.maxTs)
                out += FunnelAdvance(userId, st.stage)
              }
            }
          }
          if (sorted.nonEmpty)
            st = st.copy(maxTs = math.max(st.maxTs, micros(sorted.last.ts)))
          state.update(st)
          out.result().iterator
      }
  }

  case class TouchState(lastCh: String, lastT: Long, maxTs: Long = Long.MinValue)
  case class Attribution(channel: String, value: Double)

  /** Last-touch attribution as a stateful streaming operator — the
    * q_attribution batch window recomputation run incrementally. State
    * per user is O(1): the latest non-purchase event type and its
    * timestamp. A purchase emits (channel, value), crediting the
    * stored touch iff it lies within the lookback window, else
    * 'direct'; every non-purchase event just refreshes the state.
    * Processing events in (ts, event_id) order makes the stored touch
    * exactly the batch twin's frame-ending-at--1 last() — the oracle
    * is q_attribution's SQL verbatim. */
  def attribution(events: Dataset[Event], lookbackDays: Int): Dataset[Attribution] = {
    import events.sparkSession.implicits._
    val windowMicros = lookbackDays.toLong * 86400L * 1000000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TouchState, Attribution](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, it, state: GroupState[TouchState]) =>
          def micros(ts: Timestamp): Long = ts.getTime * 1000L + (ts.getNanos % 1000000L) / 1000L
          val sorted = it.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          var st = state.getOption.getOrElse(TouchState(null, Long.MinValue))
          if (sorted.nonEmpty && st.maxTs != Long.MinValue)
            guardOrdered(st.maxTs, micros(sorted.head.ts), "attribution")
          val out = Seq.newBuilder[Attribution]
          sorted.foreach { e =>
            if (e.event_type == "purchase") {
              val t = micros(e.ts)
              val ch =
                if (st.lastCh != null && t <= st.lastT + windowMicros) st.lastCh
                else "direct"
              out += Attribution(ch, e.value)
            } else st = TouchState(e.event_type, micros(e.ts), st.maxTs)
          }
          if (sorted.nonEmpty)
            st = st.copy(maxTs = math.max(st.maxTs, micros(sorted.last.ts)))
          state.update(st)
          out.result().iterator
      }
  }

  case class CohortState(cohortDay: Int, seen: Seq[Int], maxTs: Long = Long.MinValue)
  case class CohortHit(cohort_day: Int, day_offset: Long)

  /** Retention cohorts as a stateful streaming operator — q_cohort's
    * first-seen-day matrix maintained incrementally. State per user is
    * the cohort day (first day seen, fixed forever by in-order
    * delivery) plus the set of day-offsets already emitted, so each
    * (user, active-day) pair emits EXACTLY once and
    * `count(*) GROUP BY (cohort, offset)` over emissions equals the
    * batch `count(DISTINCT user)`. The seen-set is bounded by the
    * retention horizon a production deployment tracks (the fixture's
    * 30-day span here); days are UTC epoch-days to match the batch
    * twin's `CAST(ts AS DATE)` under the UTC session. */
  def cohorts(events: Dataset[Event]): Dataset[CohortHit] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[CohortState, CohortHit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, it, state: GroupState[CohortState]) =>
          def micros(ts: Timestamp): Long = ts.getTime * 1000L + (ts.getNanos % 1000000L) / 1000L
          def epochDay(ts: Timestamp): Int = Math.floorDiv(micros(ts), 86400000000L).toInt
          val sorted = it.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          var st = state.getOption.orNull
          if (sorted.nonEmpty && st != null)
            guardOrdered(st.maxTs, micros(sorted.head.ts), "cohorts")
          val out = Seq.newBuilder[CohortHit]
          sorted.foreach { e =>
            val d = epochDay(e.ts)
            if (st == null) st = CohortState(d, Nil)
            val off = d - st.cohortDay
            if (!st.seen.contains(off)) {
              st = st.copy(seen = st.seen :+ off)
              out += CohortHit(st.cohortDay, off.toLong)
            }
          }
          if (st != null && sorted.nonEmpty)
            st = st.copy(maxTs = math.max(st.maxTs, micros(sorted.last.ts)))
          if (st != null) state.update(st)
          out.result().iterator
      }
  }

  /** AvailableNow runner for [[cohorts]]: emissions folded into the
    * (cohort_day, day_offset) matrix the batch twin outputs. */
  def runCohortsAvailableNow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = readEvents(spark, dir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value").as[Event]
    runToMemory(cohorts(ev).toDF(), "stream_cohort")
      .groupBy(date_from_unix_date($"cohort_day").as("cohort_day"), $"day_offset")
      .agg(count(lit(1)).as("n_active"))
  }

  /** AvailableNow runner for [[attribution]]: the per-purchase credit
    * emissions folded into the channel census the batch twin outputs. */
  def runAttributionAvailableNow(spark: SparkSession, dir: String,
      lookbackDays: Int = 7): DataFrame = {
    import spark.implicits._
    val ev = readEvents(spark, dir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value").as[Event]
    runToMemory(attribution(ev, lookbackDays).toDF(), "stream_attribution")
      .groupBy($"channel")
      .agg(count(lit(1)).as("n_purchases"),
        graft.functions.RoundPortableExpr.r(sum($"value"), 2).as("revenue"))
  }

  /** AvailableNow runner for [[funnel]]: streams the static events
    * parquet through the state machine, then folds the advancement
    * emissions into the same k-row census the batch funnel outputs
    * (dense over the stage spine — a stage nobody reached counts 0). */
  def runFunnelAvailableNow(spark: SparkSession, dir: String,
      stages: Seq[String] = Seq("signup", "view", "click", "purchase"),
      maxDays: Int = 2): DataFrame = {
    import spark.implicits._
    val ev = readEvents(spark, dir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value").as[Event]
    val adv = runToMemory(funnel(ev, stages, maxDays).toDF(), "stream_funnel")
    val spine = stages.zipWithIndex.map { case (n, i) => (i + 1, n) }
      .toDF("stage", "event_type")
    val census = adv.groupBy($"stage").agg(count(lit(1)).as("n_users"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("stage"))
    val dense = spine.join(census, Seq("stage"), "left")
      .withColumn("n_users", coalesce($"n_users", lit(0L)))
    // dense conv_rate mirroring the batch twin: empty previous stage
    // converts 0.0 instead of an ANSI divide-by-zero
    val prev = coalesce(lag(col("n_users"), 1).over(w), col("n_users"))
    dense
      .withColumn("conv_rate", when(prev === 0, lit(0.0))
        .otherwise(graft.functions.RoundPortableExpr.r(col("n_users") / prev, 4)))
      .select($"stage", $"event_type", $"n_users", $"conv_rate")
  }

  // ---- AvailableNow runners: each streaming operator driven over the
  // static parquet into a memory sink, so the stream result is
  // differentially checkable against a batch SQL twin (the
  // `stream_window_agg` pattern). Memory-sink harness only — a real
  // deployment writes to a durable sink. ----

  private val runSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  private def runToMemory(df: DataFrame, name: String,
      mode: OutputMode = OutputMode.Append()): DataFrame = {
    // unique sink name per invocation: Bench runs every query ≥2× in one
    // session and memory-sink names must not collide across runs
    val unique = s"${name}_${runSeq.incrementAndGet()}"
    // Shuffle partitions = state-store instances for a stateful stream
    // (each one commits a checkpoint delta per micro-batch — a
    // stream-stream join carries 4 stores per partition). Size them to
    // key cardinality/throughput, not the batch-session default: the
    // harness fixture has a handful of hot keys, so 32 stores is pure
    // per-batch commit overhead. Scoped set/restore — the streaming
    // query picks the value up at start() and keeps it for life.
    val spark = df.sparkSession
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val streamParts = sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTITIONS", "8")
    spark.conf.set("spark.sql.shuffle.partitions", streamParts)
    try {
      val q = df.writeStream.format("memory").queryName(unique)
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    df.sparkSession.table(unique)
  }

  /** Exactly-once parquet sink via idempotent per-batch directories —
    * the standard transactional-sink recipe: `foreachBatch` gives
    * at-least-once delivery (a batch can be redelivered after a
    * failure), so the writer keys every write by `batchId` and
    * overwrites — a redelivered batch lands in the same directory and
    * the table converges to exactly-once contents. The redelivery is
    * SIMULATED here by writing every batch twice (the worst case the
    * contract must absorb); the returned census over the sunk files
    * must equal the batch aggregate of the source — proving no
    * duplication. At scale this is the idempotence half of an
    * exactly-once sink; the other half (atomic visibility) is the
    * temp-dir + rename the batch writers already use. */
  def runIdempotentSinkAvailableNow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = graft.core.Scratch.dir(spark, "graft-eos")
    val src = readEvents(spark, dir).select($"event_id", $"event_type", $"value")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTITIONS", "8"))
    try {
      val q = src.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          def deliver(): Unit = batch.write.mode("overwrite")
            .parquet(s"$out/batch=$batchId")
          deliver()
          deliver() // simulated redelivery: same batch id, same directory
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    val census = spark.read.parquet(out)
      .agg(count(lit(1)).as("n_rows"),
        countDistinct($"event_id").as("n_distinct"),
        graft.functions.RoundPortableExpr.r(sum($"value"), 2).as("sum_value"))
    eagerThenDelete(spark, census, out)
  }

  /** Streaming ingest through the `gvdb` FORMAT — the sink half of the
    * DataSource surface (graft.sources.GvdbStreamingWrite, V2
    * STREAMING_WRITE): events stream in as (id, metadata-JSON,
    * embedding) rows via `writeStream.format("gvdb")`, each epoch
    * stages distributed then lands through the table's dedup insert
    * at commit, and delivery is exactly-once by the per-query epoch
    * ledger + id anti-join backstop (the same two-layer recipe
    * `stream_idempotent_sink` proves for a raw parquet sink, here
    * packaged behind the format). The census reads BACK through
    * `spark.read.format("gvdb")`, so the oracle pins the full round
    * trip: stream → sink → MoR read. */
  def runGvdbSinkAvailableNow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = graft.core.Scratch.dir(spark, "graft-gvdb-sink")
    val root = s"$out/tbl"
    val src = readEvents(spark, dir)
      .select($"event_id".cast("string").as("id"),
        to_json(struct($"event_type", $"value")).as("metadata"),
        array($"value".cast("float")).as("embedding"))
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTITIONS", "8"))
    try {
      val q = src.writeStream.format("gvdb")
        .option("path", root).option("dim", "1")
        .option("checkpointLocation", s"$out/cp")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    val census = spark.read.format("gvdb").load(root)
      .agg(count(lit(1)).as("n_rows"),
        countDistinct($"id").as("n_distinct"),
        graft.functions.RoundPortableExpr.r(
          sum(get_json_object($"metadata", "$.value").cast("double")), 2).as("sum_value"))
    eagerThenDelete(spark, census, out)
  }

  /** Streaming UPDATE-mode sink: a keyed change stream applies to a
    * persisted gvdb table as per-epoch MoR upserts through the V2
    * sink itself (`.option("upsert", "true")` +
    * `outputMode("update")` — `GvdbUpsertWriteBuilder`), NOT through
    * foreachBatch+MERGE: updates replace same-id rows via file-group
    * CoW, inserts append, and the final census must equal the batch
    * MERGE of the whole change set regardless of how the file stream
    * splits it into micro-batches (each id occurs once in the set, so
    * keyed per-epoch application commutes). */
  def runUpsertSinkAvailableNow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = graft.core.Scratch.dir(spark, "graft-upsert-sink")
    val root = s"$out/tbl"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    def shaped(d: DataFrame, bump: Boolean) = {
      val chars = if (bump) $"n_chars" + 1000 else $"n_chars"
      d.select($"doc_id".cast("string").as("id"),
        to_json(struct($"lang", chars.as("n_chars"))).as("metadata"),
        array(chars.cast("float")).as("embedding"))
    }
    shaped(docs.where($"doc_id" < 400), bump = false)
      .write.format("gvdb").option("dim", "1").mode("overwrite").save(root)
    // the change set: every French base row updated (+1000 chars, new
    // embedding) + 50 fresh inserts; staged as SEVERAL files so the
    // file stream splits it across micro-batches
    shaped(docs.where($"doc_id" < 400 && $"lang" === "fr"), bump = true)
      .unionByName(shaped(docs.where($"doc_id" >= 400 && $"doc_id" < 450), bump = false))
      .repartition(4).write.parquet(s"$out/changes")
    val stream = spark.readStream
      .schema("id string, metadata string, embedding array<float>")
      .option("maxFilesPerTrigger", "2").parquet(s"$out/changes")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTITIONS", "8"))
    try {
      val q = stream.writeStream.format("gvdb")
        .option("path", root).option("dim", "1")
        .option("upsert", "true").outputMode("update")
        .option("checkpointLocation", s"$out/cp")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    val census = spark.read.format("gvdb").load(root)
      .groupBy(get_json_object($"metadata", "$.lang").as("lang"))
      .agg(count(lit(1)).as("cnt"),
        sum(get_json_object($"metadata", "$.n_chars").cast("long")).as("sum_chars"),
        sum($"embedding"(0)).cast("long").as("sum_emb"))
    eagerThenDelete(spark, census, out)
  }

  /** Streaming CDC apply: a keyed change stream (upserts + deletes,
    * derived deterministically from the incoming-doc half of the
    * fixture) is MERGED into a persisted base table per micro-batch —
    * the continuous analogue of the batch `vdb_upsert` MERGE, and the
    * op every lakehouse ingestion path runs. Each batch applies
    * last-writer-wins within the batch (row_number over the key by
    * descending version — deterministic, never a hash-dependent
    * `first`), then a key-keyed full-outer merge against the current
    * state keeps whichever side carries the HIGHER version — state
    * rows store (ver, op) including delete tombstones, so the result
    * equals global max-version LWW for ANY split of the change set
    * into micro-batches, in any order (the r5 advice: per-batch LWW
    * alone silently diverges from the batch-MERGE oracle the moment
    * Spark splits a multi-file change set). O(|batch| + |table|) per
    * batch, all keyed joins. The new state lands in a batch-versioned
    * directory and the pointer advances only after the write completes
    * (atomic-visibility half of the exactly-once recipe; the
    * idempotence half is `stream_idempotent_sink`'s); the superseded
    * version's directory is deleted as soon as the pointer moves, and
    * the whole scratch root is deleted once the final census is taken
    * — repeated bench/verify passes leak nothing. Returns the
    * final-state census (live rows only; tombstones excluded). */
  def runCdcUpsertAvailableNow(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val root = graft.core.Scratch.dir(spark, "graft-cdc")
    // base rows enter versioned state as live upserts; base versions
    // (doc_id < 250) sort below every change version (doc_id ≥ 250),
    // matching the oracle where any change beats the base row
    spark.read.parquet(s"$dir/documents.parquet").where($"doc_id" < 250)
      .select($"doc_id".as("key"), $"lang", $"n_chars".as("val"),
        $"doc_id".as("ver"), lit("u").as("op"))
      .write.mode("overwrite").parquet(s"$root/v0")
    val cur = new java.util.concurrent.atomic.AtomicReference[String](s"$root/v0")
    val key = (($"doc_id" - 250) * 2) % 300
    val changes = readDocuments(spark, dir, maxFilesPerTrigger).where($"doc_id" >= 250)
      .select(key.as("key"), $"lang", $"n_chars".as("val"), $"doc_id".as("ver"),
        when(key % 20 === 0, lit("d")).otherwise(lit("u")).as("op"))
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTITIONS", "8"))
    try {
      val q = changes.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("key").orderBy(col("ver").desc)
          val lww = batch.withColumn("rn", row_number().over(w))
            .where(col("rn") === 1).drop("rn")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val current = batch.sparkSession.read.parquet(cur.get)
          // max-version merge: tombstones participate like any row, so
          // a late-arriving lower-version upsert cannot resurrect a
          // newer delete, and batch order never matters
          val keepCurrent = col("n.ver").isNull ||
            (col("c.ver").isNotNull && col("c.ver") > col("n.ver"))
          def side(p: String) = struct(col(s"$p.lang").as("lang"),
            col(s"$p.val").as("val"), col(s"$p.ver").as("ver"), col(s"$p.op").as("op"))
          val next = current.alias("c")
            .join(lww.alias("n"), col("c.key") === col("n.key"), "full_outer")
            .select(coalesce(col("c.key"), col("n.key")).as("key"),
              when(keepCurrent, side("c")).otherwise(side("n")).as("r"))
            .select(col("key"), col("r.lang").as("lang"), col("r.val").as("val"),
              col("r.ver").as("ver"), col("r.op").as("op"))
          val path = s"$root/v${batchId + 1}"
          next.write.mode("overwrite").parquet(path)
          lww.unpersist()
          val superseded = cur.getAndSet(path)
          deleteRecursively(new java.io.File(superseded))
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    val census = spark.read.parquet(cur.get)
      .where($"op" === "u")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct($"key").as("n_keys"),
        sum($"val").as("sum_val"),
        count(when($"key" >= 250, 1)).as("n_inserted"))
    eagerThenDelete(spark, census, root)
  }

  /** Scratch cleanup for registry entries that stage temp stream
    * output outside this object. */
  def deleteScratch(path: String): Unit = deleteRecursively(new java.io.File(path))

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }

  /** Materialize a small result eagerly so its scratch directory can be
    * deleted NOW instead of leaking until JVM exit (streaming runners
    * return tiny censuses; holding a lazy plan over a temp dir is what
    * made repeated bench/verify passes accumulate disk — r5 advice). */
  private def eagerThenDelete(spark: SparkSession, df: DataFrame,
      scratch: String): DataFrame = {
    val rows = df.collect().toSeq
    val out = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), df.schema)
    deleteRecursively(new java.io.File(scratch))
    out
  }

  /** Streaming near-dup ingest gate: incoming documents are checked
    * against a STATIC existing-corpus SimHash table — the "filter the
    * new crawl against what we already have" pass, on the ingest path.
    * Pigeonhole banding (any pair within hamming ≤ 3 of a 60-bit
    * signature shares one of four 15-bit quarters) keys the
    * stream-static join on (quarter, value), never all-pairs; the
    * static quarter table is small (4 rows/doc of existing corpus keys
    * only — at scale, partition it and let the join broadcast or
    * bucket). Stateless join + per-doc aggregation; emits per incoming
    * doc whether it has a banding candidate and whether a verified
    * hamming ≤ 3 near-dup exists. */
  def runNearDupGateAvailableNow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def quarters(sh: org.apache.spark.sql.Column) =
      posexplode(array((0 until 4).map(q =>
        shiftright(sh, q * 15).bitwiseAND(0x7fff)): _*)).as(Seq("q", "qv"))
    val existing = spark.read.parquet(s"$dir/documents.parquet")
      .where($"doc_id" < 250)
    val exQ = graft.ops.Dedup.simhashes(existing, "doc_id", "text")
      .select($"simhash".as("ex_sh"), quarters($"simhash"))
      .select($"q", $"qv", $"ex_sh")
    val incoming = readDocuments(spark, dir).where($"doc_id" >= 250)
    val strQ = graft.ops.Dedup.simhashes(incoming, "doc_id", "text")
      .select($"doc_id", $"simhash", quarters($"simhash"))
    val gated = strQ.join(exQ, Seq("q", "qv"), "left_outer")
      .groupBy($"doc_id")
      .agg(
        max(when($"ex_sh".isNotNull, 1).otherwise(0)).cast("int").as("is_candidate"),
        max(when(bit_count($"simhash".bitwiseXOR($"ex_sh")) <= 3, 1).otherwise(0))
          .cast("int").as("is_neardup"))
    runToMemory(gated, "stream_neardup_gate", OutputMode.Complete())
  }

  /** Stateful streaming sessionization over the events parquet; emits
    * CLOSED sessions (the per-user open tail never closes in a finite
    * run — the batch twin excludes each user's last session). Session
    * ids shifted +1 to align with the batch twin's 1-based running sum. */
  def runSessionizeAvailableNow(spark: SparkSession, dir: String,
      gapSeconds: Long = 1800L): DataFrame = {
    import spark.implicits._
    val ev = readEvents(spark, dir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value").as[Event]
    runToMemory(sessionize(ev, gapSeconds).toDF(), "stream_sessionize")
      .select($"user_id", ($"session_id" + 1).as("session_id"), $"n_events")
  }

  /** Watermark-bounded streaming dedup-insert over the documents
    * parquet: md5 content id, synthetic event time from doc_id, a
    * watermark wide enough to span the whole fixture (so the result is
    * exactly the distinct content set = the batch DISTINCT twin). */
  def runDedupInsertAvailableNow(spark: SparkSession, dir: String): DataFrame = {
    val docs = readDocuments(spark, dir)
      // +1e6 s base: an event time of exactly 0 sits ON the initial
      // watermark floor and is dropped as late (StreamingSpec gotcha)
      .withColumn("ts", timestamp_micros((col("doc_id") + 1000000L) * 1000000L))
    val deduped = dedupInsertStream(docs, md5(col("text")), "ts", "3650 days")
    runToMemory(deduped.select(col("id").as("h")), "stream_dedup_insert")
  }

  /** Streaming curation gate: the batch Gopher core-quality filter
    * applied on the INGEST path — a map-only stream (one kernel pass
    * per row, no state, no watermark), so a 100 TB/day feed filters at
    * source parallelism before anything downstream pays for the
    * rejected rows. Returns the per-language pass census over the sunk
    * survivors, which must equal the batch twin's n_pass_core. */
  def runQualityGateAvailableNow(spark: SparkSession, dir: String): DataFrame = {
    val docs = readDocuments(spark, dir)
    val gated = graft.ops.TextAnalysis
      .gopherQuality(docs.select(col("doc_id"), col("lang"), col("text")), "doc_id", "text")
      .where(col("r_words") && col("r_wlen") && col("r_symbol") && col("r_alpha"))
      .select(col("doc_id"), col("lang"))
    val sunk = runToMemory(gated, "stream_quality_gate")
    sunk.groupBy(col("lang")).agg(count(lit(1)).as("n_pass_core"))
  }

  /** Sliding-window (1h window / 30m slide) streaming aggregation —
    * each event lands in two overlapping windows. Complete mode like
    * the tumbling twin (final windows never close under AvailableNow
    * in append mode). */
  def runSlidingWindowAvailableNow(spark: SparkSession, dir: String): DataFrame =
    runToMemory(
      readEvents(spark, dir)
        .withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          graft.functions.RoundPortableExpr.r(sum(col("value")), 2).as("sum_value"))
        .select(unix_timestamp(col("window.start")).as("window_start"),
          col("event_type"), col("cnt"), col("sum_value")),
      "stream_sliding_window", OutputMode.Complete())

  /** Stream-static enrichment join: the event stream joins a static
    * dimension table (user → nation) inside each micro-batch. The
    * static side broadcasts — stateless, no watermark, no join state;
    * this is the dimension-enrichment shape every streaming ingest
    * pipeline needs and the cheapest join Structured Streaming has. */
  def runStaticJoinAvailableNow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nation = spark.read.parquet(s"$dir/nation.parquet")
      .select($"n_nationkey", $"n_name")
    val enriched = readEvents(spark, dir)
      .withColumn("n_nationkey", pmod($"user_id", lit(25)).cast("long"))
      .join(broadcast(nation), "n_nationkey")
      .groupBy($"n_name", $"event_type")
      .agg(count(lit(1)).as("cnt"),
        graft.functions.RoundPortableExpr.r(sum($"value"), 2).as("sum_value"))
    runToMemory(enriched, "stream_static_join", OutputMode.Complete())
  }

  /** Watermarked stream-stream interval join over the events parquet:
    * every view paired with same-user purchases within the next hour. */
  def runIntervalJoinAvailableNow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def side(tpe: String, as: String) = readEvents(spark, dir)
      .where($"event_type" === tpe)
      .select($"event_id".as(as), $"user_id", $"ts")
    val joined = intervalStreamJoin(
      side("view", "view_id"), side("purchase", "purchase_id"),
      key = "user_id", ts = "ts", window = "1 hour")
    runToMemory(joined.select($"l.view_id".as("view_id"), $"r.purchase_id".as("purchase_id")),
      "stream_interval_join")
  }
}
