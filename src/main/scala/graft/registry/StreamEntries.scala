package graft
package registry

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.TextPrimitives._
import graft.streaming.EventStream
import graft.SparkEntry.t

/** Structured Streaming runners over the events fixture and the gvdb
  * source and sink (`stream_*`). */
object StreamEntries {
  def all: Seq[Entry] = Seq(
    // ---- gvdb STREAMING SOURCE: readStream.format("gvdb") turns the
    // warehouse into an insert feed (progress = the append-only
    // data-file manifest, tracked in a seen-files metadata log whose
    // O(1) index is the offset — GvdbLogOffset). Phase 1 drains the
    // initial load; an insert lands between the runs and phase 2 —
    // resuming from the SAME checkpoint, so the offset round-trips
    // the offset log — must deliver ONLY the delta. Deletes are
    // contractually not streamed. Census per phase proves both. ----
    Entry("stream_source_gvdb", (s, dir) => {
      import s.implicits._
      val wh = core.Scratch.dir(s, "graft-gvdb-src")
      val root = s"$wh/docs"
      val out = s"$wh/out"
      val docs = s.read.parquet(t(dir, "documents"))
      def slice(lo: Long, hi: Long) = docs.where($"doc_id" >= lo && $"doc_id" < hi)
        .select($"doc_id".cast("string").as("id"),
          to_json(struct($"n_chars")).as("metadata"),
          array($"n_chars".cast("float")).as("embedding"))
      slice(0, 300).write.format("gvdb").option("dim", "1").mode("overwrite").save(root)
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTITIONS", "8"))
      def drain(tag: String): Unit = {
        val q = s.readStream.format("gvdb").load(root)
          .writeStream.foreachBatch { (b: DataFrame, _: Long) =>
            b.write.mode("append").parquet(s"$out/tag=$tag"); ()
          }
          .option("checkpointLocation", s"$wh/cp")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      try {
        drain("p1")
        slice(300, 400).write.format("gvdb").mode("append").save(root)
        drain("p2")
      } finally s.conf.set("spark.sql.shuffle.partitions", prev)
      val census = s.read.parquet(out)
        .groupBy($"tag").agg(count(lit(1)).as("cnt"),
          sum(get_json_object($"metadata", "$.n_chars").cast("long")).as("sum_chars"))
      val got = census.collect().toSeq
      new graft.table.VectorTable(s, root, 1).drop()
      EventStream.deleteScratch(wh)
      s.createDataFrame(s.sparkContext.parallelize(got, 1), census.schema)
    },
      // gvdb streaming source: p1 = the initial load, p2 = ONLY the
      // insert that landed between the checkpointed runs
      """SELECT 'p1' AS tag, count(*) AS cnt, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id < 300
        |UNION ALL
        |SELECT 'p2', count(*), CAST(sum(n_chars) AS BIGINT)
        |FROM documents WHERE doc_id >= 300 AND doc_id < 400""".stripMargin),
    // ---- gvdb STREAMING CHANGE FEED: readStream.format("gvdb")
    // .option("readChangeFeed", true) — the snapshot CDC surface as a
    // stream (Delta readChangeFeed analogue). Offsets are snapshot
    // versions; each micro-batch unions one id-only diffSnapshots per
    // version step, so deletes ARE streamed (the insert feed's
    // documented gap). Phase 1 drains v1 (initial adds); an insert +
    // tombstone delete land between the runs under snapshot v2; phase
    // 2 — resuming from the SAME checkpoint — must emit exactly the
    // v2 step: its adds and its delete. ----
    Entry("stream_source_changes", (s, dir) => {
      import s.implicits._
      val wh = core.Scratch.dir(s, "graft-gvdb-cdcs")
      val root = s"$wh/docs"
      val out = s"$wh/out"
      val docs = s.read.parquet(t(dir, "documents"))
      def slice(lo: Long, hi: Long) = docs.where($"doc_id" >= lo && $"doc_id" < hi)
        .select($"doc_id".cast("string").as("id"),
          to_json(struct($"lang")).as("metadata"),
          array($"n_chars".cast("float")).as("embedding"))
      slice(0, 300).write.format("gvdb").option("dim", "1").mode("overwrite").save(root)
      val tbl = new graft.table.VectorTable(s, root, 1)
      tbl.snapshot() // v1
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTITIONS", "8"))
      def drain(tag: String): Unit = {
        val q = s.readStream.format("gvdb").option("readChangeFeed", "true").load(root)
          .writeStream.foreachBatch { (b: DataFrame, _: Long) =>
            b.write.mode("append").parquet(s"$out/tag=$tag"); ()
          }
          .option("checkpointLocation", s"$wh/cp")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      try {
        drain("p1")
        slice(300, 350).write.format("gvdb").mode("append").save(root)
        tbl.delete(get_json_object(col("metadata"), "$.lang") === "de")
        tbl.snapshot() // v2
        drain("p2")
      } finally s.conf.set("spark.sql.shuffle.partitions", prev)
      val census = s.read.parquet(out)
        .groupBy($"tag", $"change").agg(count(lit(1)).as("cnt"),
          sum($"id".cast("long")).as("id_sum"))
      val got = census.collect().toSeq
      tbl.drop()
      EventStream.deleteScratch(wh)
      s.createDataFrame(s.sparkContext.parallelize(got, 1), census.schema)
    },
      // gvdb streaming change feed: p1 = v1's initial adds; p2 = the v2
      // step only — the [300,350) insert minus its 'de' rows (tombstoned
      // before the snapshot) as adds, and every 'de' row present at v1
      // as deletes
      """SELECT 'p1' AS tag, 'added' AS change, count(*) AS cnt,
        |       CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM documents WHERE doc_id < 300
        |UNION ALL
        |SELECT 'p2', 'added', count(*), CAST(sum(doc_id) AS BIGINT)
        |FROM documents WHERE doc_id >= 300 AND doc_id < 350 AND lang <> 'de'
        |UNION ALL
        |SELECT 'p2', 'deleted', count(*), CAST(sum(doc_id) AS BIGINT)
        |FROM documents WHERE doc_id < 300 AND lang = 'de'""".stripMargin),
    // ---- streaming: watermarked tumbling window, run as AvailableNow ----
    Entry("stream_window_agg", (s, dir) =>
      EventStream.runWindowedAggAvailableNow(s, dir),
      """SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS window_start,
        |       event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin),
    // ---- streaming: stateful sessionization (flatMapGroupsWithState);
    // emits closed sessions — batch twin minus each user's open tail ----
    Entry("stream_sessionize", (s, dir) =>
      EventStream.runSessionizeAvailableNow(s, dir),
      // ---- streaming batch twins ----
      """WITH g AS (
        |  SELECT user_id, event_id, ts,
        |         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT user_id,
        |         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM g
        |), c AS (
        |  SELECT user_id, session_id, count(*) AS n_events FROM s GROUP BY 1, 2
        |)
        |SELECT user_id, session_id, n_events FROM c
        |WHERE session_id < (SELECT max(session_id) FROM c c2 WHERE c2.user_id = c.user_id)""".stripMargin),
    // ---- streaming windowed funnel: the q_funnel_windowed state
    // machine run incrementally (O(1) state per user — stage reached +
    // last conversion ts); the oracle is the batch twin's SQL verbatim,
    // so the hash match proves stream == batch. ----
    Entry("stream_funnel", (s, dir) =>
      EventStream.runFunnelAvailableNow(s, dir),
      // stream == batch proof: the streaming funnel state machine checks
      // against the batch windowed funnel's SQL verbatim.
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(ts) AS t2 FROM events e JOIN s1 USING (user_id)
        |       WHERE event_type = 'view' AND ts > t1
        |         AND ts <= t1 + INTERVAL 2 DAY GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(ts) AS t3 FROM events e JOIN s2 USING (user_id)
        |       WHERE event_type = 'click' AND ts > t2
        |         AND ts <= t2 + INTERVAL 2 DAY GROUP BY 1),
        |s4 AS (SELECT e.user_id, min(ts) AS t4 FROM events e JOIN s3 USING (user_id)
        |       WHERE event_type = 'purchase' AND ts > t3
        |         AND ts <= t3 + INTERVAL 2 DAY GROUP BY 1),
        |census AS (
        |  SELECT 1 AS stage, 'signup' AS event_type,
        |         CAST(count(*) AS BIGINT) AS n_users FROM s1
        |  UNION ALL SELECT 2, 'view', count(*) FROM s2
        |  UNION ALL SELECT 3, 'click', count(*) FROM s3
        |  UNION ALL SELECT 4, 'purchase', count(*) FROM s4)
        |SELECT stage, event_type, n_users,
        |       CASE WHEN coalesce(lag(n_users) OVER (ORDER BY stage), n_users) = 0
        |            THEN 0.0
        |            ELSE round(n_users / coalesce(lag(n_users) OVER (ORDER BY stage),
        |                                          n_users), 4) END AS conv_rate
        |FROM census""".stripMargin),
    // ---- streaming CEP: q_cep_pattern's regex matcher run
    // incrementally (per-user state = the current session's initial
    // trail, bounded by the session gap); closed sessions emit match
    // counts, so the oracle is the batch twin MINUS each user's open
    // last session. ----
    Entry("stream_cep", (s, dir) =>
      EventStream.runCepAvailableNow(s, dir),
      """WITH g AS (
        |  SELECT user_id, event_id, ts, event_type,
        |         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT user_id, event_id, ts, event_type,
        |         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM g
        |), trails AS (
        |  SELECT user_id, session_id,
        |         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS trail
        |  FROM s GROUP BY 1, 2
        |), last AS (
        |  SELECT user_id, max(session_id) AS last_s FROM trails GROUP BY 1
        |)
        |SELECT CAST(len(regexp_extract_all(t.trail, 'v[vc]*p')) AS INT) AS n_matches,
        |       CAST(count(*) AS BIGINT) AS n_sessions
        |FROM trails t JOIN last l ON t.user_id = l.user_id AND t.session_id <> l.last_s
        |GROUP BY 1""".stripMargin),
    // ---- streaming last-touch attribution: q_attribution's window
    // recompute as O(1)-per-user incremental state; oracle is the
    // batch twin's SQL verbatim (stream == batch proof). ----
    Entry("stream_attribution", (s, dir) =>
      EventStream.runAttributionAvailableNow(s, dir),
      // stream == batch proof: the streaming attribution state machine
      // checks against the batch window recompute's SQL verbatim.
      """WITH tagged AS (
        |  SELECT event_type, ts, value,
        |         last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
        |                    IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_ch,
        |         last_value(CASE WHEN event_type <> 'purchase' THEN ts END IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_t
        |  FROM events)
        |SELECT CASE WHEN last_ch IS NOT NULL AND ts <= last_t + INTERVAL 7 DAY
        |            THEN last_ch ELSE 'direct' END AS channel,
        |       CAST(count(*) AS BIGINT) AS n_purchases, round(sum(value), 2) AS revenue
        |FROM tagged WHERE event_type = 'purchase' GROUP BY 1""".stripMargin),
    // ---- streaming retention cohorts: q_cohort's first-seen-day
    // matrix as horizon-bounded per-user state (each (user, day)
    // emits exactly once); oracle is the batch twin's SQL verbatim. ----
    Entry("stream_cohort", (s, dir) =>
      EventStream.runCohortsAvailableNow(s, dir),
      // stream == batch proof: the streaming cohort state machine checks
      // against the batch first-seen-day matrix's SQL verbatim.
      """WITH d AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |f AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY 1)
        |SELECT cohort_day, date_diff('day', cohort_day, day) AS day_offset,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
        |FROM d JOIN f USING (user_id)
        |GROUP BY 1, 2""".stripMargin),
    // ---- streaming: sliding windows (1h/30m — every event in 2 windows) ----
    Entry("stream_sliding_window", (s, dir) =>
      EventStream.runSlidingWindowAvailableNow(s, dir),
      """WITH w AS (
        |  SELECT u.ws AS window_start, event_type, value FROM events,
        |  UNNEST([CAST(epoch(time_bucket(INTERVAL '30 minutes', ts)) AS BIGINT),
        |          CAST(epoch(time_bucket(INTERVAL '30 minutes', ts)) AS BIGINT) - 1800]) u(ws)
        |)
        |SELECT window_start, event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM w GROUP BY 1, 2""".stripMargin),
    // ---- streaming: watermark-bounded dedup-insert ----
    Entry("stream_dedup_insert", (s, dir) =>
      EventStream.runDedupInsertAvailableNow(s, dir),
      "SELECT DISTINCT md5(text) AS h FROM documents"),
    // ---- streaming curation gate: Gopher core rules on the ingest
    // path (map-only stream, no state) — survivors' per-lang census
    // must equal the batch filter's ----
    Entry("stream_quality_gate", (s, dir) =>
      EventStream.runQualityGateAvailableNow(s, dir),
      s"""WITH base AS (SELECT lang, lower(text) AS lt, ${wordsSql("text")} AS ws FROM documents),
         |m AS (
         |  SELECT lang,
         |    len(ws) AS n_words,
         |    round(CAST(list_sum(list_transform(ws, t -> len(t))) AS DOUBLE) / len(ws), 4)
         |      AS mean_word_len,
         |    round(((len(lt) - len(replace(lt, '#', '')))
         |           + (len(lt) - len(replace(lt, '…', '')))
         |           + (len(lt) - len(replace(lt, '...', ''))) // 3)
         |          * 1.0 / len(ws), 4) AS symbol_ratio,
         |    round(CAST(len(list_filter(ws, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE)
         |          / len(ws), 4) AS alpha_frac
         |  FROM base)
         |SELECT lang, count(*) AS n_pass_core FROM m
         |WHERE (n_words BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
         |  AND (symbol_ratio <= 0.1) AND (alpha_frac >= 0.8)
         |GROUP BY 1""".stripMargin),
    // ---- streaming ANN-index maintenance: per-micro-batch segment
    // append into the persisted IVF-PQ code table (foreachBatch →
    // IvfPq.appendCodes), recall-gated post-stream ----
    Entry("stream_ann_append", (s, dir) => {
      val (ix, basePath) = SparkEntry.ivfpqBaseIndex(s, dir)
      graft.streaming.AnnIngest.runIvfPqAppendAvailableNow(s, dir, ix, basePath)
    },
      "SELECT CAST(count(*) AS BIGINT) AS n_queries, 1 AS recall_ok FROM embeddings WHERE vec_id < 10"),
    // ---- streaming HNSW-index maintenance: each micro-batch becomes
    // NEW graph segments (batchId-keyed, built graphs never rewritten);
    // probe over base ∪ delta segments recall-gated post-stream ----
    Entry("stream_hnsw_append", (s, dir) =>
      graft.streaming.AnnIngest.runHnswAppendAvailableNow(s, dir,
        baseGraph = Some(SparkEntry.hnswStreamBase(s, dir))),
      "SELECT vec_id AS query_id, 1 AS recall_ok FROM embeddings WHERE vec_id < 10"),
    // ---- streaming maintenance of the OTHER two persisted table
    // tiers (tier parity for the ingest path): micro-batches stream
    // through VectorDB.insertEmbedded against a copied base warehouse
    // whose index is pre-built — the insert path appends each batch as
    // index rows (frozen-codebook IVF-PQ encode / stateless BQ sign
    // codes, both map-only). A batch row is probed back MID-STREAM at
    // distance 0 (immediately searchable), and the post-stream panel
    // recall-gates vs the exact facade leg (same floors as the batch
    // lifecycle twins). ----
    Entry("stream_ivfpq_append", (s, dir) =>
      graft.streaming.AnnIngest.runTableTierAppendAvailableNow(s, dir,
        SparkEntry.copyFixture(s, SparkEntry.tierBaseFixture(s, dir, "ivfpq")),
        floor = 0.85),
      "SELECT CAST(0 AS BIGINT) AS query_id, 1 AS recall_ok, 1 AS searchable_ok"),
    Entry("stream_bq_append", (s, dir) =>
      graft.streaming.AnnIngest.runTableTierAppendAvailableNow(s, dir,
        SparkEntry.copyFixture(s, SparkEntry.tierBaseFixture(s, dir, "bq")),
        floor = 0.8),
      "SELECT CAST(0 AS BIGINT) AS query_id, 1 AS recall_ok, 1 AS searchable_ok"),
    // ---- streaming: near-dup ingest gate — incoming docs checked
    // against the static existing-corpus SimHash quarter table
    // (pigeonhole banding keys the stream-static join; stateless), per
    // doc candidate + verified hamming≤3 flags. ----
    Entry("stream_neardup_gate", (s, dir) =>
      EventStream.runNearDupGateAvailableNow(s, dir),
      s"""WITH s AS (
         |  SELECT doc_id, ${simhashSql("hw")} AS simhash
         |  FROM (SELECT doc_id, list_transform(${wordsSql("text")}, w -> ${hexLongSql("w")}) AS hw
         |        FROM documents)
         |), exq AS (
         |  SELECT t.q AS q, (s.simhash >> (t.q * 15)) & 32767 AS qv, s.simhash AS ex_sh
         |  FROM s, range(4) t(q) WHERE s.doc_id < 250
         |), incq AS (
         |  SELECT s.doc_id, s.simhash, t.q AS q, (s.simhash >> (t.q * 15)) & 32767 AS qv
         |  FROM s, range(4) t(q) WHERE s.doc_id >= 250
         |)
         |SELECT i.doc_id,
         |       max(CASE WHEN e.ex_sh IS NOT NULL THEN 1 ELSE 0 END) AS is_candidate,
         |       max(CASE WHEN bit_count(xor(i.simhash, e.ex_sh)) <= 3 THEN 1 ELSE 0 END) AS is_neardup
         |FROM incq i LEFT JOIN exq e ON i.q = e.q AND i.qv = e.qv
         |GROUP BY 1""".stripMargin),
    // ---- streaming: exactly-once sink — idempotent per-batch-id
    // overwrite directories absorb a simulated redelivery (every batch
    // written twice); the sunk census must equal the batch aggregate,
    // proving no duplication. ----
    Entry("stream_idempotent_sink", (s, dir) =>
      EventStream.runIdempotentSinkAvailableNow(s, dir),
      """SELECT count(*) AS n_rows, CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
        |       round(sum(value), 2) AS sum_value
        |FROM events""".stripMargin),
    // ---- streaming ingest through the `gvdb` format: writeStream →
    // V2 STREAMING_WRITE (GvdbStreamingWrite: staged epochs + dedup
    // insert at commit + per-query epoch ledger), census read back
    // through spark.read.format("gvdb") — the full DataSource round
    // trip under the exactly-once contract. ----
    Entry("stream_sink_gvdb", (s, dir) =>
      EventStream.runGvdbSinkAvailableNow(s, dir),
      // gvdb streaming sink: every event lands exactly once.
      """SELECT count(*) AS n_rows, CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
        |       round(sum(value), 2) AS sum_value
        |FROM events""".stripMargin),
    // ---- streaming: stream-stream interval join (view→purchase ≤ 1h) ----
    Entry("stream_interval_join", (s, dir) =>
      EventStream.runIntervalJoinAvailableNow(s, dir),
      """SELECT l.event_id AS view_id, r.event_id AS purchase_id
        |FROM events l JOIN events r
        |  ON l.user_id = r.user_id
        | AND epoch_us(r.ts) >= epoch_us(l.ts)
        | AND epoch_us(r.ts) <= epoch_us(l.ts) + 3600000000
        |WHERE l.event_type = 'view' AND r.event_type = 'purchase'""".stripMargin),
    // ---- streaming: CDC apply — keyed upsert/delete change stream
    // merged into a persisted base table per micro-batch (in-batch LWW
    // by descending version, key-anti-join + union, batch-versioned
    // state dirs with pointer-advance-after-write). Final census must
    // equal the batch MERGE of the whole change set. ----
    Entry("stream_cdc_apply", (s, dir) =>
      EventStream.runCdcUpsertAvailableNow(s, dir),
      """WITH cbase AS (SELECT doc_id AS key, lang, n_chars AS val
        |              FROM documents WHERE doc_id < 250),
        |cch AS (SELECT ((doc_id - 250) * 2) % 300 AS key, lang, n_chars AS val, doc_id,
        |               CASE WHEN ((doc_id - 250) * 2) % 300 % 20 = 0 THEN 'd' ELSE 'u' END AS op
        |        FROM documents WHERE doc_id >= 250),
        |clww AS (SELECT * FROM (
        |           SELECT *, row_number() OVER (PARTITION BY key ORDER BY doc_id DESC) AS rn
        |           FROM cch) WHERE rn = 1),
        |cfin AS (
        |  SELECT b.key, b.val FROM cbase b LEFT JOIN clww ON b.key = clww.key
        |  WHERE clww.key IS NULL
        |  UNION ALL
        |  SELECT key, val FROM clww WHERE op = 'u')
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(DISTINCT key) AS BIGINT) AS n_keys,
        |       CAST(sum(val) AS BIGINT) AS sum_val,
        |       CAST(count(CASE WHEN key >= 250 THEN 1 END) AS BIGINT) AS n_inserted
        |FROM cfin""".stripMargin),
    // ---- streaming: UPDATE mode on the V2 gvdb sink itself — the
    // `upsert` write option maps each epoch to a keyed MoR upsert
    // (file-group CoW replace of same-id rows, `vdb_upsert`
    // semantics), so the CDC-as-a-stream user no longer needs
    // foreachBatch + MERGE. Census must hash-match the batch-MERGE
    // oracle however the file stream splits the change set. ----
    Entry("stream_upsert_sink", (s, dir) =>
      EventStream.runUpsertSinkAvailableNow(s, dir),
      // streaming Update-mode upsert sink: post-stream state = the batch
      // MERGE of the change set (fr docs under 400 updated +1000 chars,
      // 400–449 inserted)
      """SELECT lang, count(*) AS cnt,
        |  CAST(sum(n_chars + CASE WHEN lang = 'fr' AND doc_id < 400 THEN 1000 ELSE 0 END) AS BIGINT) AS sum_chars,
        |  CAST(sum(n_chars + CASE WHEN lang = 'fr' AND doc_id < 400 THEN 1000 ELSE 0 END) AS BIGINT) AS sum_emb
        |FROM documents WHERE doc_id < 450 GROUP BY lang""".stripMargin),
    // ---- streaming: stream-static enrichment join (dim broadcast into
    // each micro-batch — stateless, the standard ingest-enrichment shape) ----
    Entry("stream_static_join", (s, dir) =>
      EventStream.runStaticJoinAvailableNow(s, dir),
      """SELECT n.n_name, e.event_type, count(*) AS cnt, round(sum(e.value), 2) AS sum_value
        |FROM events e JOIN nation n ON n.n_nationkey = e.user_id % 25
        |GROUP BY 1, 2""".stripMargin)
  )
}
