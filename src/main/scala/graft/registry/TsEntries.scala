package graft
package registry

import org.apache.spark.sql.functions._

import graft.functions.RoundPortableExpr
import graft.SparkEntry.t

/** Time-series forecasting and change detection (`ts_*`). */
object TsEntries {
  def all: Seq[Entry] = Seq(
    // ---- Holt double exponential smoothing over the per-event-type
    // daily revenue series: level/trend recursion sequential in time,
    // parallel across keys (flatMapGroups; a series is census-sized —
    // one row per key per day). α=0.5 β=0.25 (dyadic → exact binary
    // literals); the daily input sums are rounded BEFORE the recursion
    // so both engines iterate bit-identical IEEE arithmetic, oracle =
    // recursive CTE. ----
    Entry("ts_holt", (s, dir) => {
      import s.implicits._
      val daily = Tables.events(s, dir)
        .groupBy($"event_type", to_date($"ts").as("day"))
        .agg(RoundPortableExpr.r(sum($"value"), 4).as("y"))
        .withColumn("t", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"event_type").orderBy($"day")))
      ops.Forecast.holt(daily, "event_type", "t", "y", alpha = 0.5, beta = 0.25)
        .select($"key", $"t",
          RoundPortableExpr.r($"level", 4).as("level"),
          RoundPortableExpr.r($"trend", 4).as("trend"),
          RoundPortableExpr.r($"forecast", 4).as("forecast"))
    },
      """WITH RECURSIVE daily AS MATERIALIZED (
        |  SELECT event_type AS key, CAST(ts AS DATE) AS day, round(sum(value), 4) AS y
        |  FROM events GROUP BY 1, 2),
        |s AS MATERIALIZED (
        |  SELECT key, CAST(row_number() OVER (PARTITION BY key ORDER BY day) AS BIGINT) AS t, y
        |  FROM daily),
        |init AS (
        |  SELECT a.key, a.y AS y1, b.y AS y2
        |  FROM s a LEFT JOIN s b ON a.key = b.key AND b.t = 2 WHERE a.t = 1),
        |r AS (
        |  SELECT key, CAST(1 AS BIGINT) AS t, y1 AS level, coalesce(y2 - y1, 0.0) AS trend
        |  FROM init
        |  UNION ALL
        |  SELECT r.key, r.t + 1,
        |         0.5 * s.y + 0.5 * (r.level + r.trend) AS level,
        |         0.25 * ((0.5 * s.y + 0.5 * (r.level + r.trend)) - r.level)
        |           + 0.75 * r.trend AS trend
        |  FROM r JOIN s ON s.key = r.key AND s.t = r.t + 1)
        |SELECT key, t, round(level, 4) AS level, round(trend, 4) AS trend,
        |       round(level + trend, 4) AS forecast
        |FROM r""".stripMargin),
    // ---- classical seasonal decomposition of the daily revenue
    // series: trend = centered 7-day moving average, seasonal =
    // day-of-week mean of the detrended series, residual = remainder.
    // One corpus agg to the census-sized daily table; windows run on
    // O(days) rows. ----
    Entry("ts_seasonal", (s, dir) => {
      import s.implicits._
      val daily = Tables.events(s, dir).where($"event_type" === "purchase")
        .groupBy(to_date($"ts").as("day"))
        .agg(RoundPortableExpr.r(sum($"value"), 4).as("y"))
      val wTrend = org.apache.spark.sql.expressions.Window
        .orderBy($"day").rowsBetween(-3, 3)
      val trended = daily
        .withColumn("trend", RoundPortableExpr.r(avg($"y").over(wTrend), 4))
        .withColumn("dow", dayofweek($"day"))
      val seasonal = trended.groupBy($"dow")
        .agg(RoundPortableExpr.r(avg($"y" - $"trend"), 4).as("seasonal"))
      trended.join(broadcast(seasonal), "dow")
        .select($"day", $"y", $"trend", $"seasonal",
          RoundPortableExpr.r($"y" - $"trend" - $"seasonal", 4).as("resid"))
    },
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day, round(sum(value), 4) AS y
        |               FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |tr AS (SELECT day, y,
        |              round(avg(y) OVER (ORDER BY day
        |                                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING), 4)
        |                AS trend,
        |              (CAST(dayofweek(day) AS INTEGER) % 7) + 1 AS dow
        |       FROM daily),
        |se AS (SELECT dow, round(avg(y - trend), 4) AS seasonal FROM tr GROUP BY 1)
        |SELECT day, y, trend, seasonal, round(y - trend - seasonal, 4) AS resid
        |FROM tr JOIN se USING (dow)""".stripMargin),
    // ---- autocorrelation function of the daily total-revenue series,
    // lags 1..14 (seasonality diagnostic feeding ts_seasonal's period
    // choice). The series is a census (one row per day); the mean uses
    // the exact-decimal moment protocol (ml_linreg) so both engines
    // share μ bit-exactly; the lag join is census×14 rows. ----
    Entry("ts_acf", (s, dir) => {
      import s.implicits._
      val daily = Tables.events(s, dir)
        .groupBy(to_date($"ts").as("day"))
        .agg(RoundPortableExpr.r(sum($"value"), 4).as("y"))
        .withColumn("t", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy($"day")))
      val cached = graft.core.PlanCache.persist(daily)
      val stats = cached
        .select(round($"y" * 10000, 0).cast("decimal(38,0)").as("yi"))
        .agg(count(lit(1)).as("n"), sum($"yi").cast("double").as("s1"))
        .select($"n", RoundPortableExpr.r($"s1" / $"n" / lit(1.0e4), 6).as("mu"))
      val centered = cached.crossJoin(broadcast(stats))
        .select($"t", ($"y" - $"mu").as("c"))
      val den = centered.agg(sum($"c" * $"c").as("den"))
      val num = centered.alias("a")
        .join(centered.alias("b"),
          col("b.t") > col("a.t") && col("b.t") <= col("a.t") + 14)
        .select((col("b.t") - col("a.t")).cast("long").as("lag"),
          (col("a.c") * col("b.c")).as("p"))
        .groupBy($"lag").agg(count(lit(1)).as("n_pairs"), sum($"p").as("num"))
      num.crossJoin(broadcast(den))
        .select($"lag", $"n_pairs",
          RoundPortableExpr.r($"num" / $"den", 6).as("acf"))
    },
      """WITH daily AS MATERIALIZED (
        |  SELECT CAST(ts AS DATE) AS day, round(sum(value), 4) AS y
        |  FROM events GROUP BY 1),
        |idx AS MATERIALIZED (
        |  SELECT y, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t FROM daily),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(yi) AS DOUBLE) AS s1
        |       FROM (SELECT CAST(round(y * 10000, 0) AS DECIMAL(38,0)) AS yi
        |             FROM idx)),
        |mu AS (SELECT round(s1 / n / 1.0e4, 6) AS mu FROM st),
        |c AS MATERIALIZED (SELECT t, y - (SELECT mu FROM mu) AS c FROM idx),
        |den AS (SELECT sum(c * c) AS den FROM c)
        |SELECT CAST(b.t - a.t AS BIGINT) AS lag, CAST(count(*) AS BIGINT) AS n_pairs,
        |       round(sum(a.c * b.c) / (SELECT den FROM den), 6) AS acf
        |FROM c a JOIN c b ON b.t > a.t AND b.t <= a.t + 14
        |GROUP BY 1""".stripMargin),
    // ---- two-sided CUSUM changepoint statistic (Page 1954) over the
    // per-event-type daily revenue: z-standardized with the
    // exact-decimal moment protocol, drift 0.5 / threshold 4 (dyadic),
    // recursion sequential in time parallel across keys
    // (flatMapGroups, same envelope as ts_holt), oracle = recursive
    // CTE walking identical IEEE arithmetic. ----
    Entry("ts_cusum", (s, dir) => {
      import s.implicits._
      val daily = Tables.events(s, dir)
        .groupBy($"event_type", to_date($"ts").as("day"))
        .agg(RoundPortableExpr.r(sum($"value"), 4).as("y"))
        .withColumn("t", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"event_type").orderBy($"day")))
      val cached = graft.core.PlanCache.persist(daily)
      val stats = cached
        .select($"event_type", round($"y" * 10000, 0).cast("decimal(38,0)").as("yi"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          sum($"yi").cast("double").as("s1"),
          sum($"yi" * $"yi").cast("double").as("s2"))
        .select($"event_type",
          RoundPortableExpr.r($"s1" / $"n" / lit(1.0e4), 6).as("mu"),
          RoundPortableExpr.r(
            sqrt(greatest(lit(0.0),
              $"s2" / $"n" / lit(1.0e8) -
                ($"s1" / $"n" / lit(1.0e4)) * ($"s1" / $"n" / lit(1.0e4)))), 6)
            .as("sd"))
      val z = cached.join(broadcast(stats), "event_type")
        .select($"event_type", $"t",
          RoundPortableExpr.r(
            when($"sd" === 0.0, lit(0.0)).otherwise(($"y" - $"mu") / $"sd"), 6)
            .as("z"))
      // threshold 2.5 (dyadic) is fixture-calibrated so the alarm
      // branch FIRES at sf0.1 (max S⁺ = 3.79) — a detector whose alarm
      // path is never exercised would be a weaker differential check
      ops.Forecast.cusum(z, "event_type", "t", "z", drift = 0.5, threshold = 2.5)
        .select($"key", $"t",
          RoundPortableExpr.r($"spos", 6).as("spos"),
          RoundPortableExpr.r($"sneg", 6).as("sneg"),
          $"alarm".cast("long").as("alarm"))
    },
      """WITH RECURSIVE daily AS MATERIALIZED (
        |  SELECT event_type AS key, CAST(ts AS DATE) AS day, round(sum(value), 4) AS y
        |  FROM events GROUP BY 1, 2),
        |s AS MATERIALIZED (
        |  SELECT key, CAST(row_number() OVER (PARTITION BY key ORDER BY day) AS BIGINT)
        |           AS t, y
        |  FROM daily),
        |st AS MATERIALIZED (
        |  SELECT key, CAST(count(*) AS BIGINT) AS n, CAST(sum(yi) AS DOUBLE) AS s1,
        |         CAST(sum(yi * yi) AS DOUBLE) AS s2
        |  FROM (SELECT key, CAST(round(y * 10000, 0) AS DECIMAL(38,0)) AS yi FROM s)
        |  GROUP BY 1),
        |m AS MATERIALIZED (
        |  SELECT key, round(s1 / n / 1.0e4, 6) AS mu,
        |         round(sqrt(greatest(0.0, s2 / n / 1.0e8
        |                    - (s1 / n / 1.0e4) * (s1 / n / 1.0e4))), 6) AS sd
        |  FROM st),
        |z AS MATERIALIZED (
        |  SELECT s.key, s.t,
        |         round(CASE WHEN sd = 0.0 THEN 0.0 ELSE (y - mu) / sd END, 6) AS z
        |  FROM s JOIN m ON m.key = s.key),
        |r AS (
        |  SELECT key, t, greatest(0.0, z - 0.5) AS spos,
        |         greatest(0.0, -z - 0.5) AS sneg
        |  FROM z WHERE t = 1
        |  UNION ALL
        |  SELECT z.key, z.t,
        |         greatest(0.0, r.spos + z.z - 0.5) AS spos,
        |         greatest(0.0, r.sneg - z.z - 0.5) AS sneg
        |  FROM r JOIN z ON z.key = r.key AND z.t = r.t + 1)
        |SELECT key, t, round(spos, 6) AS spos, round(sneg, 6) AS sneg,
        |       CAST(CASE WHEN spos > 2.5 OR sneg > 2.5 THEN 1 ELSE 0 END AS BIGINT)
        |         AS alarm
        |FROM r""".stripMargin),
    // ---- additive Holt–Winters (triple exponential smoothing,
    // period 7) over the per-event-type daily revenue — completes the
    // forecasting ladder (MA → Holt → Holt–Winters). Classic
    // two-season init computed in fixed index order and rounded; the
    // m-slot seasonal state walks the recursion as a rotating queue,
    // mirrored column-for-column by the oracle's recursive CTE
    // (q1..q7 shift left each step, s_t enters at the back). Dyadic
    // α=0.5 β=0.25 γ=0.25 keep every literal exact in binary. ----
    Entry("ts_holt_winters", (s, dir) => {
      import s.implicits._
      val daily = Tables.events(s, dir)
        .groupBy($"event_type", to_date($"ts").as("day"))
        .agg(RoundPortableExpr.r(sum($"value"), 4).as("y"))
        .withColumn("t", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"event_type").orderBy($"day")))
      ops.Forecast.holtWinters(daily, "event_type", "t", "y", period = 7,
          alpha = 0.5, beta = 0.25, gamma = 0.25)
        .select($"key", $"t",
          RoundPortableExpr.r($"level", 4).as("level"),
          RoundPortableExpr.r($"trend", 4).as("trend"),
          RoundPortableExpr.r($"seasonal", 4).as("seasonal"),
          RoundPortableExpr.r($"forecast", 4).as("forecast"))
    },
      """WITH RECURSIVE daily AS MATERIALIZED (
        |  SELECT event_type AS key, CAST(ts AS DATE) AS day, round(sum(value), 4) AS y
        |  FROM events GROUP BY 1, 2),
        |s AS MATERIALIZED (
        |  SELECT key, CAST(row_number() OVER (PARTITION BY key ORDER BY day) AS BIGINT)
        |           AS t, y
        |  FROM daily),
        |klen AS (SELECT key, count(*) AS cnt FROM s GROUP BY 1),
        |piv AS (SELECT key,
        |               max(CASE WHEN t = 1 THEN y END) AS y1,
        |               max(CASE WHEN t = 2 THEN y END) AS y2,
        |               max(CASE WHEN t = 3 THEN y END) AS y3,
        |               max(CASE WHEN t = 4 THEN y END) AS y4,
        |               max(CASE WHEN t = 5 THEN y END) AS y5,
        |               max(CASE WHEN t = 6 THEN y END) AS y6,
        |               max(CASE WHEN t = 7 THEN y END) AS y7,
        |               max(CASE WHEN t = 8 THEN y END) AS y8,
        |               max(CASE WHEN t = 9 THEN y END) AS y9,
        |               max(CASE WHEN t = 10 THEN y END) AS y10,
        |               max(CASE WHEN t = 11 THEN y END) AS y11,
        |               max(CASE WHEN t = 12 THEN y END) AS y12,
        |               max(CASE WHEN t = 13 THEN y END) AS y13,
        |               max(CASE WHEN t = 14 THEN y END) AS y14
        |        FROM s WHERE t <= 14 GROUP BY 1),
        |init AS MATERIALIZED (
        |  SELECT p.key,
        |         round((y1 + y2 + y3 + y4 + y5 + y6 + y7) / 7, 6) AS l0,
        |         round((round((y8 + y9 + y10 + y11 + y12 + y13 + y14) / 7, 6)
        |                - round((y1 + y2 + y3 + y4 + y5 + y6 + y7) / 7, 6)) / 7, 6)
        |           AS b0,
        |         round(y1 - round((y1 + y2 + y3 + y4 + y5 + y6 + y7) / 7, 6), 6) AS s1,
        |         round(y2 - round((y1 + y2 + y3 + y4 + y5 + y6 + y7) / 7, 6), 6) AS s2,
        |         round(y3 - round((y1 + y2 + y3 + y4 + y5 + y6 + y7) / 7, 6), 6) AS s3,
        |         round(y4 - round((y1 + y2 + y3 + y4 + y5 + y6 + y7) / 7, 6), 6) AS s4,
        |         round(y5 - round((y1 + y2 + y3 + y4 + y5 + y6 + y7) / 7, 6), 6) AS s5,
        |         round(y6 - round((y1 + y2 + y3 + y4 + y5 + y6 + y7) / 7, 6), 6) AS s6,
        |         round(y7 - round((y1 + y2 + y3 + y4 + y5 + y6 + y7) / 7, 6), 6) AS s7
        |  FROM piv p JOIN klen k ON k.key = p.key AND k.cnt >= 15),
        |r AS (
        |  SELECT key, CAST(7 AS BIGINT) AS t, l0 AS l, b0 AS b,
        |         s1 AS q1, s2 AS q2, s3 AS q3, s4 AS q4, s5 AS q5, s6 AS q6,
        |         s7 AS q7, CAST(NULL AS DOUBLE) AS snew
        |  FROM init
        |  UNION ALL
        |  SELECT z.key, z.t,
        |         0.5e0 * (z.y - r.q1) + 0.5e0 * (r.l + r.b) AS l,
        |         0.25e0 * ((0.5e0 * (z.y - r.q1) + 0.5e0 * (r.l + r.b)) - r.l)
        |           + 0.75e0 * r.b AS b,
        |         r.q2 AS q1, r.q3 AS q2, r.q4 AS q3, r.q5 AS q4, r.q6 AS q5,
        |         r.q7 AS q6,
        |         0.25e0 * (z.y - (0.5e0 * (z.y - r.q1) + 0.5e0 * (r.l + r.b)))
        |           + 0.75e0 * r.q1 AS q7,
        |         0.25e0 * (z.y - (0.5e0 * (z.y - r.q1) + 0.5e0 * (r.l + r.b)))
        |           + 0.75e0 * r.q1 AS snew
        |  FROM r JOIN s z ON z.key = r.key AND z.t = r.t + 1)
        |SELECT key, t, round(l, 4) AS level, round(b, 4) AS trend,
        |       round(snew, 4) AS seasonal, round(l + b + q1, 4) AS forecast
        |FROM r WHERE t >= 8""".stripMargin),
    // ---- at-most-one-changepoint location estimate (CUSUM argmax,
    // Page/Hinkley form) over the per-event-type daily revenue:
    // khat = argmax_k |Σ_{i≤k}(y_i − ȳ)|. The statistic is carried as
    // D_k = n·prefix_k − k·total in exact decimal(38,0) of the
    // 4-decimal-fixed y (multiplying through by n avoids the
    // order-dependent running mean entirely), so the argmax and its
    // tie-break (smallest k) compare exact integers cross-engine;
    // doubles appear only in the final three single-division outputs.
    // The prefix window partitions per event_type over an O(days)
    // calendar-bounded census — same envelope as ts_cusum. ----
    Entry("ts_changepoint", (s, dir) => {
      import s.implicits._
      val daily = Tables.events(s, dir)
        .groupBy($"event_type", to_date($"ts").as("day"))
        .agg(RoundPortableExpr.r(sum($"value"), 4).as("y"))
        .withColumn("t", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"event_type").orderBy($"day")).cast("long"))
        .select($"event_type", $"t",
          round($"y" * 10000, 0).cast("decimal(38,0)").as("yi"))
      val cached = graft.core.PlanCache.persist(daily)
      val tot = cached.groupBy($"event_type")
        .agg(sum($"yi").as("tot"), count(lit(1)).as("n"))
      val d = cached
        .withColumn("pre", sum($"yi").over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"event_type").orderBy($"t")))
        .join(broadcast(tot), "event_type")
        .where($"t" < $"n")
        .withColumn("d", abs($"n" * $"pre" - $"t" * $"tot"))
      d.withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"event_type").orderBy($"d".desc, $"t")))
        .where($"rn" === 1)
        .select($"event_type", $"n", $"t".as("khat"),
          RoundPortableExpr.r(
            $"d".cast("double") / ($"n" * 10000L).cast("double"), 6).as("stat"),
          RoundPortableExpr.r(
            $"pre".cast("double") / ($"t" * 10000L).cast("double"), 6)
            .as("mean_left"),
          RoundPortableExpr.r(
            ($"tot" - $"pre").cast("double") /
              (($"n" - $"t") * 10000L).cast("double"), 6).as("mean_right"))
    },
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |                      round(sum(value), 4) AS y
        |               FROM events GROUP BY 1, 2),
        |seq AS (SELECT event_type,
        |               CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
        |                    AS BIGINT) AS t,
        |               CAST(round(y * 10000, 0) AS DECIMAL(38,0)) AS yi
        |        FROM daily),
        |tot AS (SELECT event_type, sum(yi) AS tot, CAST(count(*) AS BIGINT) AS n
        |        FROM seq GROUP BY 1),
        |pre AS (SELECT s.event_type, s.t,
        |               sum(s.yi) OVER (PARTITION BY s.event_type ORDER BY s.t) AS pre,
        |               tot.tot, tot.n
        |        FROM seq s JOIN tot USING (event_type)),
        |d AS (SELECT event_type, t, pre, tot, n, abs(n * pre - t * tot) AS d
        |      FROM pre WHERE t < n),
        |best AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |                                      ORDER BY d DESC, t) AS rn
        |         FROM d)
        |SELECT event_type, n, t AS khat,
        |       round(CAST(d AS DOUBLE) / CAST(n * 10000 AS DOUBLE), 6) AS stat,
        |       round(CAST(pre AS DOUBLE) / CAST(t * 10000 AS DOUBLE), 6) AS mean_left,
        |       round(CAST(tot - pre AS DOUBLE)
        |             / CAST((n - t) * 10000 AS DOUBLE), 6) AS mean_right
        |FROM best WHERE rn = 1""".stripMargin),
    // ---- Theil–Sen robust trend slope (median of pairwise slopes) per
    // event_type over the daily revenue — the estimator product teams
    // pair with q_mann_kendall (MK detects the trend, Theil–Sen sizes
    // it; both survive 29% outliers). Slopes are single IEEE divisions
    // of exact decimal diffs over the bounded O(days²) pair panel (435
    // pairs/key); the median picks the middle order stats by position,
    // so slope TIES can't flip the value. Everything stays in the
    // yi = y·10⁴ fixed-point domain until one final exact-power-of-ten
    // scaling division. ----
    Entry("ts_theil_sen", (s, dir) => {
      import s.implicits._
      val daily = Tables.events(s, dir)
        .groupBy($"event_type", to_date($"ts").as("day"))
        .agg(RoundPortableExpr.r(sum($"value"), 4).as("y"))
        .withColumn("t", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"event_type").orderBy($"day")).cast("long"))
        .select($"event_type", $"t",
          round($"y" * 10000, 0).cast("decimal(38,0)").as("yi"))
      val cached = graft.core.PlanCache.persist(daily)
      val slopes = cached.alias("a").join(cached.alias("b"),
          $"a.event_type" === $"b.event_type" && $"a.t" < $"b.t")
        .select($"a.event_type".as("event_type"),
          (($"b.yi" - $"a.yi").cast("double") /
            ($"b.t" - $"a.t").cast("double")).as("sl"))
      slopes
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"event_type").orderBy($"sl")))
        .withColumn("np", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy($"event_type")))
        .where($"rn" === expr("(np + 1) div 2") || $"rn" === expr("np div 2 + 1"))
        .groupBy($"event_type")
        .agg(max($"np").as("n_pairs"), count(lit(1)).as("k"), sum($"sl").as("ssum"))
        .select($"event_type", $"n_pairs",
          RoundPortableExpr.r($"ssum" / $"k" / lit(10000.0), 6).as("slope"))
    },
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |                      round(sum(value), 4) AS y
        |               FROM events GROUP BY 1, 2),
        |seq AS (SELECT event_type,
        |               CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
        |                    AS BIGINT) AS t,
        |               CAST(round(y * 10000, 0) AS DECIMAL(38,0)) AS yi
        |        FROM daily),
        |sl AS (SELECT a.event_type,
        |              CAST(b.yi - a.yi AS DOUBLE) / CAST(b.t - a.t AS DOUBLE) AS sl
        |       FROM seq a JOIN seq b
        |         ON a.event_type = b.event_type AND a.t < b.t),
        |rk AS (SELECT event_type, sl,
        |              CAST(row_number() OVER (PARTITION BY event_type ORDER BY sl)
        |                   AS BIGINT) AS rn,
        |              CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS np
        |       FROM sl)
        |SELECT event_type, max(np) AS n_pairs,
        |       round(sum(sl) / count(*) / 10000.0e0, 6) AS slope
        |FROM rk WHERE rn = (np + 1) // 2 OR rn = np // 2 + 1
        |GROUP BY 1""".stripMargin),
    // ---- forecast backtest: one-step-ahead MA(7) errors per
    // event_type — the accuracy scorecard (MAE / RMSE / bias) that
    // decides between ts_holt / ts_holt_winters / ts_seasonal in
    // production. The forecast is the trailing-7 window mean QUANTIZED
    // to the same 4-decimal grid as the actual (both engines then
    // subtract identical integers), so every error is an exact int and
    // MAE/bias sums are order-free; only RMSE's final sqrt runs in
    // doubles, single-shape. ----
    Entry("ts_backtest", (s, dir) => {
      import s.implicits._
      val daily = Tables.events(s, dir)
        .groupBy($"event_type", to_date($"ts").as("day"))
        .agg(RoundPortableExpr.r(sum($"value"), 4).as("y"))
        .withColumn("t", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"event_type").orderBy($"day")))
        .select($"event_type", $"t",
          round($"y" * 10000, 0).cast("decimal(38,0)").as("yi"))
      val w7 = org.apache.spark.sql.expressions.Window
        .partitionBy($"event_type").orderBy($"t").rowsBetween(-7, -1)
      val err = daily
        .withColumn("s7", sum($"yi").over(w7))
        .where($"t" > 7)
        .withColumn("f", RoundPortableExpr.r(
          $"s7".cast("double") / lit(7.0) / lit(1.0e4), 4))
        .select($"event_type",
          ($"yi".cast("long") - round($"f" * 10000, 0).cast("long")).as("e"))
      err.groupBy($"event_type")
        .agg(count(lit(1)).as("n_backtest"),
          sum(abs($"e")).as("sae"),
          sum($"e").as("se"),
          // e² can pass int64 at 100× daily volumes — accumulate decimal
          sum($"e".cast("decimal(38,0)") * $"e").as("sse"))
        .select($"event_type", $"n_backtest",
          RoundPortableExpr.r($"sae".cast("double") /
            ($"n_backtest" * 10000L).cast("double"), 6).as("mae"),
          RoundPortableExpr.r($"se".cast("double") /
            ($"n_backtest" * 10000L).cast("double"), 6).as("bias"),
          RoundPortableExpr.r(sqrt($"sse".cast("double") /
            $"n_backtest".cast("double")) / lit(1.0e4), 6).as("rmse"))
    },
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |                      round(sum(value), 4) AS y
        |               FROM events GROUP BY 1, 2),
        |seq AS (SELECT event_type,
        |               CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
        |                    AS BIGINT) AS t,
        |               CAST(round(y * 10000, 0) AS DECIMAL(38,0)) AS yi
        |        FROM daily),
        |f AS (SELECT event_type, t, yi,
        |             sum(yi) OVER (PARTITION BY event_type ORDER BY t
        |                           ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS s7
        |      FROM seq),
        |e AS (SELECT event_type,
        |             CAST(yi AS BIGINT)
        |               - CAST(round(round(CAST(s7 AS DOUBLE) / 7.0e0 / 1.0e4, 4)
        |                            * 10000, 0) AS BIGINT) AS e
        |      FROM f WHERE t > 7),
        |ag AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_backtest,
        |              CAST(sum(abs(e)) AS BIGINT) AS sae,
        |              CAST(sum(e) AS BIGINT) AS se,
        |              CAST(sum(e * e) AS DOUBLE) AS sse
        |       FROM e GROUP BY 1)
        |SELECT event_type, n_backtest,
        |       round(CAST(sae AS DOUBLE) / CAST(n_backtest * 10000 AS DOUBLE), 6) AS mae,
        |       round(CAST(se AS DOUBLE) / CAST(n_backtest * 10000 AS DOUBLE), 6) AS bias,
        |       round(sqrt(sse / CAST(n_backtest AS DOUBLE)) / 1.0e4, 6) AS rmse
        |FROM ag""".stripMargin),
    // ---- day-of-week revenue profile per event_type — the weekly
    // seasonality census behind ts_holt_winters' period-7 choice.
    // Weekday keys are PURE INTEGER arithmetic (days since a Monday
    // epoch mod 7): Spark's dayofweek (1=Sunday) and DuckDB's
    // dayofweek/isodow all disagree on numbering, integer math
    // doesn't. Mean revenue via the exact-decimal moment protocol. ----
    Entry("ts_weekday_profile", (s, dir) => {
      import s.implicits._
      val daily = Tables.events(s, dir)
        .groupBy($"event_type", to_date($"ts").as("day"))
        .agg(RoundPortableExpr.r(sum($"value"), 4).as("y"))
        .select($"event_type",
          expr("cast(datediff(day, date'1970-01-05') as bigint) % 7").as("dow"),
          round($"y" * 10000, 0).cast("decimal(38,0)").as("yi"))
      daily.groupBy($"event_type", $"dow")
        .agg(count(lit(1)).as("n_days"),
          RoundPortableExpr.r(
            sum($"yi").cast("double") / count(lit(1)) / lit(1.0e4), 6)
            .as("mean_revenue"))
    },
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |                      round(sum(value), 4) AS y
        |               FROM events GROUP BY 1, 2),
        |d AS (SELECT event_type,
        |             date_diff('day', DATE '1970-01-05', day) % 7 AS dow,
        |             CAST(round(y * 10000, 0) AS DECIMAL(38,0)) AS yi
        |      FROM daily)
        |SELECT event_type, CAST(dow AS BIGINT) AS dow,
        |       CAST(count(*) AS BIGINT) AS n_days,
        |       round(CAST(sum(yi) AS DOUBLE) / count(*) / 1.0e4, 6) AS mean_revenue
        |FROM d GROUP BY 1, 2""".stripMargin)
  )
}
