package graft
package registry

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.RoundPortableExpr
import graft.SparkEntry.t

/** Data-quality checks and distribution drift (`dq_*`, `drift_*`). */
object DqEntries {
  def all: Seq[Entry] = Seq(
    // ---- day-over-day distribution drift (pipeline monitoring: a
    // source whose event-type mix jumps is a crawl gone wrong). Total
    // variation distance between consecutive daily event-type
    // distributions over a dense (day × type) grid, so a type vanishing
    // entirely still registers. One count shuffle + a tiny per-type
    // window; the grid is |days|·|types| — never row-scale. ----
    Entry("drift_daily", (s, dir) => {
      import s.implicits._
      val daily = graft.core.PlanCache.persist(
        Tables.events(s, dir)
          .groupBy(to_date($"ts").as("day"), $"event_type")
          .agg(count(lit(1)).as("n")))
      val tot = daily.groupBy($"day").agg(sum($"n").as("nd"))
      val grid = daily.select($"day").distinct()
        .crossJoin(daily.select($"event_type").distinct())
      val p = grid.join(daily, Seq("day", "event_type"), "left_outer")
        .join(tot, "day")
        .select($"day", $"event_type", (coalesce($"n", lit(0L)).cast("double") / $"nd").as("p"))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy($"event_type").orderBy($"day")
      p.withColumn("pp", lag($"p", 1).over(win))
        .where($"pp".isNotNull)
        .groupBy($"day")
        .agg(RoundPortableExpr.r(sum(abs($"p" - $"pp")) / 2, 4).as("tv_drift"))
    },
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
        |               FROM events GROUP BY 1, 2),
        |tot AS (SELECT day, sum(n) AS nd FROM daily GROUP BY 1),
        |grid AS (SELECT d.day, e.event_type
        |         FROM (SELECT DISTINCT day FROM daily) d
        |         CROSS JOIN (SELECT DISTINCT event_type FROM daily) e),
        |p AS (SELECT g.day, g.event_type, coalesce(daily.n, 0)::DOUBLE / tot.nd AS p
        |      FROM grid g LEFT JOIN daily USING (day, event_type) JOIN tot USING (day)),
        |l AS (SELECT day, event_type, p,
        |             lag(p) OVER (PARTITION BY event_type ORDER BY day) AS pp FROM p)
        |SELECT day, round(sum(abs(p - pp)) / 2, 4) AS tv_drift
        |FROM l WHERE pp IS NOT NULL GROUP BY 1""".stripMargin),
    // ---- population-stability-index drift (the industry drift
    // metric, complementing drift_daily's total-variation): purchase
    // `value` distributions of the month's FIRST 15 days (reference)
    // vs the rest (current), over 8 fixed 50-wide buckets with
    // Laplace smoothing so empty cells stay finite. One corpus-keyed
    // agg to (period, bucket) counts — bounded 16 cells — then the
    // PSI fold is driver-free arithmetic on the tiny grid. ----
    Entry("drift_psi", (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir).where($"event_type" === "purchase")
      val bounds = ev.agg(min(to_date($"ts")).as("d0")).select($"d0")
      val binned = ev.crossJoin(broadcast(bounds))
        .select(
          when(datediff(to_date($"ts"), $"d0") < 15, "ref").otherwise("cur").as("period"),
          least(floor($"value" / 50).cast("long"), lit(7L)).as("bucket"))
        .groupBy($"period", $"bucket").agg(count(lit(1)).as("n"))
      // dense 2×8 grid (Laplace +1 smoothing keeps log finite)
      val grid = Seq("ref", "cur").toDF("period")
        .crossJoin((0L to 7L).toDF("bucket"))
      val tot = binned.groupBy($"period").agg(sum($"n").as("tot"))
      val p = grid.join(binned, Seq("period", "bucket"), "left")
        .join(tot, "period")
        .select($"period", $"bucket",
          ((coalesce($"n", lit(0L)) + 1).cast("double") / ($"tot" + 8)).as("p"))
      val wide = p.groupBy($"bucket")
        .agg(max(when($"period" === "ref", $"p")).as("pr"),
          max(when($"period" === "cur", $"p")).as("pc"))
      wide.agg(RoundPortableExpr.r(
        sum(($"pc" - $"pr") * log($"pc" / $"pr")), 4).as("psi"))
    },
      """WITH ev AS (SELECT value, CAST(ts AS DATE) AS day FROM events
        |            WHERE event_type = 'purchase'),
        |b AS (SELECT min(day) AS d0 FROM ev),
        |binned AS (
        |  SELECT CASE WHEN date_diff('day', d0, day) < 15 THEN 'ref' ELSE 'cur' END
        |           AS period,
        |         least(CAST(floor(value / 50) AS BIGINT), 7) AS bucket, count(*) AS n
        |  FROM ev, b GROUP BY 1, 2),
        |grid AS (SELECT p.period, t.bucket
        |         FROM (SELECT 'ref' AS period UNION ALL SELECT 'cur') p,
        |              range(8) t(bucket)),
        |tot AS (SELECT period, sum(n) AS tot FROM binned GROUP BY 1),
        |probs AS (
        |  SELECT g.period, g.bucket,
        |         CAST(coalesce(n, 0) + 1 AS DOUBLE) / (tot + 8) AS p
        |  FROM grid g LEFT JOIN binned USING (period, bucket) JOIN tot USING (period)),
        |wide AS (SELECT bucket,
        |                max(CASE WHEN period = 'ref' THEN p END) AS pr,
        |                max(CASE WHEN period = 'cur' THEN p END) AS pc
        |         FROM probs GROUP BY 1)
        |SELECT round(sum((pc - pr) * ln(pc / pr)), 4) AS psi FROM wide""".stripMargin),
    // ---- Deequ-style data-quality constraint suite: completeness,
    // key uniqueness, accepted values, numeric bounds, referential
    // integrity — each one scan+agg (map-side combined) or a
    // broadcastable keyed anti-join, unioned into a (check, metric,
    // passed) report. The 100 TB shape: every check is algebraic, so
    // partial aggregation does the work; none materializes rows. ----
    Entry("dq_checks", (s, dir) => {
      import s.implicits._
      val li = s.read.parquet(t(dir, "lineitem"))
      val o = s.read.parquet(t(dir, "orders"))
      val c = s.read.parquet(t(dir, "customer"))
      val completeness = li.agg(
        RoundPortableExpr.r(
          sum(when($"l_shipdate".isNotNull, 1).otherwise(0)).cast("double") /
            count(lit(1)), 6).as("metric"))
        .select(lit("completeness_l_shipdate").as("check"), $"metric",
          when($"metric" === 1.0, 1L).otherwise(0L).as("passed"))
      val uniq = li.groupBy($"l_orderkey", $"l_linenumber")
        .agg(count(lit(1)).as("n")).where($"n" > 1)
        .agg(count(lit(1)).cast("double").as("metric"))
        .select(lit("unique_orderkey_linenumber").as("check"),
          coalesce($"metric", lit(0.0)).as("metric"),
          when(coalesce($"metric", lit(0.0)) === 0.0, 1L).otherwise(0L).as("passed"))
      val accepted = li.agg(
        sum(when(!$"l_returnflag".isin("A", "N", "R"), 1).otherwise(0))
          .cast("double").as("metric"))
        .select(lit("accepted_values_returnflag").as("check"), $"metric",
          when($"metric" === 0.0, 1L).otherwise(0L).as("passed"))
      val bounds = li.agg(
        sum(when($"l_discount" < 0.0 || $"l_discount" > 0.1 ||
          $"l_quantity" < 1.0 || $"l_quantity" > 50.0, 1).otherwise(0))
          .cast("double").as("metric"))
        .select(lit("bounds_discount_quantity").as("check"), $"metric",
          when($"metric" === 0.0, 1L).otherwise(0L).as("passed"))
      val refint = o.join(c, o("o_custkey") === c("c_custkey"), "left_anti")
        .agg(count(lit(1)).cast("double").as("metric"))
        .select(lit("ref_orders_customer").as("check"), $"metric",
          when($"metric" === 0.0, 1L).otherwise(0L).as("passed"))
      completeness.union(uniq).union(accepted).union(bounds).union(refint)
    },
      """SELECT 'completeness_l_shipdate' AS "check", metric,
        |       CASE WHEN metric = 1.0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
        |         AS passed
        |FROM (SELECT round(CAST(sum(CASE WHEN l_shipdate IS NOT NULL THEN 1 ELSE 0 END)
        |                        AS DOUBLE) / count(*), 6) AS metric FROM lineitem)
        |UNION ALL
        |SELECT 'unique_orderkey_linenumber' AS "check", metric,
        |       CASE WHEN metric = 0.0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
        |FROM (SELECT CAST(count(*) AS DOUBLE) AS metric
        |      FROM (SELECT l_orderkey, l_linenumber FROM lineitem
        |            GROUP BY 1, 2 HAVING count(*) > 1))
        |UNION ALL
        |SELECT 'accepted_values_returnflag' AS "check", metric,
        |       CASE WHEN metric = 0.0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
        |FROM (SELECT CAST(sum(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R')
        |                           THEN 1 ELSE 0 END) AS DOUBLE) AS metric FROM lineitem)
        |UNION ALL
        |SELECT 'bounds_discount_quantity' AS "check", metric,
        |       CASE WHEN metric = 0.0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
        |FROM (SELECT CAST(sum(CASE WHEN l_discount < 0.0 OR l_discount > 0.1
        |                             OR l_quantity < 1.0 OR l_quantity > 50.0
        |                           THEN 1 ELSE 0 END) AS DOUBLE) AS metric FROM lineitem)
        |UNION ALL
        |SELECT 'ref_orders_customer' AS "check", metric,
        |       CASE WHEN metric = 0.0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
        |FROM (SELECT CAST(count(*) AS DOUBLE) AS metric
        |      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |      WHERE c.c_custkey IS NULL)""".stripMargin),
    // ---- IQR-fence outlier audit per group (the Tukey boxplot rule
    // every data-quality dashboard runs): exact Q1/Q3 from the
    // value-census + window-CDF (the scale-safe exact-quantile pattern
    // — never a per-group value buffer), fences at ±1.5·IQR, outliers
    // counted map-side against the broadcast fences. ----
    Entry("dq_outlier_iqr", (s, dir) => {
      import s.implicits._
      val li = s.read.parquet(t(dir, "lineitem"))
      // r13 (guide §1.2): the census is PERSISTED and both the quartile
      // pass and the final fence count derive from it — the outlier
      // count is a cnt-weighted sum over (flag, price) groups, so
      // lineitem is scanned ONCE (was 2×: census + the raw join-back).
      val census = graft.core.PlanCache.persist(
        li.groupBy($"l_returnflag", $"l_extendedprice").agg(count(lit(1)).as("cnt")))
      val wCum = org.apache.spark.sql.expressions.Window
        .partitionBy($"l_returnflag").orderBy($"l_extendedprice")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy($"l_returnflag")
      val cdf = census
        .withColumn("cum", sum($"cnt").over(wCum))
        .withColumn("n", sum($"cnt").over(wAll))
      val picks = Seq(0.25 -> "q1", 0.75 -> "q3").flatMap { case (q, nm) =>
        val pos = lit(q) * ($"n" - 1)
        Seq(
          min(when($"cum" >= floor(pos) + 1, $"l_extendedprice")).as(s"lo_$nm"),
          min(when($"cum" >= floor(pos) + 2, $"l_extendedprice")).as(s"hi_$nm"))
      } :+ max($"n").as("n")
      val quart = cdf.groupBy($"l_returnflag").agg(picks.head, picks.tail: _*)
      def interp(q: Double, nm: String) = {
        val pos = lit(q) * ($"n" - 1)
        col(s"lo_$nm") + (coalesce(col(s"hi_$nm"), col(s"lo_$nm")) - col(s"lo_$nm")) * (pos - floor(pos))
      }
      val fences = quart.select($"l_returnflag",
        interp(0.25, "q1").as("q1"), interp(0.75, "q3").as("q3"))
        .withColumn("lo", $"q1" - lit(1.5) * ($"q3" - $"q1"))
        .withColumn("hi", $"q3" + lit(1.5) * ($"q3" - $"q1"))
      census.join(broadcast(fences), "l_returnflag")
        .groupBy($"l_returnflag")
        .agg(sum($"cnt").as("n"),
          RoundPortableExpr.r(max($"q1"), 2).as("q1"),
          RoundPortableExpr.r(max($"q3"), 2).as("q3"),
          sum(when($"l_extendedprice" < $"lo" || $"l_extendedprice" > $"hi", $"cnt")
            .otherwise(0L)).as("n_outliers"))
    },
      """WITH census AS (
        |  SELECT l_returnflag AS g, l_extendedprice AS v, CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY 1, 2),
        |cdf AS (
        |  SELECT g, v, cnt,
        |         sum(cnt) OVER (PARTITION BY g ORDER BY v
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |         sum(cnt) OVER (PARTITION BY g) AS n
        |  FROM census),
        |quart AS (
        |  SELECT g,
        |         min(CASE WHEN cum >= floor(CAST(0.25 AS DOUBLE) * (n - 1)) + 1 THEN v END) AS lo_q1,
        |         min(CASE WHEN cum >= floor(CAST(0.25 AS DOUBLE) * (n - 1)) + 2 THEN v END) AS hi_q1,
        |         min(CASE WHEN cum >= floor(CAST(0.75 AS DOUBLE) * (n - 1)) + 1 THEN v END) AS lo_q3,
        |         min(CASE WHEN cum >= floor(CAST(0.75 AS DOUBLE) * (n - 1)) + 2 THEN v END) AS hi_q3,
        |         max(n) AS n
        |  FROM cdf GROUP BY 1),
        |f AS (
        |  SELECT g,
        |         lo_q1 + (COALESCE(hi_q1, lo_q1) - lo_q1) *
        |           (CAST(0.25 AS DOUBLE) * (n - 1) - floor(CAST(0.25 AS DOUBLE) * (n - 1))) AS q1,
        |         lo_q3 + (COALESCE(hi_q3, lo_q3) - lo_q3) *
        |           (CAST(0.75 AS DOUBLE) * (n - 1) - floor(CAST(0.75 AS DOUBLE) * (n - 1))) AS q3
        |  FROM quart),
        |fe AS (SELECT g, q1, q3, q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi FROM f)
        |SELECT l.l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |       round(max(fe.q1), 2) AS q1, round(max(fe.q3), 2) AS q3,
        |       CAST(sum(CASE WHEN l.l_extendedprice < fe.lo OR l.l_extendedprice > fe.hi
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM lineitem l JOIN fe ON fe.g = l.l_returnflag GROUP BY 1""".stripMargin),
    // ---- Benford first-digit conformance check on order totals — the
    // forensic data-quality screen (fraud/synthetic-data detector).
    // First significant digit via bigint→string (both engines print
    // integers identically; float log10-binning would be boundary-
    // fragile), expected shares as shared 17-digit literals (log10 is
    // NOT IEEE-exact — libm vs JVM could differ in the last ulp, so
    // neither engine computes it), chi-square terms from exact counts.
    // One census groupBy + a broadcast total: linear, 9-row output. ----
    Entry("dq_benford", (s, dir) => {
      import s.implicits._
      val benford = Map(1 -> 0.3010299956639812, 2 -> 0.17609125905568124,
        3 -> 0.12493873660829992, 4 -> 0.09691001300805642,
        5 -> 0.07918124604762482, 6 -> 0.06694678963061322,
        7 -> 0.05799194697768673, 8 -> 0.05115252244738129,
        9 -> 0.04575749056067514)
      val o = s.read.parquet(t(dir, "orders"))
        .select(substring(round($"o_totalprice" * 100, 0).cast("long")
          .cast("string"), 1, 1).cast("int").as("digit"))
      val tot = o.agg(count(lit(1)).as("n"))
      val p = benford.foldLeft(lit(null).cast("double")) { case (acc, (d, pr)) =>
        when($"digit" === d, lit(pr)).otherwise(acc)
      }
      o.groupBy($"digit").agg(count(lit(1)).as("observed"))
        .crossJoin(broadcast(tot))
        .withColumn("expected_raw", p * $"n")
        .select($"digit", $"observed",
          RoundPortableExpr.r($"expected_raw", 4).as("expected"),
          RoundPortableExpr.r(
            ($"observed" - $"expected_raw") * ($"observed" - $"expected_raw") /
              $"expected_raw", 6).as("chi2_term"))
    },
      """WITH o AS (SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
        |                  AS VARCHAR), 1, 1) AS INTEGER) AS digit
        |           FROM orders),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM o),
        |obs AS (SELECT digit, CAST(count(*) AS BIGINT) AS observed FROM o GROUP BY 1),
        |p AS (SELECT digit, observed,
        |             CASE digit WHEN 1 THEN 0.3010299956639812e0
        |                        WHEN 2 THEN 0.17609125905568124e0
        |                        WHEN 3 THEN 0.12493873660829992e0
        |                        WHEN 4 THEN 0.09691001300805642e0
        |                        WHEN 5 THEN 0.07918124604762482e0
        |                        WHEN 6 THEN 0.06694678963061322e0
        |                        WHEN 7 THEN 0.05799194697768673e0
        |                        WHEN 8 THEN 0.05115252244738129e0
        |                        WHEN 9 THEN 0.04575749056067514e0
        |             END * n AS expected_raw
        |      FROM obs, tot)
        |SELECT digit, observed, round(expected_raw, 4) AS expected,
        |       round((observed - expected_raw) * (observed - expected_raw)
        |             / expected_raw, 6) AS chi2_term
        |FROM p""".stripMargin),
    // ---- functional-dependency violation census — the profiling
    // screen (Papenbrock/HyFD-style single-FD check) warehouses run
    // before trusting a key: for each declared det→dep, count
    // determinant groups and groups with >1 distinct dependent.
    // Violation = min(dep) ≠ max(dep) per group — NOT countDistinct:
    // a distinct agg keys the partial by (det, dep) and at 100× that
    // hash map measured 13.8 GB of spill (most pairs unique, map-side
    // combine reduces nothing), while min/max partials combine to two
    // values per det however wide the group. 3-row output;
    // c_custkey→c_nationkey HOLDS (0 violations) while the two
    // order/lineitem FDs are violated — both detector branches fire. ----
    Entry("dq_fd_check", (s, dir) => {
      import s.implicits._
      def fd(df: DataFrame, name: String, det: String, dep: String): DataFrame =
        df.groupBy(col(det)).agg(min(col(dep)).as("lo"), max(col(dep)).as("hi"))
          .agg(count(lit(1)).as("n_groups"),
            sum(when($"lo" =!= $"hi", 1L).otherwise(0L)).as("n_violating"))
          .select(lit(name).as("fd"), $"n_groups", $"n_violating",
            RoundPortableExpr.r($"n_violating".cast("double") /
              $"n_groups".cast("double"), 6).as("violation_rate"))
      fd(s.read.parquet(t(dir, "orders")),
          "o_custkey->o_orderpriority", "o_custkey", "o_orderpriority")
        .unionByName(fd(s.read.parquet(t(dir, "lineitem")),
          "l_orderkey->l_shipdate", "l_orderkey", "l_shipdate"))
        .unionByName(fd(s.read.parquet(t(dir, "customer")),
          "c_custkey->c_nationkey", "c_custkey", "c_nationkey"))
    },
      """WITH f1 AS (SELECT 'o_custkey->o_orderpriority' AS fd,
        |                   CAST(count(*) AS BIGINT) AS n_groups,
        |                   CAST(sum(CASE WHEN lo <> hi THEN 1 ELSE 0 END) AS BIGINT)
        |                     AS n_violating
        |            FROM (SELECT o_custkey, min(o_orderpriority) AS lo,
        |                         max(o_orderpriority) AS hi
        |                  FROM orders GROUP BY 1)),
        |f2 AS (SELECT 'l_orderkey->l_shipdate' AS fd,
        |              CAST(count(*) AS BIGINT) AS n_groups,
        |              CAST(sum(CASE WHEN lo <> hi THEN 1 ELSE 0 END) AS BIGINT)
        |                AS n_violating
        |       FROM (SELECT l_orderkey, min(l_shipdate) AS lo, max(l_shipdate) AS hi
        |             FROM lineitem GROUP BY 1)),
        |f3 AS (SELECT 'c_custkey->c_nationkey' AS fd,
        |              CAST(count(*) AS BIGINT) AS n_groups,
        |              CAST(sum(CASE WHEN lo <> hi THEN 1 ELSE 0 END) AS BIGINT)
        |                AS n_violating
        |       FROM (SELECT c_custkey, min(c_nationkey) AS lo, max(c_nationkey) AS hi
        |             FROM customer GROUP BY 1))
        |SELECT fd, n_groups, n_violating,
        |       round(CAST(n_violating AS DOUBLE) / CAST(n_groups AS DOUBLE), 6)
        |         AS violation_rate
        |FROM (SELECT * FROM f1 UNION ALL SELECT * FROM f2 UNION ALL SELECT * FROM f3)""".stripMargin),
    // ---- referential-integrity audit: FK-orphan censuses (child rows
    // whose parent key is missing — the constraint a lakehouse can't
    // enforce at write time) plus childless-parent censuses (parents
    // with zero children — the silent-join-loss screen). All four are
    // key-only anti-join counts (digest-sized shuffles); the fixture
    // HOLDS both FKs and VIOLATES both childless checks, so each
    // detector branch is oracle-exercised. ----
    Entry("dq_referential", (s, dir) => {
      import s.implicits._
      // key censuses computed ONCE and persisted — each serves two of
      // the four checks (child side in one, parent side in another).
      // Raw-row anti-joins sorted the full 60M-row child (68.6 s at
      // 100×) or spilled on the fat parent side; censuses map-side
      // combine to distinct keys and every anti-join is key-only.
      def keyCensus(table: String, key: String): DataFrame =
        graft.core.PlanCache.persist(
          s.read.parquet(t(dir, table))
            .groupBy(col(key).as("k")).agg(count(lit(1)).as("cnt")))
      val liOrd = keyCensus("lineitem", "l_orderkey")
      val ordKey = keyCensus("orders", "o_orderkey")
      val ordCust = keyCensus("orders", "o_custkey")
      val custKey = keyCensus("customer", "c_custkey")
      def check(name: String, child: DataFrame, parent: DataFrame): DataFrame = {
        val tot = child.agg(sum($"cnt").as("n_rows"))
        child.join(parent.select($"k"), Seq("k"), "left_anti")
          .agg(coalesce(sum($"cnt"), lit(0L)).as("n_violations"))
          .crossJoin(broadcast(tot))
          .select(lit(name).as("check"), $"n_rows", $"n_violations",
            when($"n_violations" === 0L, 1).otherwise(0).as("ok"))
      }
      check("lineitem.l_orderkey->orders", liOrd, ordKey)
        .unionByName(check("orders.o_custkey->customer", ordCust, custKey))
        .unionByName(check("customer-has-order", custKey, ordCust))
        .unionByName(check("order-has-lineitem", ordKey, liOrd))
    }, {
      val check = (name: String, child: String, ck: String,
          parent: String, pk: String) =>
        s"""SELECT '$name' AS "check",
           |       (SELECT CAST(count(*) AS BIGINT) FROM $child) AS n_rows,
           |       CAST(count(*) AS BIGINT) AS n_violations,
           |       CASE WHEN count(*) = 0 THEN 1 ELSE 0 END AS ok
           |FROM $child c WHERE NOT EXISTS
           |  (SELECT 1 FROM $parent p WHERE p.$pk = c.$ck)""".stripMargin
      s"""${check("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey")}
         |UNION ALL
         |${check("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey")}
         |UNION ALL
         |${check("customer-has-order", "customer", "c_custkey", "orders", "o_custkey")}
         |UNION ALL
         |${check("order-has-lineitem", "orders", "o_orderkey", "lineitem", "l_orderkey")}""".stripMargin
    }),
    // ---- freshness / staleness audit — the data-SLA check every
    // warehouse runs before a dashboard refresh: per event_type, the
    // latest event and its lag behind the globally freshest partition,
    // in exact integer minutes off epoch-micro timestamps. ----
    Entry("dq_freshness", (s, dir) => {
      import s.implicits._
      val mx = Tables.events(s, dir)
        .groupBy($"event_type")
        .agg((unix_micros(max($"ts")).cast("long")).as("mx"))
      val glob = mx.agg(max($"mx").as("gm"))
      mx.crossJoin(broadcast(glob))
        .select($"event_type",
          expr("mx div 60000000").as("latest_minute"),
          expr("(gm - mx) div 60000000").as("minutes_stale"),
          when($"gm" - $"mx" <= 1440L * 60000000L, 1).otherwise(0).as("within_sla"))
    },
      """WITH mx AS (SELECT event_type, CAST(epoch_us(max(ts)) AS BIGINT) AS mx
        |            FROM events GROUP BY 1),
        |gmx AS (SELECT max(mx) AS gm FROM mx)
        |SELECT event_type, mx // 60000000 AS latest_minute,
        |       (gm - mx) // 60000000 AS minutes_stale,
        |       CASE WHEN gm - mx <= CAST(86400000000 AS BIGINT) THEN 1 ELSE 0 END
        |         AS within_sla
        |FROM mx, gmx""".stripMargin)
  )
}
