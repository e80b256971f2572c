package graft
package registry

import org.apache.spark.sql.functions._

import graft.functions.RoundPortableExpr

/** Graph analytics over the co-click graph (`graph_*`). */
object GraphEntries {

  /** graph_kcore peel rounds, shared by the Spark side (maxRounds +
    * assertFixpoint — fails loudly instead of silently diverging) and
    * the oracle's unrolled CTEs. Fixture peels in 4-5 rounds; the
    * margin covers fixture drift. */
  private val KcoreUnrollRounds = 8

  /** The capped co-click user-pair derivation shared (as SQL text) by
    * the graph_bfs oracle — the same shape graph_kcore inlines: ≤40
    * users per item (rank by user id), pairs sharing ≥5 items. */
  private val coClickPairsSql: String =
    """SELECT a.u AS u, b.u AS v
      |FROM (SELECT u, i FROM (
      |        SELECT u, i, row_number() OVER (PARTITION BY i ORDER BY u) AS rn
      |        FROM (SELECT DISTINCT user_id AS u,
      |                     CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS i
      |              FROM events WHERE event_type = 'click'))
      |      WHERE rn <= 40) a
      |JOIN (SELECT u, i FROM (
      |        SELECT u, i, row_number() OVER (PARTITION BY i ORDER BY u) AS rn
      |        FROM (SELECT DISTINCT user_id AS u,
      |                     CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS i
      |              FROM events WHERE event_type = 'click'))
      |      WHERE rn <= 40) b
      |  ON a.i = b.i AND a.u < b.u
      |GROUP BY 1, 2 HAVING count(*) >= 5""".stripMargin

  def all: Seq[Entry] = Seq(
    // ---- triangle census over the co-click graph (users linked by >= 2
    // shared items; analysis restricted to a user-id slab so the exact
    // SQL triple-join oracle stays bounded — the OPERATOR is generic).
    // Degree-ordered wedge enumeration in ops/Graph.scala: O(m^1.5)
    // even on power-law degree sequences. ----
    Entry("graph_triangles", (s, dir) => {
      import s.implicits._
      val clicks = Tables.events(s, dir)
        .where($"event_type" === "click" && $"user_id" < 300)
        .select($"user_id".as("u"),
          regexp_extract($"props", "[0-9]+", 0).cast("long").as("i"))
        .distinct()
      val co = clicks.alias("a").join(clicks.alias("b"),
          $"a.i" === $"b.i" && $"a.u" < $"b.u")
        .groupBy($"a.u".as("u"), $"b.u".as("v"))
        .agg(count(lit(1)).as("n_shared"))
        .where($"n_shared" >= 2)
        .select($"u", $"v")
      ops.Graph.triangleStats(co)
        .select($"n_nodes", $"n_edges", $"n_wedges", $"n_triangles",
          RoundPortableExpr.r($"clustering", 4).as("clustering"))
    },
      """WITH cl AS (SELECT DISTINCT user_id AS u,
        |                   CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS i
        |            FROM events WHERE event_type = 'click' AND user_id < 300),
        |co AS (SELECT a.u AS u, b.u AS v FROM cl a JOIN cl b ON a.i = b.i AND a.u < b.u
        |       GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT id, count(*) AS deg
        |        FROM (SELECT u AS id FROM co UNION ALL SELECT v FROM co) GROUP BY 1),
        |tri AS (SELECT count(*) AS n
        |        FROM co e1 JOIN co e2 ON e2.u = e1.u AND e2.v > e1.v
        |                   JOIN co e3 ON e3.u = e1.v AND e3.v = e2.v)
        |SELECT (SELECT count(*) FROM deg) AS n_nodes,
        |       (SELECT count(*) FROM co) AS n_edges,
        |       CAST(coalesce((SELECT sum((deg * (deg - 1)) // 2) FROM deg), 0) AS BIGINT)
        |         AS n_wedges,
        |       (SELECT n FROM tri) AS n_triangles,
        |       CASE WHEN coalesce((SELECT sum((deg * (deg - 1)) // 2) FROM deg), 0) = 0
        |            THEN 0.0e0
        |            ELSE round(3.0e0 * (SELECT n FROM tri) /
        |                       (SELECT sum((deg * (deg - 1)) // 2) FROM deg), 4) END
        |         AS clustering""".stripMargin),
    // ---- k-core decomposition (Seidman 1983): iteratively peel nodes
    // of in-subgraph degree < k from the strongly-co-clicking user
    // graph (>= 5 shared items) until the fixed point — the standard
    // trim that isolates the durable community before expensive graph
    // analytics. The co-visitation self-join is guarded by a
    // DETERMINISTIC per-item neighbor cap (≤ 40 users per item, rank by
    // user id): co-click pair count is quadratic in item popularity,
    // and the unguarded join measured 24× wall and 21 GB spill at a
    // mere 10× (every fixture item is a hub) — the cap bounds pairs at
    // items · cap² regardless of corpus size, the same hub-sampling
    // guard production co-visitation graphs use. Cap is a no-op at
    // sf0.01 (≤ 28 users/item). Fixture peels in 5 rounds (sf0.01) / 4
    // (sf0.1); each round is one degree agg + two semi-joins, O(|E|)
    // shuffle, edge set monotonically shrinking. Oracle unrolls 8 peel
    // rounds (extra rounds past the fixed point are idempotent). ----
    Entry("graph_kcore", (s, dir) => {
      import s.implicits._
      val clicks = Tables.events(s, dir).where($"event_type" === "click")
        .select($"user_id".as("u"),
          regexp_extract($"props", "[0-9]+", 0).cast("long").as("i"))
        .distinct()
      val wcap = org.apache.spark.sql.expressions.Window
        .partitionBy($"i").orderBy($"u")
      val capped = clicks.withColumn("rn", row_number().over(wcap))
        .where($"rn" <= 40).drop("rn")
      val co = capped.alias("a").join(capped.alias("b"),
          $"a.i" === $"b.i" && $"a.u" < $"b.u")
        .groupBy($"a.u".as("u"), $"b.u".as("v"))
        .agg(count(lit(1)).as("n_shared"))
        .where($"n_shared" >= 5)
        .select($"u", $"v")
      ops.Graph.kCore(co, k = 3, maxRounds = KcoreUnrollRounds, assertFixpoint = true)
    },
      ops.Graph.kCoreRelSql(
      """SELECT a.u AS u, b.u AS v
        |FROM (SELECT u, i FROM (
        |        SELECT u, i, row_number() OVER (PARTITION BY i ORDER BY u) AS rn
        |        FROM (SELECT DISTINCT user_id AS u,
        |                     CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS i
        |              FROM events WHERE event_type = 'click'))
        |      WHERE rn <= 40) a
        |JOIN (SELECT u, i FROM (
        |        SELECT u, i, row_number() OVER (PARTITION BY i ORDER BY u) AS rn
        |        FROM (SELECT DISTINCT user_id AS u,
        |                     CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS i
        |              FROM events WHERE event_type = 'click'))
        |      WHERE rn <= 40) b
        |  ON a.i = b.i AND a.u < b.u
        |GROUP BY 1, 2 HAVING count(*) >= 5""".stripMargin, k = 3,
      rounds = KcoreUnrollRounds)),
    // ---- PageRank over the symmetrized user↔item click graph (crawl-
    // curation authority signal; items live at id 1000000+k so the two
    // node families share one id space). 5 power iterations, d = 0.85;
    // relative-to-uniform output (rank·N) is scale-free and rounds
    // safely. Iterative plan discipline lives in ops/Graph.scala. ----
    Entry("graph_pagerank", (s, dir) => {
      import s.implicits._
      val clicks = Tables.events(s, dir).where($"event_type" === "click")
        .select($"user_id".as("src"),
          (regexp_extract($"props", "[0-9]+", 0).cast("long") + 1000000L).as("dst"))
      val sym = clicks.unionAll(clicks.select($"dst".as("src"), $"src".as("dst")))
      ops.Graph.pageRank(sym, iters = 5, d = 0.85, relative = true)
        .select($"id", RoundPortableExpr.r($"rank", 4).as("rank_rel"))
    },
      ops.Graph.pageRankRelSql(
        """SELECT user_id AS src, 1000000 + CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS dst
          |  FROM events WHERE event_type = 'click'
          |  UNION ALL
          |  SELECT 1000000 + CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS src, user_id AS dst
          |  FROM events WHERE event_type = 'click'""".stripMargin,
        iters = 5, d = 0.85)),
    // ---- personalized PageRank: teleport restricted to users who
    // purchased — ranks every node by random-walk proximity to the
    // converting population (conversion-weighted authority; the
    // frontier-prioritization form of PageRank). Same persisted-edge /
    // per-round-checkpoint loop as graph_pagerank. ----
    Entry("graph_ppr", (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
      val clicks = ev.where($"event_type" === "click")
        .select($"user_id".as("src"),
          (regexp_extract($"props", "[0-9]+", 0).cast("long") + 1000000L).as("dst"))
      val sym = clicks.unionAll(clicks.select($"dst".as("src"), $"src".as("dst")))
      val seeds = ev.where($"event_type" === "purchase").select($"user_id".as("id"))
      ops.Graph.personalizedPageRank(sym, seeds, iters = 5, d = 0.85, relative = true)
        .select($"id", RoundPortableExpr.r($"rank", 4).as("ppr_rel"))
    },
      ops.Graph.personalizedPageRankRelSql(
        """SELECT user_id AS src, 1000000 + CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS dst
          |  FROM events WHERE event_type = 'click'
          |  UNION ALL
          |  SELECT 1000000 + CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS src, user_id AS dst
          |  FROM events WHERE event_type = 'click'""".stripMargin,
        "SELECT user_id AS id FROM events WHERE event_type = 'purchase'",
        iters = 5, d = 0.85)),
    // ---- clamped label propagation (Zhu & Ghahramani): purchasing
    // users carry a fixed audit label (user_id mod 3 — deterministic
    // fixture stand-in for a human-audited domain tag); two rounds
    // spread it over the symmetric click graph by per-node majority
    // vote (ties → smaller label). Output is the bounded label census,
    // never the node table. Same persisted-edges / per-round-checkpoint
    // loop as graph_pagerank (ops/Graph.scala). ----
    Entry("graph_label_prop", (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
      val clicks = ev.where($"event_type" === "click")
        .select($"user_id".as("src"),
          (regexp_extract($"props", "[0-9]+", 0).cast("long") + 1000000L).as("dst"))
      val sym = clicks.unionAll(clicks.select($"dst".as("src"), $"src".as("dst")))
      val seeds = ev.where($"event_type" === "purchase")
        .select($"user_id".as("id")).distinct()
        .select($"id", pmod($"id", lit(3L)).as("label"))
      ops.Graph.labelPropagation(sym, seeds, iters = 2)
        .orderBy($"label".asc)
    }, {
      val edgesSql =
        """SELECT user_id AS src, 1000000 + CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS dst
          |  FROM events WHERE event_type = 'click'
          |  UNION ALL
          |  SELECT 1000000 + CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS src, user_id AS dst
          |  FROM events WHERE event_type = 'click'""".stripMargin
      val seedsSql =
        """SELECT DISTINCT user_id AS id, CAST(user_id % 3 AS BIGINT) AS label
          |  FROM events WHERE event_type = 'purchase'""".stripMargin
      s"""WITH ${ops.Graph.labelPropCensusSql(edgesSql, seedsSql, iters = 2)}
         |SELECT label, n_nodes FROM lpcensus ORDER BY label""".stripMargin
    }),
    // ---- HITS hubs/authorities over the DIRECTED user→item click
    // graph: power users are hubs, popular-with-power-users items are
    // authorities (the curation "which sources do good crawlers hit"
    // signal). L1-normalized per side each round; side-relative
    // rounded output. ----
    Entry("graph_hits", (s, dir) => {
      import s.implicits._
      val clicks = Tables.events(s, dir).where($"event_type" === "click")
        .select($"user_id".as("src"),
          (regexp_extract($"props", "[0-9]+", 0).cast("long") + 1000000L).as("dst"))
      val out = ops.Graph.hits(clicks, iters = 5)
      val cnt = out.groupBy($"kind").agg(count(lit(1)).as("n"))
      out.join(broadcast(cnt), "kind")
        .select($"kind", $"id", RoundPortableExpr.r($"score" * $"n", 4).as("score_rel"))
    },
      ops.Graph.hitsRelSql(
        """SELECT user_id AS src, 1000000 + CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS dst
          |  FROM events WHERE event_type = 'click'""".stripMargin,
        iters = 5)),
    // ---- neighborhood link prediction (common-neighbors / Adamic–Adar
    // / Jaccard) over the user→item click bipartite graph: the
    // source-affinity candidate generator. Same u<300 fixture subset as
    // graph_triangles; maxItemDf=250 is the hub guard bounding per-item
    // join work at df² (the quadratic-head family: minhash bucket cap,
    // decontamination df cap). Top-30 by Adamic–Adar. ----
    Entry("graph_link_pred", (s, dir) => {
      import s.implicits._
      val clicks = Tables.events(s, dir)
        .where($"event_type" === "click" && $"user_id" < 300)
        .select($"user_id".as("u"),
          regexp_extract($"props", "[0-9]+", 0).cast("long").as("i"))
      ops.Graph.linkPrediction(clicks, maxItemDf = 250, minShared = 3)
        .orderBy($"aa".desc, $"u".asc, $"v".asc).limit(30)
    },
      (ops.Graph.linkPredictionSql(
        """SELECT user_id AS u, CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS i
          |  FROM events WHERE event_type = 'click' AND user_id < 300""".stripMargin,
        maxItemDf = 250, minShared = 3) +
        "\nORDER BY aa DESC, p.u, p.v LIMIT 30")),
    // ---- multi-source BFS over the (symmetrized) co-click graph:
    // shortest hop distance from the 5 lowest-id users — the
    // reachability/proximity primitive (crawl frontier depth, blast
    // radius) the graph family lacked. Per round one frontier
    // semi-join + one visited anti-join, both keyed, shuffle linear in
    // frontier out-edges; output = the bounded level census. Same
    // capped co-click edge derivation as graph_kcore (≤40 users/item,
    // ≥5 shared items). Oracle = 6 unrolled level CTEs. ----
    Entry("graph_bfs", (s, dir) => {
      import s.implicits._
      val clicks = Tables.events(s, dir).where($"event_type" === "click")
        .select($"user_id".as("u"),
          regexp_extract($"props", "[0-9]+", 0).cast("long").as("i"))
        .distinct()
      val wcap = org.apache.spark.sql.expressions.Window
        .partitionBy($"i").orderBy($"u")
      val capped = clicks.withColumn("rn", row_number().over(wcap))
        .where($"rn" <= 40).drop("rn")
      val co = capped.alias("a").join(capped.alias("b"),
          $"a.i" === $"b.i" && $"a.u" < $"b.u")
        .groupBy($"a.u".as("u"), $"b.u".as("v"))
        .agg(count(lit(1)).as("n_shared"))
        .where($"n_shared" >= 5)
        .select($"u", $"v")
      val sym = co.select($"u".as("src"), $"v".as("dst"))
        .unionAll(co.select($"v".as("src"), $"u".as("dst")))
      val seeds = sym.select($"src".as("id")).unionAll(sym.select($"dst".as("id")))
        .distinct().orderBy($"id").limit(5)
      ops.Graph.bfs(sym, seeds, maxDepth = 6)
    },
      ops.Graph.bfsCensusSql(
      s"""SELECT u AS src, v AS dst FROM ($coClickPairsSql)
         |UNION ALL
         |SELECT v AS src, u AS dst FROM ($coClickPairsSql)""".stripMargin,
      s"""SELECT id FROM (
         |  SELECT DISTINCT id FROM (
         |    SELECT u AS id FROM ($coClickPairsSql)
         |    UNION ALL
         |    SELECT v FROM ($coClickPairsSql)))
         |ORDER BY id LIMIT 5""".stripMargin,
      maxDepth = 6)),
    // ---- local clustering coefficient over the capped co-click graph
    // (same ≤40-users/item + ≥5-shared-items edge derivation as
    // graph_kcore — the hub cap bounds the wedge join's fan-out, which
    // is what makes distributed triangle counting survive skew).
    // Triangles enumerated once each on canonical a<b<c edges via the
    // standard two-hop wedge join + closing-edge join; per-node counts
    // from a 3-way explode. lcc = 2·tri/(deg·(deg−1)) is an exact-int
    // ratio — one IEEE division, engine-independent. ----
    Entry("graph_clustering_coeff", (s, dir) => {
      import s.implicits._
      val clicks = Tables.events(s, dir).where($"event_type" === "click")
        .select($"user_id".as("u"),
          regexp_extract($"props", "[0-9]+", 0).cast("long").as("i"))
        .distinct()
      val wcap = org.apache.spark.sql.expressions.Window
        .partitionBy($"i").orderBy($"u")
      val capped = clicks.withColumn("rn", row_number().over(wcap))
        .where($"rn" <= 40).drop("rn")
      val e = graft.core.PlanCache.persist(
        capped.alias("a").join(capped.alias("b"),
            $"a.i" === $"b.i" && $"a.u" < $"b.u")
          .groupBy($"a.u".as("u"), $"b.u".as("v"))
          .agg(count(lit(1)).as("n_shared"))
          .where($"n_shared" >= 5)
          .select($"u", $"v"))
      val und = e.select($"u".as("node")).unionByName(e.select($"v".as("node")))
      val deg = und.groupBy($"node").agg(count(lit(1)).as("deg"))
      val tris = e.alias("x").join(e.alias("y"), $"x.v" === $"y.u")
        .join(e.alias("z"), $"x.u" === $"z.u" && $"y.v" === $"z.v")
        .select($"x.u".as("n1"), $"x.v".as("n2"), $"y.v".as("n3"))
      val tpn = tris.select(explode(array($"n1", $"n2", $"n3")).as("node"))
        .groupBy($"node").agg(count(lit(1)).as("tri"))
      deg.join(tpn, Seq("node"), "left_outer")
        .select($"node", $"deg", coalesce($"tri", lit(0L)).as("tri"),
          when($"deg" >= 2,
            RoundPortableExpr.r(
              (coalesce($"tri", lit(0L)) * 2).cast("double") /
                ($"deg" * ($"deg" - 1)).cast("double"), 6))
            .otherwise(lit(0.0)).as("lcc"))
    },
      s"""WITH e AS MATERIALIZED ($coClickPairsSql),
         |und AS (SELECT u AS node FROM e UNION ALL SELECT v FROM e),
         |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY 1),
         |tri AS (SELECT x.u AS n1, x.v AS n2, y.v AS n3
         |        FROM e x JOIN e y ON x.v = y.u
         |                 JOIN e z ON z.u = x.u AND z.v = y.v),
         |tpn AS (SELECT node, CAST(count(*) AS BIGINT) AS tri FROM (
         |          SELECT n1 AS node FROM tri
         |          UNION ALL SELECT n2 FROM tri
         |          UNION ALL SELECT n3 FROM tri) GROUP BY 1)
         |SELECT deg.node AS node, deg, coalesce(tri, 0) AS tri,
         |       CASE WHEN deg >= 2
         |            THEN round(CAST(coalesce(tri, 0) * 2 AS DOUBLE)
         |                       / CAST(deg * (deg - 1) AS DOUBLE), 6)
         |            ELSE 0.0e0 END AS lcc
         |FROM deg LEFT JOIN tpn USING (node)""".stripMargin),
    // ---- degree assortativity (Newman 2002) of the capped co-click
    // graph — the one-number graph-health metric (hub-to-hub vs
    // hub-to-leaf wiring) monitoring tracks alongside kcore/triangles.
    // Pearson correlation over edge-end degree pairs from EXACT int64
    // power sums (the agg_moments protocol applied to graphs): both
    // orientations of each edge feed one map-side-combined agg, r's
    // numerator/denominator are exact integers and meet doubles only
    // in the final division. Zero-variance (regular) graphs guard to
    // 0 rather than NaN. ----
    Entry("graph_assortativity", (s, dir) => {
      import s.implicits._
      val clicks = Tables.events(s, dir).where($"event_type" === "click")
        .select($"user_id".as("u"),
          regexp_extract($"props", "[0-9]+", 0).cast("long").as("i"))
        .distinct()
      val wcap = org.apache.spark.sql.expressions.Window
        .partitionBy($"i").orderBy($"u")
      val capped = clicks.withColumn("rn", row_number().over(wcap))
        .where($"rn" <= 40).drop("rn")
      val e = graft.core.PlanCache.persist(
        capped.alias("a").join(capped.alias("b"),
            $"a.i" === $"b.i" && $"a.u" < $"b.u")
          .groupBy($"a.u".as("u"), $"b.u".as("v"))
          .agg(count(lit(1)).as("n_shared"))
          .where($"n_shared" >= 5)
          .select($"u", $"v"))
      val und = e.select($"u".as("a"), $"v".as("b"))
        .unionByName(e.select($"v".as("a"), $"u".as("b")))
      val deg = graft.core.PlanCache.persist(
        und.groupBy($"a".as("node")).agg(count(lit(1)).as("deg")))
      val de = und
        .join(deg.select($"node".as("a"), $"deg".as("da")), "a")
        .join(deg.select($"node".as("b"), $"deg".as("db")), "b")
      val st = de.agg(count(lit(1)).as("m"), sum($"da").as("sx"),
        sum($"da" * $"db").as("sxy"), sum($"da" * $"da").as("sx2"))
      val nn = deg.agg(count(lit(1)).as("n_nodes"))
      st.crossJoin(broadcast(nn))
        .select($"n_nodes", expr("m div 2").as("n_edges"),
          when($"m" * $"sx2" - $"sx" * $"sx" === 0L, lit(0.0))
            .otherwise(RoundPortableExpr.r(
              ($"m" * $"sxy" - $"sx" * $"sx").cast("double") /
                ($"m" * $"sx2" - $"sx" * $"sx").cast("double"), 6))
            .as("assortativity"))
    },
      s"""WITH e AS MATERIALIZED ($coClickPairsSql),
         |und AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
         |deg AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY 1),
         |de AS (SELECT d1.deg AS da, d2.deg AS db
         |       FROM und JOIN deg d1 ON d1.node = und.a
         |                JOIN deg d2 ON d2.node = und.b),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS m, CAST(sum(da) AS BIGINT) AS sx,
         |              CAST(sum(da * db) AS BIGINT) AS sxy,
         |              CAST(sum(da * da) AS BIGINT) AS sx2
         |       FROM de),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
         |SELECT n_nodes, m // 2 AS n_edges,
         |       CASE WHEN m * sx2 - sx * sx = 0 THEN 0.0e0
         |            ELSE round(CAST(m * sxy - sx * sx AS DOUBLE)
         |                       / CAST(m * sx2 - sx * sx AS DOUBLE), 6)
         |       END AS assortativity
         |FROM st, nn""".stripMargin),
    // ---- one-row graph health summary of the capped co-click graph
    // (nodes, edges, density, avg/max degree, leaf count) — the
    // topology scorecard read next to kcore/assortativity/triangles.
    // Exact integers throughout; two single-shape divisions. ----
    Entry("graph_summary", (s, dir) => {
      import s.implicits._
      val clicks = Tables.events(s, dir).where($"event_type" === "click")
        .select($"user_id".as("u"),
          regexp_extract($"props", "[0-9]+", 0).cast("long").as("i"))
        .distinct()
      val wcap = org.apache.spark.sql.expressions.Window
        .partitionBy($"i").orderBy($"u")
      val capped = clicks.withColumn("rn", row_number().over(wcap))
        .where($"rn" <= 40).drop("rn")
      val e = capped.alias("a").join(capped.alias("b"),
          $"a.i" === $"b.i" && $"a.u" < $"b.u")
        .groupBy($"a.u".as("u"), $"b.u".as("v"))
        .agg(count(lit(1)).as("n_shared"))
        .where($"n_shared" >= 5)
        .select($"u", $"v")
      val deg = e.select($"u".as("node")).unionByName(e.select($"v".as("node")))
        .groupBy($"node").agg(count(lit(1)).as("deg"))
      val em = e.agg(count(lit(1)).as("ne"))
      deg.agg(count(lit(1)).as("nn"), max($"deg").as("max_degree"),
          sum(when($"deg" === 1L, 1L).otherwise(0L)).as("n_leaves"))
        .crossJoin(broadcast(em))
        .select($"nn".as("n_nodes"), $"ne".as("n_edges"), $"max_degree", $"n_leaves",
          RoundPortableExpr.r(($"ne" * 2L).cast("double") /
            ($"nn" * ($"nn" - 1L)).cast("double"), 6).as("density"),
          RoundPortableExpr.r(($"ne" * 2L).cast("double") / $"nn".cast("double"), 6)
            .as("avg_degree"))
    },
      s"""WITH e AS MATERIALIZED ($coClickPairsSql),
         |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
         |          SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
         |em AS (SELECT CAST(count(*) AS BIGINT) AS ne FROM e),
         |ag AS (SELECT CAST(count(*) AS BIGINT) AS nn,
         |              CAST(max(deg) AS BIGINT) AS max_degree,
         |              CAST(sum(CASE WHEN deg = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |                AS n_leaves
         |       FROM deg)
         |SELECT nn AS n_nodes, ne AS n_edges, max_degree, n_leaves,
         |       round(CAST(ne * 2 AS DOUBLE) / CAST(nn * (nn - 1) AS DOUBLE), 6)
         |         AS density,
         |       round(CAST(ne * 2 AS DOUBLE) / CAST(nn AS DOUBLE), 6) AS avg_degree
         |FROM ag, em""".stripMargin)
  )
}
