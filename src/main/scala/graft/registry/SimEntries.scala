package graft
package registry

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.RoundPortableExpr
import graft.ops.{MlAnn, Similarity, TextAnalysis}
import graft.ops.TextPrimitives._
import graft.SparkEntry.t

/** Similarity search, ANN quantizers and embedding diagnostics
  * (`sim_*`). */
object SimEntries {
  def all: Seq[Entry] = Seq(
    // ---- hard-negative mining for embedding training: per query,
    // the top-5 nearest neighbors inside a distance BAND — below it
    // are near-duplicates/positives (useless or harmful negatives),
    // above it are easy negatives the loss ignores. The standard
    // contrastive-training data-prep op; the plan is the bounded
    // query-panel broadcast (sim_knn_batch's shape) with the band
    // predicate ahead of the per-query top-k heap. ----
    Entry("sim_hard_negatives", (s, dir) => {
      import s.implicits._
      val emb = s.read.parquet(t(dir, "embeddings"))
      val q = emb.where($"vec_id" < 20)
        .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
      val c = emb.select($"vec_id".as("neighbor_id"), $"embedding".as("c_emb"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"query_id").orderBy($"distance".asc, $"neighbor_id".asc)
      c.crossJoin(broadcast(q))
        .where($"neighbor_id" =!= $"query_id")
        .select($"query_id", $"neighbor_id", RoundPortableExpr.r(
          graft.functions.VectorFunctions.cosineDistance($"c_emb", $"q_emb"), 4)
          .as("distance"))
        .where($"distance" > 0.55 && $"distance" <= 0.85)
        .withColumn("rank", row_number().over(w))
        .where($"rank" <= 5)
        .select($"query_id", $"neighbor_id", $"distance")
    },
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
        |           FROM embeddings WHERE vec_id < 20),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS ce
        |      FROM embeddings),
        |d AS (SELECT query_id, neighbor_id,
        |             round(1 - list_cosine_similarity(ce, qe), 4) AS distance
        |      FROM q, c WHERE neighbor_id <> query_id),
        |b AS (SELECT query_id, neighbor_id, distance,
        |             row_number() OVER (PARTITION BY query_id
        |                                ORDER BY distance, neighbor_id) AS rk
        |      FROM d WHERE distance > 0.55 AND distance <= 0.85)
        |SELECT query_id, neighbor_id, distance FROM b WHERE rk <= 5""".stripMargin),
    // ---- similarity search ----
    Entry("sim_knn_batch", (s, dir) => {
      import s.implicits._
      val emb = s.read.parquet(t(dir, "embeddings"))
      Similarity.bruteTopK(emb.where($"vec_id" < 10), emb, k = 3)
    },
      """WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 10),
        |d AS (SELECT q.query_id, c.vec_id AS neighbor_id,
        |             round(1 - list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
        |                                              CAST(q.embedding AS DOUBLE[])), 4) AS distance
        |      FROM embeddings c, q WHERE c.vec_id <> q.query_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY distance, neighbor_id) AS rn
        |      FROM d)
        |SELECT query_id, neighbor_id, distance FROM r WHERE rn <= 3""".stripMargin),
    // ---- embedding-space class statistics: per-label centroid (one
    // element-wise aggregate over a posexplode — (label, dim)-keyed,
    // never a driver collect) and the intra-class dispersion census —
    // the standard training-data embedding diagnostic (collapsed or
    // overlapping classes show up as dispersion outliers). Centroids
    // are 64-float rows broadcast back for the distance pass. ----
    Entry("sim_class_stats", (s, dir) => {
      import s.implicits._
      val e = s.read.parquet(t(dir, "embeddings"))
      val comp = e.select($"label", posexplode($"embedding").as(Seq("i", "x")))
        .groupBy($"label", $"i").agg(avg($"x".cast("double")).as("v"))
      val cent = comp.groupBy($"label")
        .agg(array_sort(collect_list(struct($"i", $"v"))).as("sv"))
        .select($"label", expr("transform(sv, s -> cast(s.v as float))").as("c"))
      e.join(broadcast(cent), "label")
        .select($"label",
          RoundPortableExpr.r(
            graft.functions.VectorFunctions.cosineDistance($"embedding", $"c"), 4).as("dist"))
        .groupBy($"label")
        .agg(count(lit(1)).as("n_vecs"),
          RoundPortableExpr.r(avg($"dist"), 4).as("mean_dist"),
          RoundPortableExpr.r(max($"dist"), 4).as("max_dist"))
    },
      """WITH comp AS (
        |  SELECT label, t.i AS i, avg(CAST(embedding[t.i + 1] AS DOUBLE)) AS v
        |  FROM embeddings, range(64) t(i) GROUP BY 1, 2),
        |cent AS (
        |  SELECT label, list_transform(list(v ORDER BY i), x -> CAST(x AS REAL)) AS c
        |  FROM comp GROUP BY 1),
        |d AS (
        |  SELECT e.label,
        |         round(1 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                          CAST(c AS DOUBLE[])), 4) AS dist
        |  FROM embeddings e JOIN cent USING (label))
        |SELECT label, count(*) AS n_vecs, round(avg(dist), 4) AS mean_dist,
        |       round(max(dist), 4) AS max_dist
        |FROM d GROUP BY 1""".stripMargin),
    // ---- embedding outlier audit: per label, the count of vectors
    // whose centroid cosine distance clears the Tukey upper fence
    // (q3 + 1.5·IQR over exact per-group percentiles, the
    // text_quality_adaptive pattern). The embedding-space twin of the
    // quality screens: mislabeled / degenerate vectors surface as
    // distance-tail mass before they poison ANN training or dedup.
    // Centroids and the 10-row fence table broadcast; the distance
    // pass is one codegen'd kernel scan. ----
    Entry("sim_dist_outliers", (s, dir) =>
      Similarity.centroidDistOutliers(s.read.parquet(t(dir, "embeddings")),
        "label", "vec_id", "embedding"),
      """WITH comp AS (
        |  SELECT label, t.i AS i, avg(CAST(embedding[t.i + 1] AS DOUBLE)) AS v
        |  FROM embeddings, range(64) t(i) GROUP BY 1, 2),
        |cent AS (
        |  SELECT label, list_transform(list(v ORDER BY i), x -> CAST(x AS REAL)) AS c
        |  FROM comp GROUP BY 1),
        |d AS (
        |  SELECT e.label, e.vec_id,
        |         round(1 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                          CAST(c AS DOUBLE[])), 4) AS dist
        |  FROM embeddings e JOIN cent USING (label)),
        |fen AS (
        |  SELECT label, round(round(quantile_cont(dist, 0.75), 6) +
        |           (round(quantile_cont(dist, 0.75), 6) -
        |            round(quantile_cont(dist, 0.25), 6)) * 1.5, 6) AS hi
        |  FROM d GROUP BY 1)
        |SELECT d.label, count(*) AS n_vecs, any_value(hi) AS hi_fence,
        |       CAST(sum(CASE WHEN dist > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |       round(max(dist), 4) AS max_dist
        |FROM d JOIN fen USING (label) GROUP BY 1""".stripMargin),
    // ---- Matryoshka truncation audit (Kusupati et al. 2022): per-query
    // top-10 overlap between full 64-dim and prefix-16-dim cosine
    // retrieval — the go/no-go measurement for serving from truncated
    // vectors at 1/4 the memory. Query panel = first 5 corpus vectors,
    // broadcast; both distances computed in one candidate pass. ----
    Entry("sim_matryoshka", (s, dir) => {
      import s.implicits._
      val emb = s.read.parquet(t(dir, "embeddings"))
      val queries = emb.where($"vec_id" < 5)
        .select($"vec_id".as("qid"), $"embedding".as("qe"))
      Similarity.matryoshkaAgreement(emb, queries, k = 10, prefixDim = 16)
    },
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
        |d AS (
        |  SELECT q.qid, e.vec_id,
        |         round(1 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                          CAST(q.qe AS DOUBLE[])), 6) AS fd,
        |         round(1 - list_cosine_similarity(CAST(e.embedding[1:16] AS DOUBLE[]),
        |                                          CAST(q.qe[1:16] AS DOUBLE[])), 6) AS pd
        |  FROM embeddings e, q),
        |r AS (
        |  SELECT qid, vec_id,
        |         row_number() OVER (PARTITION BY qid ORDER BY fd, vec_id) AS rf,
        |         row_number() OVER (PARTITION BY qid ORDER BY pd, vec_id) AS rp
        |  FROM d)
        |SELECT qid, CAST(sum(CASE WHEN rf <= 10 AND rp <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
        |       round(sum(CASE WHEN rf <= 10 AND rp <= 10 THEN 1 ELSE 0 END) / 10.0, 4) AS overlap_at_k
        |FROM r WHERE rf <= 10 OR rp <= 10 GROUP BY 1""".stripMargin),
    // ---- JL sign random projection (Achlioptas 2003) + neighbor-
    // preservation audit: project 64 → 32 dims with a stored-nothing
    // md5-derived ±1 matrix (one codegen kernel pass), then measure
    // top-5 overlap between full-space and projected-space brute kNN
    // for a 10-query panel. The scale story: 2× fewer bytes/flops per
    // candidate scan ahead of an exact rerank. (The iid-random fixture
    // is the WORST case for this audit — neighbor margins are noise —
    // so the overlap census is deliberately modest; RandomProjection-
    // Spec shows near-perfect preservation on clustered data.) ----
    Entry("sim_rp_project", (s, dir) => {
      import s.implicits._
      val emb = s.read.parquet(t(dir, "embeddings"))
      val proj = graft.core.PlanCache.persist(emb.select($"vec_id",
        graft.functions.RpProjectExpr.col($"embedding", 64, 32).as("p")))
      val full = Similarity.bruteTopK(emb.where($"vec_id" < 10), emb, k = 5)
      val red = Similarity.bruteTopK(proj.where($"vec_id" < 10), proj, k = 5, embCol = "p")
      val common = full.select($"query_id", $"neighbor_id")
        .join(red.select($"query_id", $"neighbor_id"), Seq("query_id", "neighbor_id"))
      emb.where($"vec_id" < 10).select($"vec_id".as("query_id"))
        .join(common, Seq("query_id"), "left")
        .groupBy($"query_id")
        .agg(count($"neighbor_id").as("n_common"))
    },
      s"""WITH proj AS (
         |  SELECT vec_id, ${graft.functions.RpProjectExpr.sql("embedding", 64, 32)} AS p
         |  FROM embeddings),
         |fq AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 10),
         |fd AS (SELECT q.query_id, c.vec_id AS neighbor_id,
         |              round(1 - list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
         |                                               CAST(q.embedding AS DOUBLE[])), 4) AS distance
         |       FROM embeddings c, fq q WHERE c.vec_id <> q.query_id),
         |fr AS (SELECT query_id, neighbor_id FROM (
         |         SELECT *, row_number() OVER (PARTITION BY query_id
         |             ORDER BY distance, neighbor_id) AS rn FROM fd) WHERE rn <= 5),
         |pq AS (SELECT vec_id AS query_id, p FROM proj WHERE vec_id < 10),
         |pd AS (SELECT q.query_id, c.vec_id AS neighbor_id,
         |              round(1 - list_cosine_similarity(CAST(c.p AS DOUBLE[]),
         |                                               CAST(q.p AS DOUBLE[])), 4) AS distance
         |       FROM proj c, pq q WHERE c.vec_id <> q.query_id),
         |pr AS (SELECT query_id, neighbor_id FROM (
         |         SELECT *, row_number() OVER (PARTITION BY query_id
         |             ORDER BY distance, neighbor_id) AS rn FROM pd) WHERE rn <= 5),
         |common AS (SELECT fr.query_id, fr.neighbor_id FROM fr JOIN pr
         |           USING (query_id, neighbor_id))
         |SELECT q.query_id, count(c.neighbor_id) AS n_common
         |FROM (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < 10) q
         |LEFT JOIN common c ON q.query_id = c.query_id
         |GROUP BY 1""".stripMargin),
    // ---- approximate-ANN quality gates: each ANN path runs against its
    // exact twin and must recover ≥ floor of the true top-k per query;
    // the oracle asserts the contract (1 per query), so a recall
    // regression — not just a crash — flips the row red. ----
    Entry("sim_lsh_ann", (s, dir) => {
      import s.implicits._
      val emb = s.read.parquet(t(dir, "embeddings"))
      val q = emb.where($"vec_id" < 10)
      val exact = Similarity.bruteTopK(q, emb, k = 10)
      // bits=3 / 24 tables: measured per-query recall 1.0 at sf0.01 (the
      // fixture embeddings are near-uniform, so collision probabilities
      // need shallow buckets). At corpus scale raise bits to keep buckets
      // ~constant-sized (candidates ∝ tables·n/2^bits).
      val ann = Similarity.lshBucketTopK(q, emb, k = 10, dim = 64, tables = 24, bits = 3)
      Similarity.recallGate(ann, exact, k = 10, floor = 0.9)
    },
      // ---- ANN quality contracts: the Spark side measures recall against
      // the exact twin and emits 1 iff it clears the floor; the oracle
      // asserts every query clears it. A recall regression (bad hash
      // family, broken index probe, MLlib behavior change) breaks the
      // hash match even though the ANN output itself is seed-dependent. ----
      "SELECT vec_id AS query_id, 1 AS recall_ok FROM embeddings WHERE vec_id < 10"),
    Entry("sim_knn_grouped", (s, dir) => {
      import s.implicits._
      val emb = s.read.parquet(t(dir, "embeddings"))
      val qv = emb.where($"vec_id" === 0).select($"embedding")
        .head.getSeq[Float](0).toArray
      Similarity.groupedTopK(emb, qv, k = 3, groupCol = "label")
    },
      """WITH d AS (
        |  SELECT e.label, e.vec_id,
        |         round(1 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                          CAST(q.embedding AS DOUBLE[])), 4) AS distance
        |  FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q)
        |SELECT label, vec_id, distance FROM (
        |  SELECT *, row_number() OVER (PARTITION BY label ORDER BY distance, vec_id) AS rn FROM d)
        |WHERE rn <= 3""".stripMargin),
    // ---- containment-similarity join over KMV sketches ----
    Entry("sim_containment", (s, dir) => {
      import s.implicits._
      val sk = ops.Containment.sketchDocs(
        s.read.parquet(t(dir, "documents")), "doc_id", "text", n = 3, k = 32)
      ops.Containment.containmentJoin(sk.where($"doc_id" < 20), sk, k = 32, threshold = 0.2)
    },
      s"""WITH base AS (
         |  SELECT doc_id, ${shinglesSql("ws", 3)} AS sh
         |  FROM (SELECT doc_id, ${wordsSql("text")} AS ws FROM documents)
         |), sk AS (
         |  SELECT doc_id, len(sh) AS set_size,
         |         list_sort(list_distinct(list_transform(sh, s -> ${hexLongSql("s")})))[1:32] AS sketch
         |  FROM base WHERE len(sh) > 0
         |), pairs AS (
         |  SELECT q.doc_id AS query_id, c.doc_id AS cand_id, q.set_size,
         |         list_sort(list_distinct(q.sketch || c.sketch))[1:32] AS u,
         |         q.sketch AS qs, c.sketch AS cs
         |  FROM sk q, sk c WHERE q.doc_id < 20 AND c.doc_id <> q.doc_id
         |), est AS (
         |  SELECT query_id, cand_id,
         |    round((len(list_intersect(list_intersect(u, qs), cs))::DOUBLE / len(u)::DOUBLE)
         |      * (CASE WHEN len(u) < 32 THEN len(u)::DOUBLE
         |              ELSE 31.0 * 1152921504606846976 / (u[len(u)])::DOUBLE END)
         |      / set_size::DOUBLE, 4) AS containment
         |  FROM pairs
         |)
         |SELECT query_id, cand_id, containment FROM est WHERE containment >= 0.2""".stripMargin),
    // ---- ε-radius search: the range query of the vector-search
    // surface — all neighbors within distance ε, exact, one map-side
    // broadcast-panel pass (no top-k heap state). ε=0.72 ≈ the 1%
    // distance quantile on the fixture. ----
    Entry("sim_range_search", (s, dir) => {
      import s.implicits._
      val emb = s.read.parquet(t(dir, "embeddings"))
      Similarity.rangeSearch(emb.where($"vec_id" < 5), emb, eps = 0.72)
    },
      """WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5)
        |SELECT q.query_id, c.vec_id AS neighbor_id,
        |       round(1 - list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
        |                                        CAST(q.embedding AS DOUBLE[])), 4) AS distance
        |FROM embeddings c, q
        |WHERE c.vec_id <> q.query_id
        |  AND round(1 - list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
        |                                       CAST(q.embedding AS DOUBLE[])), 4) <= 0.72""".stripMargin),
    // ---- margin-based parallel-pair mining (Artetxe & Schwenk, the
    // CCMatrix bitext criterion): even-label rows are corpus side A,
    // odd-label side B; each side-A query's best side-B candidate by
    // neighborhood-normalized margin, kept when margin > 1. The
    // backward kNN leg scores only the distinct forward candidates
    // (semi-join prune) — see Similarity.bitextMarginPairs. ----
    Entry("sim_bitext_margin", (s, dir) => {
      import s.implicits._
      val emb = s.read.parquet(t(dir, "embeddings"))
      val src = emb.where(pmod($"label", lit(2)) === 0).select($"vec_id", $"embedding")
      val tgt = emb.where(pmod($"label", lit(2)) === 1).select($"vec_id", $"embedding")
      Similarity.bitextMarginPairs(src.where($"vec_id" < 50), src, tgt, k = 4)
        .orderBy($"src_id".asc)
    },
      """WITH bsrc AS (SELECT vec_id, embedding FROM embeddings WHERE label % 2 = 0),
        |btgt AS (SELECT vec_id, embedding FROM embeddings WHERE label % 2 = 1),
        |bq AS (SELECT * FROM bsrc WHERE vec_id < 50),
        |fwd_d AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         round(1 - list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
        |                                          CAST(q.embedding AS DOUBLE[])), 4) AS distance
        |  FROM btgt c, bq q),
        |fwd AS (
        |  SELECT query_id, neighbor_id, 1 - distance AS sim
        |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |                                     ORDER BY distance, neighbor_id) AS rn
        |        FROM fwd_d) WHERE rn <= 4),
        |favg AS (SELECT query_id, round(avg(sim), 6) AS fwd_avg FROM fwd GROUP BY 1),
        |cand AS (SELECT DISTINCT neighbor_id FROM fwd),
        |bwd_d AS (
        |  SELECT t.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         round(1 - list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
        |                                          CAST(t.embedding AS DOUBLE[])), 4) AS distance
        |  FROM bsrc c, (SELECT b.* FROM btgt b JOIN cand ON b.vec_id = cand.neighbor_id) t),
        |bwd AS (
        |  SELECT query_id, 1 - distance AS sim
        |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |                                     ORDER BY distance, neighbor_id) AS rn
        |        FROM bwd_d) WHERE rn <= 4),
        |bavg AS (SELECT query_id AS neighbor_id, round(avg(sim), 6) AS bwd_avg
        |         FROM bwd GROUP BY 1),
        |pairs AS (
        |  SELECT f.query_id AS src_id, f.neighbor_id AS tgt_id, f.sim,
        |         round(f.sim / ((fa.fwd_avg + ba.bwd_avg) / 2), 6) AS margin
        |  FROM fwd f JOIN favg fa USING (query_id)
        |             JOIN bavg ba ON f.neighbor_id = ba.neighbor_id)
        |SELECT src_id, tgt_id, sim, margin
        |FROM (SELECT *, row_number() OVER (PARTITION BY src_id
        |                                   ORDER BY margin DESC, tgt_id) AS rn
        |      FROM pairs)
        |WHERE rn = 1 AND margin > 1.0
        |ORDER BY src_id""".stripMargin),
    // ---- cluster-balanced downsampling (DataComp/DoReMi-style bucket
    // rebalance): hash embeddings into 256 sign-projection cells (8-dim
    // JL projection — stored-nothing md5 matrix), cap each cell at 8
    // docs by deterministic hash rank. Map-side cell assignment, ONE
    // shuffle on the cell id shared by the window rank and the census
    // aggregate. At corpus scale raise the projection dims so cells
    // stay ~constant-sized (cells = 2^dims). ----
    Entry("sim_cluster_balance", (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val cap = 8
      s.read.parquet(t(dir, "embeddings"))
        .select($"vec_id",
          graft.functions.RpProjectExpr.col($"embedding", 64, 8).as("p"))
        .withColumn("bucket", expr(
          "cast(aggregate(transform(p, (x, j) -> if(x > cast(0.0 as float), shiftleft(1L, j), 0L)), 0L, (a, b) -> a + b) as int)"))
        .withColumn("r", hexLong(concat(lit("cb:"), $"vec_id".cast("string"))))
        .withColumn("rn",
          row_number().over(Window.partitionBy($"bucket").orderBy($"r", $"vec_id")))
        .groupBy($"bucket")
        .agg(count(lit(1)).cast("int").as("n_before"),
          sum(when($"rn" <= cap, 1).otherwise(0)).cast("int").as("n_kept"),
          expr(s"bit_xor(case when rn <= $cap then vec_id end)").as("kept_xor"))
    },
      s"""WITH proj AS (
         |  SELECT vec_id, ${graft.functions.RpProjectExpr.sql("embedding", 64, 8)} AS p
         |  FROM embeddings),
         |b AS (
         |  SELECT vec_id,
         |         CAST(list_sum(list_transform(range(8),
         |           j -> CASE WHEN p[CAST(j + 1 AS INTEGER)] > 0 THEN 1 << j ELSE 0 END))
         |           AS INTEGER) AS bucket,
         |         ${hexLongSql("'cb:' || CAST(vec_id AS VARCHAR)")} AS r
         |  FROM proj),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY r, vec_id) AS rn
         |       FROM b)
         |SELECT bucket, CAST(count(*) AS INTEGER) AS n_before,
         |       CAST(sum(CASE WHEN rn <= 8 THEN 1 ELSE 0 END) AS INTEGER) AS n_kept,
         |       bit_xor(CASE WHEN rn <= 8 THEN vec_id END) AS kept_xor
         |FROM rk GROUP BY 1""".stripMargin),
    // ---- benchmark decontamination, production default: training docs
    // sharing winnowing fingerprints with any held-out/benchmark doc
    // (the substring-level leak detector — whole-doc minhash misses
    // partial inclusions). Equi-join on fingerprint, never all-pairs;
    // at 100 TB the benchmark side is tiny and broadcasts. The
    // boilerplate guard (TextAnalysis.DefaultMaxDf = 200) is ON: a
    // fingerprint in >200 DISTINCT docs is template boilerplate, not
    // leakage — and it is the join's quadratic head (a fp in T train ×
    // B bench docs emits T×B rows; at 100× the uncapped join shuffled
    // 5.2 GB / 245×-of-linear and spilled 9.5 GB, the capped one is
    // exactly linear — BENCHNOTES r5). The cap deliberately BITES on
    // the fixture (max df 328 at sf0.01) so the engines must agree on
    // the exclusion, not just the happy path. ----
    Entry("sim_decontaminate", (s, dir) => {
      import s.implicits._
      TextAnalysis.decontaminate(s.read.parquet(t(dir, "documents")),
        "doc_id", "text", isBench = $"doc_id" % 10 === 0)
    },
      s"""WITH h AS (SELECT doc_id, ${winnowHashesSql("text", 8)} AS hs FROM documents),
         |f AS (SELECT doc_id, unnest(${winnowFromHashesSql("hs", 4)}) AS fp FROM h),
         |keep AS (SELECT fp FROM (SELECT fp, count(DISTINCT doc_id) AS fp_df
         |                         FROM f GROUP BY 1) WHERE fp_df <= 200),
         |p AS (SELECT f.doc_id, f.fp FROM f JOIN keep USING (fp)),
         |tr AS (SELECT doc_id, fp FROM p WHERE doc_id % 10 <> 0),
         |be AS (SELECT doc_id AS bench_id, fp FROM p WHERE doc_id % 10 = 0)
         |SELECT tr.doc_id,
         |       CAST(count(DISTINCT be.bench_id) AS BIGINT) AS n_bench_hits,
         |       count(*) AS n_shared_fp
         |FROM tr JOIN be ON tr.fp = be.fp
         |GROUP BY 1 HAVING count(*) >= 4""".stripMargin),
    // ---- EXPLICIT EXACT BASELINE (no boilerplate guard): every shared
    // fingerprint joins, including template boilerplate. Envelope
    // (measured, BENCHNOTES r5): at 100× sf0.1 the fingerprint join
    // shuffles 245×-of-linear (5.2 GB) and spills 9.5 GB to disk.
    // Keep for exact-overlap audits at small/medium scale; the
    // default-named query is the one to ship. ----
    Entry("sim_decontaminate_exact", (s, dir) => {
      import s.implicits._
      TextAnalysis.decontaminate(s.read.parquet(t(dir, "documents")),
        "doc_id", "text", isBench = $"doc_id" % 10 === 0, maxDf = None)
    },
      s"""WITH h AS (SELECT doc_id, ${winnowHashesSql("text", 8)} AS hs FROM documents),
         |f AS (SELECT doc_id, unnest(${winnowFromHashesSql("hs", 4)}) AS fp FROM h),
         |tr AS (SELECT doc_id, fp FROM f WHERE doc_id % 10 <> 0),
         |be AS (SELECT doc_id AS bench_id, fp FROM f WHERE doc_id % 10 = 0)
         |SELECT tr.doc_id,
         |       CAST(count(DISTINCT be.bench_id) AS BIGINT) AS n_bench_hits,
         |       count(*) AS n_shared_fp
         |FROM tr JOIN be ON tr.fp = be.fp
         |GROUP BY 1 HAVING count(*) >= 4""".stripMargin),
    // ---- scalar-quantized (SQ8) ANN: byte codes (4× smaller than
    // float32) scanned with the asymmetric kernel distance, exact
    // rerank of the k·4 shortlist by joining raw embeddings back by id.
    // Measured recall 1.0 at sf0.01 and sf0.1 (quantization error ≪
    // neighbor gaps on the fixture); gated per-query ≥ 0.8. ----
    Entry("sim_ann_sq8", (s, dir) => {
      import s.implicits._
      val emb = s.read.parquet(t(dir, "embeddings"))
      val q = emb.where($"vec_id" < 10)
      Similarity.recallGate(Similarity.sq8TopK(q, emb, k = 10),
        Similarity.bruteTopK(q, emb, k = 10), k = 10, floor = 0.8)
    },
      "SELECT vec_id AS query_id, 1 AS recall_ok FROM embeddings WHERE vec_id < 10"),
    // ---- binary-quantized (BQ) ANN: packed sign-bit codes (32×
    // smaller than float32 — the cheapest memory tier) scanned through
    // a Hamming → sign-asymmetric → exact-rerank cascade; floats are
    // resident only for the O(q·k) rerank shortlist. Sign bits at the
    // fixture's 64 dims are deliberately coarse (production BQ runs at
    // 768+); measured mean recall 0.92 (sf0.01) / 0.91 (sf0.1) —
    // gate the MEAN like the IVF family. ----
    Entry("sim_ann_bq", (s, dir) => {
      import s.implicits._
      val emb = s.read.parquet(t(dir, "embeddings"))
      val q = emb.where($"vec_id" < 10)
      Similarity.meanRecallGate(Similarity.bqTopK(q, emb, k = 10),
        Similarity.bruteTopK(q, emb, k = 10), k = 10, floor = 0.7)
    },
      "SELECT CAST(count(*) AS BIGINT) AS n_queries, 1 AS recall_ok FROM embeddings WHERE vec_id < 10"),
    // ---- segmented HNSW (Malkov & Yashunin) — the reference's bulk-load
    // index family (duckvdb.py:37-41), re-expressed as the Lucene segment
    // design: one sequential graph per partition built in mapPartitions,
    // broadcast query fan-out, window-rank merge re-scored through the
    // exact codegen kernel. Measured per-query recall 1.0 at sf0.01 and
    // sf0.1; gated ≥ 0.9. ----
    Entry("sim_ann_hnsw", (s, dir) => {
      import s.implicits._
      val emb = s.read.parquet(t(dir, "embeddings"))
      val q = emb.where($"vec_id" < 10)
      Similarity.recallGate(ops.Hnsw.searchTopK(q, emb, k = 10),
        Similarity.bruteTopK(q, emb, k = 10), k = 10, floor = 0.9)
    },
      "SELECT vec_id AS query_id, 1 AS recall_ok FROM embeddings WHERE vec_id < 10"),
    // ---- product-quantization ANN: codes are 8 bytes/vector (32×
    // smaller than the raw 64-float embeddings), searched via ADC
    // lookup tables — recall-gated against the exact cosine twin like
    // the other ANN paths. Codebooks train once per source dir on a
    // driver-side sample (seeded kmeans++, deterministic). ----
    Entry("sim_ann_pq", (s, dir) => {
      import s.implicits._
      val emb = s.read.parquet(t(dir, "embeddings"))
      val (books, codes) = SparkEntry.pqIndex(s, dir) {
        val b = ops.PqAnn.trainOn(emb, dim = 64, m = 8, k = 256)
        val c = ops.PqAnn.encode(emb, b).persist()
        c.count() // materialize once — this IS the stored index
        (b, c)
      }
      val q = emb.where($"vec_id" < 10)
      // ADC shortlist (16×k) + exact rerank: measured recall@10
      // overall/min-per-query = 1.00/1.00 at sf0.01 and 0.96/0.90 at
      // sf0.1 (ADC-only ~0.6 — random uniform vectors are PQ's worst
      // case). The shortlist is still only ~3% of the sf0.1 corpus, so
      // full-precision math stays O(queries·k·16), not O(corpus).
      Similarity.recallGate(
        ops.PqAnn.adcTopKReranked(q, codes, emb, books, k = 10, shortlistFactor = 16),
        Similarity.bruteTopK(q, emb, k = 10), k = 10, floor = 0.8)
    },
      "SELECT vec_id AS query_id, 1 AS recall_ok FROM embeddings WHERE vec_id < 10"),
    // ---- IVF-PQ: the composed billion-vector index (Jégou et al.
    // §IV) — KMeans coarse cells + PQ-encoded RESIDUALS per cell; the
    // probe reads only nProbe/nCells of the 8-byte codes, ADC ranks
    // within probed cells, exact rerank on the shortlist. Mean-recall
    // gated like ml_ann_ivf (probe recall is bounded by cell recall,
    // high-variance per query on the near-uniform fixture). ----
    Entry("sim_ann_ivfpq", (s, dir) => {
      import s.implicits._
      val emb = s.read.parquet(t(dir, "embeddings"))
      val (index, codes) = SparkEntry.ivfpqIndex(s, dir) {
        val (ix, c0) = ops.IvfPq.build(emb, dim = 64, nCells = 16, m = 8, k = 256)
        // the stored index: driver artifact (centroids+codebooks) and
        // CELL-PARTITIONED code parquet — probes prune unvisited
        // cells at the directory level (PartitionFilters). Read back
        // through loadIndex so the query exercises the full at-rest
        // round trip a deployment ships between build and serving.
        val path = core.Scratch.dir(s, "graft-ivfpq")
        ops.IvfPq.persistIndex(ix, c0, path)
        ops.IvfPq.loadIndex(s, path)
      }
      val q = emb.where($"vec_id" < 10)
      Similarity.meanRecallGate(
        ops.IvfPq.search(q, index, codes, emb, k = 10, nProbe = 8, shortlistFactor = 16),
        Similarity.bruteTopK(q, emb, k = 10), k = 10, floor = 0.7)
    },
      "SELECT CAST(count(*) AS BIGINT) AS n_queries, 1 AS recall_ok FROM embeddings WHERE vec_id < 10"),
    // ---- exact max-inner-product top-k (recommender serving: the
    // score is user·item, and unnormalized embeddings make MIPS a
    // different ranking from cosine). Broadcast query panel + codegen
    // dot-product kernel + per-partition rank heaps — the same
    // exact-baseline contract sim_knn_batch pins for cosine. The scale
    // path is the Bachrach-et-al MIPS→cosine reduction
    // (Similarity.mipsAugmentCorpus: append sqrt(M²−‖x‖²), making
    // cosine ranking EQUAL to ip ranking — identity pinned by
    // SimilaritySpec), under which every ANN index in the engine
    // serves MIPS unchanged. ----
    Entry("sim_mips", (s, dir) => {
      import s.implicits._
      val emb = s.read.parquet(t(dir, "embeddings"))
      Similarity.mipsTopK(emb.where($"vec_id" < 10), emb, k = 3)
    },
      """WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 10),
        |d AS (SELECT q.query_id, c.vec_id AS neighbor_id,
        |             round(list_inner_product(CAST(c.embedding AS DOUBLE[]),
        |                                      CAST(q.embedding AS DOUBLE[])), 4) AS ip
        |      FROM embeddings c, q WHERE c.vec_id <> q.query_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |                                   ORDER BY ip DESC, neighbor_id) AS rn
        |      FROM d)
        |SELECT query_id, neighbor_id, ip FROM r WHERE rn <= 3""".stripMargin),
    // ---- IVF recall-vs-nProbe tuning curve: the measurement every
    // vector-store operator reads before picking a probe budget. ONE
    // index build, four probes (nProbe 1→8), recall carried as EXACT
    // integer hit counts against the exact top-10 (avg() of per-query
    // recalls would be summation-order-dependent; hits aren't), so
    // both the floor gates and the monotonicity gate — recall must be
    // non-decreasing in nProbe, which IVF guarantees structurally —
    // compare exact ints. Floors set ≥15 pts under measured hits
    // (26-31 / 40-44 / 58-64 / 81-85 per 100 across all three SFs). ----
    Entry("sim_ann_recall_curve", (s, dir) => {
      import s.implicits._
      val emb = s.read.parquet(t(dir, "embeddings"))
      val q = emb.where($"vec_id" < 10)
      val exact = graft.core.PlanCache.persist(
        Similarity.bruteTopK(q, emb, k = 10).select($"query_id", $"neighbor_id"))
      val built = MlAnn.ivfBuild(emb, nCells = 16)
      // one cell-assignment pass feeds all four probes
      val index = built.copy(indexed = graft.core.PlanCache.persist(built.indexed))
      def point(nProbe: Int, minHits: Int): DataFrame =
        MlAnn.ivfProbe(index, q, k = 10, nProbe = nProbe)
          .select($"query_id", $"neighbor_id")
          .join(exact, Seq("query_id", "neighbor_id"))
          .agg(count(lit(1)).as("hits"))
          .select(lit(nProbe).as("nprobe"), lit(minHits.toLong).as("min_hits"), $"hits")
      val curve = point(1, 15).unionByName(point(2, 25))
        .unionByName(point(4, 40)).unionByName(point(8, 65))
      curve
        .withColumn("prev", lag($"hits", 1).over(
          org.apache.spark.sql.expressions.Window.orderBy($"nprobe")))
        .select($"nprobe", lit(10L).as("n_queries"),
          when($"hits" >= $"min_hits", 1).otherwise(0).as("floor_ok"),
          when($"prev".isNull || $"hits" >= $"prev", 1).otherwise(0).as("monotone_ok"))
    },
      """SELECT CAST(nprobe AS INTEGER) AS nprobe, CAST(10 AS BIGINT) AS n_queries,
        |       1 AS floor_ok, 1 AS monotone_ok
        |FROM (VALUES (1), (2), (4), (8)) t(nprobe)""".stripMargin)
  )
}
