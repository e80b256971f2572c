package graft
package registry

import org.apache.spark.sql.functions._

import graft.functions.{RoundPortableExpr, VectorFunctions}
import graft.ops.{Dedup, LexicalSearch, Similarity, TextAnalysis}
import graft.ops.TextPrimitives._
import graft.SparkEntry.{t, searchTerms, mmrSelChainSql}

/** Multi-stage pipelines: curation, entity resolution and retrieval
  * (`pipeline_*`). */
object PipelineEntries {
  def all: Seq[Entry] = Seq(
    // ---- flagship composition: the full training-data prep pipeline
    // in one plan — language filter → exact dedup (min doc_id per
    // content hash) → quality gate → token chunking → deterministic
    // hash split → per-split stats. Every stage is an operator proven
    // above; this proves they compose. ----
    Entry("pipeline_e2e", (s, dir) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(md5($"text")).orderBy($"doc_id".asc)
      val h = conv(substring(md5(concat(lit("split:"), $"doc_id".cast("string"))), 1, 15), 16, 10)
        .cast("long")
      s.read.parquet(t(dir, "documents"))
        .where($"lang" === "en")
        .withColumn("rk", row_number().over(w)).where($"rk" === 1) // exact dedup
        .where($"n_chars".between(150, 1500))                      // quality gate
        .select($"doc_id", ops.TextPrimitives.words($"text").as("ws"))
        .withColumn("off", explode(sequence(lit(0), size($"ws") - 1, lit(40))))
        .select($"doc_id", md5(array_join(slice($"ws", $"off" + 1, lit(50)), " ")).as("chunk_md5"))
        .withColumn("split", when(pmod(h, lit(100)) < 80, "train").otherwise("test"))
        .groupBy($"split")
        .agg(countDistinct($"doc_id").as("n_docs"), count(lit(1)).as("n_chunks"),
          countDistinct($"chunk_md5").as("n_distinct_chunks"))
    },
      """WITH dedup AS (
        |  SELECT doc_id, text FROM (
        |    SELECT doc_id, text, n_chars,
        |           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk
        |    FROM documents WHERE lang = 'en')
        |  WHERE rk = 1 AND n_chars BETWEEN 150 AND 1500
        |), chunks AS (
        |  SELECT doc_id,
        |         md5(array_to_string(ws[t.off + 1 : t.off + 50], ' ')) AS chunk_md5
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS ws FROM dedup),
        |       unnest(range(0, len(ws), 40)) t(off)
        |), tagged AS (
        |  SELECT doc_id, chunk_md5,
        |         CASE WHEN CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |                   % 100 < 80
        |              THEN 'train' ELSE 'test' END AS split
        |  FROM chunks
        |)
        |SELECT split, count(DISTINCT doc_id) AS n_docs, count(*) AS n_chunks,
        |       count(DISTINCT chunk_md5) AS n_distinct_chunks
        |FROM tagged GROUP BY 1""".stripMargin),
    // ---- composed ER pipeline: blocking → hot-block-capped fuzzy
    // verification → connected components → GOLDEN-RECORD
    // consolidation, the full entity-resolution flow every master-data
    // pipeline runs. Pair generation is link_fuzzy_capped's guarded
    // join (per-reducer work ≤ maxBlock²), clustering is the star-
    // contraction components (O(log² n) rounds), and consolidation is
    // one component-keyed aggregate choosing canonical fields
    // (min name, max balance) per entity. Only multi-member entities
    // survive — singletons are already golden. ----
    Entry("pipeline_er", (s, dir) => {
      import s.implicits._
      val cust = s.read.parquet(t(dir, "customer"))
      val b = cust.select($"c_custkey", $"c_nationkey", $"c_name", $"c_acctbal",
          substring($"c_name", 13, 3).as("blk"))
        .withColumn("__bsz", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy($"c_nationkey", $"blk")))
        .where($"__bsz" <= 40).drop("__bsz")
      val pairs = b.alias("a").join(b.alias("bb"),
          $"a.c_nationkey" === $"bb.c_nationkey" && $"a.blk" === $"bb.blk" &&
            $"a.c_custkey" < $"bb.c_custkey")
        .where(levenshtein($"a.c_name", $"bb.c_name") <= 1)
        .select($"a.c_custkey".as("src"), $"bb.c_custkey".as("dst"))
      val comp = ops.Components.connectedComponents(
        cust.select($"c_custkey".as("id")), pairs)
      comp.join(cust, comp("id") === cust("c_custkey"))
        .groupBy($"component")
        .agg(count(lit(1)).as("n_members"),
          min($"c_name").as("canonical_name"),
          RoundPortableExpr.r(max($"c_acctbal"), 2).as("max_acctbal"))
        .where($"n_members" > 1)
        .select($"component".as("entity_id"), $"n_members",
          $"canonical_name", $"max_acctbal")
    },
      """WITH RECURSIVE cap AS (
        |  SELECT * FROM (
        |    SELECT c_custkey, c_nationkey, c_name, c_acctbal,
        |           substr(c_name, 13, 3) AS blk,
        |           count(*) OVER (PARTITION BY c_nationkey, substr(c_name, 13, 3)) AS bsz
        |    FROM customer)
        |  WHERE bsz <= 40),
        |pairs AS (
        |  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
        |  FROM cap a JOIN cap b
        |    ON a.c_nationkey = b.c_nationkey AND a.blk = b.blk
        |   AND a.c_custkey < b.c_custkey
        |  WHERE levenshtein(a.c_name, b.c_name) <= 1),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT src AS id, dst AS r FROM edges
        |  UNION
        |  SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src),
        |comp AS (SELECT id, least(id, min(r)) AS component FROM reach GROUP BY id)
        |SELECT comp.component AS entity_id, CAST(count(*) AS BIGINT) AS n_members,
        |       min(c_name) AS canonical_name, round(max(c_acctbal), 2) AS max_acctbal
        |FROM comp JOIN customer ON comp.id = customer.c_custkey
        |GROUP BY 1 HAVING count(*) > 1""".stripMargin),
    // ---- INCREMENTAL entity resolution — pipeline_er's per-batch
    // maintenance shape, the stream_cdc_apply proof pattern: a 10%
    // batch (custkey % 10 == 0) arrives against a 90% resolved base,
    // and the update only (a) re-verifies blocks the batch TOUCHES
    // (batch × block-members candidate pairs — base×base pairs are
    // prior state, never re-enumerated) and (b) re-clusters the
    // CONTRACTED graph: new edges mapped through the base component
    // labels plus the batch ids, a graph of touched components — not
    // the full edge set. Star-contraction labels are component-min
    // ids, so min-over-merged-labels IS the global min id and the
    // incremental labels coincide with a full re-run's; the oracle is
    // exactly pipeline_er's full-recompute SQL, so the hash match IS
    // the incremental==full proof. Block-size caps are maintained as
    // running counts: the cap uses post-batch sizes, i.e. a block the
    // batch pushes over 40 has its prior pairs retracted (base pairs
    // built under the final cap — the retracted state).
    // At 100 TB the per-batch cost is batch × touched-block members +
    // CC on the touched-component subgraph, not corpus × corpus. ----
    Entry("pipeline_er_incremental", (s, dir) => {
      import s.implicits._
      // PRODUCTION SHAPE: prior state (base pairs + components over
      // the 90% base) lives in parquet — built once per (session,
      // dir); this query is exactly the per-batch maintenance step,
      // READING that state (SparkEntry.erStep) and merging the 10%
      // batch (custkey % 10 == 0)
      val capped = graft.core.PlanCache.persist(SparkEntry.erCapped(s, dir))
      val batch = capped.where(pmod($"c_custkey", lit(10)) === 0)
      val (_, comp) = SparkEntry.erStep(s, capped, batch,
        SparkEntry.erBaseState(s, dir))
      SparkEntry.erSummary(s, dir, comp)
    },
      // the incremental==full proof: the oracle is the FULL recompute
      // (pipeline_er's SQL verbatim) while the Spark side runs the
      // batch-delta maintenance — the hash match is the equivalence.
      """WITH RECURSIVE cap AS (
        |  SELECT * FROM (
        |    SELECT c_custkey, c_nationkey, c_name, c_acctbal,
        |           substr(c_name, 13, 3) AS blk,
        |           count(*) OVER (PARTITION BY c_nationkey, substr(c_name, 13, 3)) AS bsz
        |    FROM customer)
        |  WHERE bsz <= 40),
        |pairs AS (
        |  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
        |  FROM cap a JOIN cap b
        |    ON a.c_nationkey = b.c_nationkey AND a.blk = b.blk
        |   AND a.c_custkey < b.c_custkey
        |  WHERE levenshtein(a.c_name, b.c_name) <= 1),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT src AS id, dst AS r FROM edges
        |  UNION
        |  SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src),
        |comp AS (SELECT id, least(id, min(r)) AS component FROM reach GROUP BY id)
        |SELECT comp.component AS entity_id, CAST(count(*) AS BIGINT) AS n_members,
        |       min(c_name) AS canonical_name, round(max(c_acctbal), 2) AS max_acctbal
        |FROM comp JOIN customer ON comp.id = customer.c_custkey
        |GROUP BY 1 HAVING count(*) > 1""".stripMargin),
    // ---- state ROUND-TRIP proof: batch 2 applied to the RE-READ
    // state-after-batch-1 (both state generations persisted to and
    // read back from parquet) must hash-match the same full-recompute
    // oracle — i.e., N maintenance steps through durable state ==
    // one full run. Base = custkey%10 ∉ {0,5}; batch1 = %10==0
    // (applied inside erTwoBatchState, state written); batch2 = %10==5
    // (applied here, reading that state). ----
    Entry("pipeline_er_incremental2", (s, dir) => {
      import s.implicits._
      val capped = graft.core.PlanCache.persist(SparkEntry.erCapped(s, dir))
      val batch2 = capped.where(pmod($"c_custkey", lit(10)) === 5)
      val (_, comp) = SparkEntry.erStep(s, capped, batch2,
        SparkEntry.erTwoBatchState(s, dir))
      SparkEntry.erSummary(s, dir, comp)
    },
      // identical full-recompute truth: two durable-state maintenance
      // steps must land exactly where one full run does
      """WITH RECURSIVE cap AS (
        |  SELECT * FROM (
        |    SELECT c_custkey, c_nationkey, c_name, c_acctbal,
        |           substr(c_name, 13, 3) AS blk,
        |           count(*) OVER (PARTITION BY c_nationkey, substr(c_name, 13, 3)) AS bsz
        |    FROM customer)
        |  WHERE bsz <= 40),
        |pairs AS (
        |  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
        |  FROM cap a JOIN cap b
        |    ON a.c_nationkey = b.c_nationkey AND a.blk = b.blk
        |   AND a.c_custkey < b.c_custkey
        |  WHERE levenshtein(a.c_name, b.c_name) <= 1),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT src AS id, dst AS r FROM edges
        |  UNION
        |  SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src),
        |comp AS (SELECT id, least(id, min(r)) AS component FROM reach GROUP BY id)
        |SELECT comp.component AS entity_id, CAST(count(*) AS BIGINT) AS n_members,
        |       min(c_name) AS canonical_name, round(max(c_acctbal), 2) AS max_acctbal
        |FROM comp JOIN customer ON comp.id = customer.c_custkey
        |GROUP BY 1 HAVING count(*) > 1""".stripMargin),
    // ---- the RETRIEVAL funnel, composed end-to-end: BM25 and
    // embedding-cosine shortlists → reciprocal-rank fusion → MMR
    // diversity rerank with the FUSED score as relevance (normalized to
    // [0,1] by a one-row max broadcast so the λ trade-off spans both
    // legs, not just the vector one). Integration check that the
    // retrieval operators compose: every stage is shortlist-sized after
    // the two corpus passes (one token explode, one embed pass —
    // persisted, shared by the vec leg and the diversity kernel). ----
    Entry("pipeline_retrieval", (s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(t(dir, "documents"))
      val lexScored = LexicalSearch.bm25(docs, "doc_id", "text", searchTerms)
        .select($"doc_id", RoundPortableExpr.r($"score", 4).as("score"))
      val lex = LexicalSearch.rankedTopK(lexScored, "doc_id",
        Seq(col("score").desc, col("doc_id").asc), 50)
      val embedded = graft.core.PlanCache.persist(graft.embed.EmbedOps.withEmbedding(
        docs.select($"doc_id", $"text"), "text", "hashing")
        .select($"doc_id", $"embedding"))
      val qvec = graft.embed.Embedders.forName("hashing").embed(searchTerms.mkString(" "))
      val vecScored = embedded.select($"doc_id",
        RoundPortableExpr.r(VectorFunctions.cosineDistance($"embedding", typedlit(qvec)), 4)
          .as("distance"))
      val vec = LexicalSearch.rankedTopK(vecScored, "doc_id",
        Seq(col("distance").asc, col("doc_id").asc), 50)
      val fused = LexicalSearch.rrfFuse(lex, vec, "doc_id")
        .select($"doc_id", RoundPortableExpr.r($"rrf", 6).as("rrf"))
      val mx = fused.agg(max($"rrf").as("mx"))
      val scored = fused.crossJoin(broadcast(mx))
        .join(embedded, "doc_id")
        .select($"doc_id", $"embedding",
          RoundPortableExpr.r(lit(1.0) - $"rrf" / $"mx", 6).as("distance"))
      Similarity.mmrRerank(scored, k = 8, lambda = 0.7, shortlist = 20, idCol = "doc_id")
    },
      s"""WITH ${LexicalSearch.bm25Sql(searchTerms)},
         |lex_top AS (SELECT doc_id, round(score, 4) AS score FROM bm25
         |            ORDER BY score DESC, doc_id LIMIT 50),
         |lex AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank_a
         |        FROM lex_top),
         |acc AS (SELECT doc_id, ${hashingEmbedAccSql("text", 64)} AS a FROM documents),
         |e AS MATERIALIZED (SELECT doc_id, ${hashingEmbedNormSql("a")} AS emb FROM acc),
         |qacc AS (SELECT ${hashingEmbedAccSql(s"'${searchTerms.mkString(" ")}'", 64)} AS a),
         |q AS (SELECT ${hashingEmbedNormSql("a")} AS qv FROM qacc),
         |vec_top AS (SELECT e.doc_id,
         |              round(1 - list_cosine_similarity(CAST(e.emb AS DOUBLE[]),
         |                                               CAST(q.qv AS DOUBLE[])), 4) AS distance
         |            FROM e, q ORDER BY distance, doc_id LIMIT 50),
         |vec AS (SELECT doc_id, row_number() OVER (ORDER BY distance, doc_id) AS rank_b
         |        FROM vec_top),
         |fused AS MATERIALIZED (
         |  SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
         |         round(COALESCE(1.0 / (60 + rank_a), 0) + COALESCE(1.0 / (60 + rank_b), 0), 6) AS rrf
         |  FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id),
         |fmax AS (SELECT max(rrf) AS mx FROM fused),
         |short AS MATERIALIZED (
         |  SELECT f.doc_id, e.emb, round(1 - f.rrf / x.mx, 6) AS distance
         |  FROM fused f JOIN e USING (doc_id), fmax x
         |  ORDER BY distance, doc_id LIMIT 20),
         |pairs AS MATERIALIZED (SELECT a.doc_id AS ia, b.doc_id AS ib,
         |            round(1 - list_cosine_similarity(CAST(a.emb AS DOUBLE[]),
         |                                             CAST(b.emb AS DOUBLE[])), 4) AS pdist
         |          FROM short a JOIN short b ON a.doc_id <> b.doc_id),
         |${mmrSelChainSql(8, 0.7)}
         |SELECT doc_id, rank, mmr FROM sel8 ORDER BY rank""".stripMargin),
    // ---- the curation FUNNEL: quality gate → exact dedup → boilerplate
    // span drop → DSIR target selection, COMPOSED sequentially in one
    // plan (each stage filters the previous stage's survivors — span
    // detection and the DSIR models are fit on the filtered corpus, not
    // the raw one, exactly as a production pipeline stages them). Output
    // is the per-stage survivor census. Every stage is one of this
    // engine's audited linear operators; the five counts are independent
    // single-row aggregates cross-joined (broadcast, no cartesian). ----
    Entry("pipeline_curation", (s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(t(dir, "documents")).select($"doc_id", $"source", $"text")
      val quality = graft.core.PlanCache.persist(
        TextAnalysis.gopherQuality(docs, "doc_id", "text")
          .where($"r_words" && $"r_wlen" && $"r_symbol" && $"r_alpha")
          .select($"doc_id", $"source", $"text"))
      val exact = graft.core.PlanCache.persist(
        quality.withColumn("rk", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy(md5($"text")).orderBy($"doc_id")))
          .where($"rk" === 1).select($"doc_id", $"source", $"text"))
      val boiler = Dedup.duplicatedSpans(exact, "doc_id", "text", w = 20, stride = 10)
        .where($"dup_tokens" >= 60).select($"doc_id")
      val clean = graft.core.PlanCache.persist(
        exact.join(boiler, Seq("doc_id"), "left_anti"))
      val sel = TextAnalysis.dsirScores(clean, "doc_id", "text",
        isTarget = $"source" === "src1", buckets = 64, topK = 20)
      docs.agg(count(lit(1)).as("n_total"))
        .crossJoin(quality.agg(count(lit(1)).as("n_quality")))
        .crossJoin(exact.agg(count(lit(1)).as("n_exact")))
        .crossJoin(clean.agg(count(lit(1)).as("n_clean")))
        .crossJoin(sel.agg(count(lit(1)).as("n_selected")))
    },
      s"""WITH base AS (SELECT doc_id, source, text, lower(text) AS lt,
         |                     ${wordsSql("text")} AS ws FROM documents),
         |m AS (
         |  SELECT doc_id, source, text, ws,
         |    len(ws) AS n_words,
         |    round(CAST(list_sum(list_transform(ws, t -> len(t))) AS DOUBLE) / len(ws), 4)
         |      AS mean_word_len,
         |    round(((len(lt) - len(replace(lt, '#', '')))
         |           + (len(lt) - len(replace(lt, '…', '')))
         |           + (len(lt) - len(replace(lt, '...', ''))) // 3)
         |          * 1.0 / len(ws), 4) AS symbol_ratio,
         |    round(CAST(len(list_filter(ws, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE)
         |          / len(ws), 4) AS alpha_frac
         |  FROM base),
         |quality AS (
         |  SELECT doc_id, source, text, ws FROM m
         |  WHERE (n_words BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
         |    AND (symbol_ratio <= 0.1) AND (alpha_frac >= 0.8)),
         |exact AS (
         |  SELECT doc_id, source, ws FROM (
         |    SELECT doc_id, source, ws,
         |           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk
         |    FROM quality) WHERE rk = 1),
         |offs AS (SELECT doc_id, ws, unnest(range(0, len(ws) - 20 + 1, 10)) AS off
         |         FROM exact WHERE len(ws) >= 20),
         |wins AS (SELECT doc_id, off,
         |                md5(array_to_string(list_slice(ws, off + 1, off + 20), ' ')) AS h
         |         FROM offs),
         |dup AS (SELECT h FROM wins GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
         |marked AS (
         |  SELECT doc_id, off,
         |         CASE WHEN max(off + 20) OVER (PARTITION BY doc_id ORDER BY off
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
         |              OR off > max(off + 20) OVER (PARTITION BY doc_id ORDER BY off
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |              THEN 1 ELSE 0 END AS is_new
         |  FROM wins JOIN dup USING (h)),
         |spans AS (
         |  SELECT doc_id, off,
         |         sum(is_new) OVER (PARTITION BY doc_id ORDER BY off) AS span_id
         |  FROM marked),
         |spanagg AS (
         |  SELECT doc_id, sum(sl) AS dup_tokens FROM (
         |    SELECT doc_id, span_id, max(off) + 20 - min(off) AS sl
         |    FROM spans GROUP BY 1, 2) GROUP BY 1),
         |boiler AS (SELECT doc_id FROM spanagg WHERE dup_tokens >= 60),
         |clean AS (
         |  SELECT e.doc_id, e.source, e.ws FROM exact e
         |  LEFT JOIN boiler b USING (doc_id) WHERE b.doc_id IS NULL),
         |bt AS (
         |  SELECT doc_id, source = 'src1' AS t, ${hexLongSql("w")} % 64 AS b
         |  FROM (SELECT doc_id, source, unnest(ws) AS w FROM clean)),
         |db AS (SELECT doc_id, b, count(*) AS n FROM bt GROUP BY 1, 2),
         |src AS (SELECT b, count(*) AS cs FROM bt GROUP BY 1),
         |tgt AS (SELECT b, count(*) AS ct FROM bt WHERE t GROUP BY 1),
         |lw AS (
         |  SELECT src.b,
         |         ln((coalesce(ct, 0) + 1)::DOUBLE / ((SELECT sum(coalesce(ct, 0)) FROM src LEFT JOIN tgt ON src.b = tgt.b) + 64))
         |       - ln((cs + 1)::DOUBLE / ((SELECT sum(cs) FROM src) + 64)) AS lw
         |  FROM src LEFT JOIN tgt ON src.b = tgt.b),
         |sc AS (SELECT doc_id, sum(n * lw) AS s FROM db JOIN lw USING (b) GROUP BY 1),
         |sel AS (SELECT doc_id FROM sc ORDER BY round(s, 6) DESC, doc_id LIMIT 20)
         |SELECT (SELECT count(*) FROM documents) AS n_total,
         |       (SELECT count(*) FROM quality) AS n_quality,
         |       (SELECT count(*) FROM exact) AS n_exact,
         |       (SELECT count(*) FROM clean) AS n_clean,
         |       (SELECT count(*) FROM sel) AS n_selected""".stripMargin)
  )
}
