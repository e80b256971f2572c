package graft
package registry

import org.apache.spark.sql.functions._

import graft.functions.{DamerauLevenshteinExpr, JaroWinklerExpr, RoundPortableExpr}
import graft.ops.Dedup
import graft.ops.TextPrimitives._
import graft.SparkEntry.t

/** Exact, fuzzy and semantic deduplication, and fuzzy record linkage
  * (`dedup_*`, `link_*`). */
object DedupEntries {
  def all: Seq[Entry] = Seq(
    // ---- LLM-pipeline dedup family (SURVEY.md §7.1-9) ----
    Entry("dedup_exact", (s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(t(dir, "documents"))
      Dedup.exact(docs.union(docs.where($"doc_id" < 100)), "text", "doc_id")
    },
      """SELECT md5(text) AS content_hash, min(doc_id) AS doc_id, count(*) AS dup_count
        |FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents WHERE doc_id < 100)
        |GROUP BY 1""".stripMargin),
    Entry("dedup_jaccard_block", (s, dir) =>
      Dedup.jaccardPairs(s.read.parquet(t(dir, "documents")),
        "doc_id", "text", n = 3, threshold = 0.8, blockCol = Some("source")), {
      val base = s"SELECT doc_id, source, ${shinglesSql("ws", 3)} AS sh " +
        s"FROM (SELECT doc_id, source, ${wordsSql("text")} AS ws FROM documents)"
      s"""WITH base AS ($base)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       round(${jaccardSql("a.sh", "b.sh")}, 4) AS jaccard
         |FROM base a JOIN base b ON a.source = b.source AND a.doc_id < b.doc_id
         |WHERE round(${jaccardSql("a.sh", "b.sh")}, 4) >= 0.8""".stripMargin
    }),
    // ---- EXACT threshold-Jaccard self-join via prefix filtering — the
    // third point in the set-similarity design space: jaccard_block is
    // exact WITHIN blocks (misses cross-block pairs), minhash_lsh is
    // global but probabilistic (misses banding-unlucky pairs), this is
    // global AND exact, with the candidate join restricted to each
    // set's rarest-first prefix so boilerplate shingles never drive
    // the join volume. Threshold 0.6 (vs the 0.8 family) deliberately
    // surfaces pairs the LSH banding config was not tuned for. Oracle
    // = the naive shared-shingle exact join, a DIFFERENT algorithm —
    // the hash match is the no-missed-pairs proof. ----
    Entry("dedup_prefix_filter", (s, dir) =>
      Dedup.prefixFilterPairs(s.read.parquet(t(dir, "documents")),
        "doc_id", "text", n = 3, threshold = 0.6),
      s"""WITH base AS (
         |  SELECT doc_id, ${shinglesSql("ws", 3)} AS sh
         |  FROM (SELECT doc_id, ${wordsSql("text")} AS ws FROM documents)
         |), ex AS (
         |  SELECT doc_id, len(sh) AS sz, unnest(sh) AS s FROM base WHERE len(sh) > 0
         |), pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter,
         |         any_value(a.sz) AS sa, any_value(b.sz) AS sb
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT id_a, id_b, round(inter::DOUBLE / (sa + sb - inter), 4) AS jaccard
         |FROM pairs WHERE round(inter::DOUBLE / (sa + sb - inter), 4) >= 0.6""".stripMargin),
    // ---- banded MinHash near-dup pairs, production default: the
    // hot-bucket skew guard (Dedup.DefaultMaxBucket = 100) is ON —
    // a (band, key) bucket of b docs emits b² candidates on one
    // reducer, and the uncapped 100× run needed a 48 GiB heap where
    // the guarded plan runs in the default 8 GiB (BENCHNOTES r5).
    // The cap does not bite on realistic fixtures (max bucket 3 at
    // sf0.01); dedup_minhash_capped (cap=2) pins the exclusion
    // semantics, dedup_minhash_exact is the uncapped baseline. ----
    Entry("dedup_minhash_lsh", (s, dir) =>
      Dedup.minhashLshPairs(s.read.parquet(t(dir, "documents")),
        "doc_id", "text", n = 3, bands = 8, rowsPerBand = 2, threshold = 0.8),
      s"""WITH base AS (
         |  SELECT doc_id, ${shinglesSql("ws", 3)} AS sh
         |  FROM (SELECT doc_id, ${wordsSql("text")} AS ws FROM documents)
         |), sig AS (
         |  SELECT doc_id, sh, ${bandKeysSql(minhashSigSql("sh", 16), 8, 2)} AS bk FROM base
         |  WHERE len(sh) > 0
         |), bands_all AS (
         |  SELECT doc_id, t.j AS band, bk[t.j + 1] AS key FROM sig, range(8) t(j)
         |), bands AS (
         |  SELECT doc_id, band, key FROM (
         |    SELECT doc_id, band, key, count(*) OVER (PARTITION BY band, key) AS bsz
         |    FROM bands_all)
         |  WHERE bsz <= 100
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
         |)
         |SELECT c.id_a, c.id_b, round(${jaccardSql("sa.sh", "sb.sh")}, 4) AS jaccard
         |FROM cand c JOIN sig sa ON sa.doc_id = c.id_a JOIN sig sb ON sb.doc_id = c.id_b
         |WHERE round(${jaccardSql("sa.sh", "sb.sh")}, 4) >= 0.8""".stripMargin),
    // ---- EXPLICIT EXACT BASELINE (uncapped banded semantics): every
    // bucket joins regardless of size, so one degenerate boilerplate
    // key goes quadratic on a single reducer. Envelope (measured,
    // BENCHNOTES r5): needs ~48 GiB heap at 100× sf0.1 where the
    // capped default runs in 8 GiB. Keep for exactness audits at
    // small/medium scale; the default-named query is the one to ship.
    Entry("dedup_minhash_exact", (s, dir) =>
      Dedup.minhashLshPairs(s.read.parquet(t(dir, "documents")),
        "doc_id", "text", n = 3, bands = 8, rowsPerBand = 2, threshold = 0.8,
        maxBucket = Int.MaxValue),
      s"""WITH base AS (
         |  SELECT doc_id, ${shinglesSql("ws", 3)} AS sh
         |  FROM (SELECT doc_id, ${wordsSql("text")} AS ws FROM documents)
         |), sig AS (
         |  SELECT doc_id, sh, ${bandKeysSql(minhashSigSql("sh", 16), 8, 2)} AS bk FROM base
         |  WHERE len(sh) > 0
         |), bands AS (
         |  SELECT doc_id, t.j AS band, bk[t.j + 1] AS key FROM sig, range(8) t(j)
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
         |)
         |SELECT c.id_a, c.id_b, round(${jaccardSql("sa.sh", "sb.sh")}, 4) AS jaccard
         |FROM cand c JOIN sig sa ON sa.doc_id = c.id_a JOIN sig sb ON sb.doc_id = c.id_b
         |WHERE round(${jaccardSql("sa.sh", "sb.sh")}, 4) >= 0.8""".stripMargin),
    // ---- incremental dedup maintenance: pairs touching the new 10%
    // batch only (batch×corpus + batch×batch), never re-enumerating
    // corpus×corpus — the per-ingest cost shape that keeps minhash
    // dedup viable on a continuously-growing 100 TB corpus. ----
    Entry("dedup_incremental", (s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(t(dir, "documents"))
      Dedup.minhashIncrementalPairs(
        docs.where($"doc_id" % 10 =!= 0), docs.where($"doc_id" % 10 === 0),
        "doc_id", "text", n = 3, bands = 8, rowsPerBand = 2, threshold = 0.8)
    },
      s"""WITH base AS (
         |  SELECT doc_id, ${shinglesSql("ws", 3)} AS sh
         |  FROM (SELECT doc_id, ${wordsSql("text")} AS ws FROM documents)
         |), sig AS (
         |  SELECT doc_id, sh, ${bandKeysSql(minhashSigSql("sh", 16), 8, 2)} AS bk FROM base
         |  WHERE len(sh) > 0
         |), eb AS (
         |  SELECT doc_id, t.j AS band, bk[t.j + 1] AS key FROM sig, range(8) t(j)
         |  WHERE doc_id % 10 <> 0
         |), bb AS (
         |  SELECT doc_id, t.j AS band, bk[t.j + 1] AS key FROM sig, range(8) t(j)
         |  WHERE doc_id % 10 = 0
         |), cand AS (
         |  SELECT DISTINCT y.doc_id AS id_a, x.doc_id AS id_b, 'corpus' AS pair_src
         |  FROM bb x JOIN eb y ON x.band = y.band AND x.key = y.key
         |  UNION
         |  SELECT DISTINCT x.doc_id, y.doc_id, 'batch'
         |  FROM bb x JOIN bb y ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
         |)
         |SELECT c.id_a, c.id_b, round(${jaccardSql("sa.sh", "sb.sh")}, 4) AS jaccard, c.pair_src
         |FROM cand c JOIN sig sa ON sa.doc_id = c.id_a JOIN sig sb ON sb.doc_id = c.id_b
         |WHERE round(${jaccardSql("sa.sh", "sb.sh")}, 4) >= 0.8""".stripMargin),
    // ---- split-leakage audit: near-dup pairs that CROSS the hash
    // train/test split — the contamination dedup-after-split creates
    // (Lee et al. 2022 §6.2: near-dup test docs with a train twin
    // inflate eval). Shares the banded pair pipeline (and its shuffle
    // bounds); the split is the same salted-hash rule as
    // text_train_split, so the audit composes with the real splitter.
    // One summary row: pairs, crossing pairs, distinct contaminated
    // test docs. ----
    Entry("dedup_split_leakage", (s, dir) => {
      import s.implicits._
      def splitOf(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = when(pmod(
        conv(substring(md5(concat(lit("split:"), c.cast("string"))), 1, 15), 16, 10)
          .cast("long"), lit(100)) < 80, "train").otherwise("test")
      Dedup.minhashLshPairs(s.read.parquet(t(dir, "documents")),
          "doc_id", "text", n = 3, bands = 8, rowsPerBand = 2, threshold = 0.8)
        .select($"id_a", $"id_b", splitOf($"id_a").as("sa"), splitOf($"id_b").as("sb"))
        .agg(count(lit(1)).as("n_pairs"),
          coalesce(sum(when($"sa" =!= $"sb", 1L).otherwise(0L)), lit(0L)).as("n_leaking"),
          countDistinct(when($"sa" === "test" && $"sb" === "train", $"id_a")
            .when($"sb" === "test" && $"sa" === "train", $"id_b"))
            .as("n_test_contaminated"))
    },
      s"""WITH base AS (
         |  SELECT doc_id, ${shinglesSql("ws", 3)} AS sh
         |  FROM (SELECT doc_id, ${wordsSql("text")} AS ws FROM documents)
         |), sig AS (
         |  SELECT doc_id, sh, ${bandKeysSql(minhashSigSql("sh", 16), 8, 2)} AS bk FROM base
         |  WHERE len(sh) > 0
         |), bands_all AS (
         |  SELECT doc_id, t.j AS band, bk[t.j + 1] AS key FROM sig, range(8) t(j)
         |), bands AS (
         |  SELECT doc_id, band, key FROM (
         |    SELECT doc_id, band, key, count(*) OVER (PARTITION BY band, key) AS bsz
         |    FROM bands_all)
         |  WHERE bsz <= 100
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
         |), pairs AS (
         |  SELECT c.id_a, c.id_b
         |  FROM cand c JOIN sig sa ON sa.doc_id = c.id_a JOIN sig sb ON sb.doc_id = c.id_b
         |  WHERE round(${jaccardSql("sa.sh", "sb.sh")}, 4) >= 0.8
         |), sp AS (
         |  SELECT id_a, id_b,
         |    CASE WHEN ${hexLongSql("'split:' || CAST(id_a AS VARCHAR)")} % 100 < 80
         |         THEN 'train' ELSE 'test' END AS sa,
         |    CASE WHEN ${hexLongSql("'split:' || CAST(id_b AS VARCHAR)")} % 100 < 80
         |         THEN 'train' ELSE 'test' END AS sb
         |  FROM pairs)
         |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST(coalesce(sum(CASE WHEN sa <> sb THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_leaking,
         |       CAST(count(DISTINCT CASE WHEN sa = 'test' AND sb = 'train' THEN id_a
         |                                WHEN sb = 'test' AND sa = 'train' THEN id_b END)
         |            AS BIGINT) AS n_test_contaminated
         |FROM sp""".stripMargin),
    // ---- the same pipeline under the hot-bucket skew guard: buckets
    // over maxBucket docs are excluded from candidate generation, which
    // bounds per-reducer join work at maxBucket² regardless of corpus
    // skew (ONE degenerate boilerplate key would otherwise go quadratic
    // on a single reducer at 100 TB). Cap 2 deliberately fires on the
    // fixture (its largest bucket holds 3 docs) so the engines must
    // agree on the exclusion, not just on the happy path. ----
    Entry("dedup_minhash_capped", (s, dir) =>
      Dedup.minhashLshPairs(s.read.parquet(t(dir, "documents")),
        "doc_id", "text", n = 3, bands = 8, rowsPerBand = 2, threshold = 0.8,
        maxBucket = 2),
      s"""WITH base AS (
         |  SELECT doc_id, ${shinglesSql("ws", 3)} AS sh
         |  FROM (SELECT doc_id, ${wordsSql("text")} AS ws FROM documents)
         |), sig AS (
         |  SELECT doc_id, sh, ${bandKeysSql(minhashSigSql("sh", 16), 8, 2)} AS bk FROM base
         |  WHERE len(sh) > 0
         |), bands_all AS (
         |  SELECT doc_id, t.j AS band, bk[t.j + 1] AS key FROM sig, range(8) t(j)
         |), bands AS (
         |  SELECT doc_id, band, key FROM (
         |    SELECT doc_id, band, key, count(*) OVER (PARTITION BY band, key) AS bsz
         |    FROM bands_all)
         |  WHERE bsz <= 2
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
         |)
         |SELECT c.id_a, c.id_b, round(${jaccardSql("sa.sh", "sb.sh")}, 4) AS jaccard
         |FROM cand c JOIN sig sa ON sa.doc_id = c.id_a JOIN sig sb ON sb.doc_id = c.id_b
         |WHERE round(${jaccardSql("sa.sh", "sb.sh")}, 4) >= 0.8""".stripMargin),
    Entry("dedup_simhash", (s, dir) => {
      import s.implicits._
      Dedup.simhashes(s.read.parquet(t(dir, "documents")).where($"doc_id" < 200),
        "doc_id", "text")
    },
      s"""SELECT doc_id, ${simhashSql("hw")} AS simhash
         |FROM (SELECT doc_id, list_transform(${wordsSql("text")}, w -> ${hexLongSql("w")}) AS hw
         |      FROM documents WHERE doc_id < 200)""".stripMargin),
    Entry("dedup_simhash_pairs", (s, dir) =>
      Dedup.simhashPairs(s.read.parquet(t(dir, "documents")), "doc_id", "text", maxHamming = 3),
      s"""WITH s AS (
         |  SELECT doc_id, ${simhashSql("hw")} AS simhash
         |  FROM (SELECT doc_id, list_transform(${wordsSql("text")}, w -> ${hexLongSql("w")}) AS hw
         |        FROM documents)
         |)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       bit_count(xor(a.simhash, b.simhash)) AS hamming
         |FROM s a JOIN s b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin),
    Entry("dedup_embed_cosine", (s, dir) =>
      Dedup.embeddingNearDups(s.read.parquet(t(dir, "embeddings")),
        "vec_id", "embedding", threshold = 0.7, blockCol = Some("label")),
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |       round(1 - list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                                        CAST(b.embedding AS DOUBLE[])), 4) AS distance
        |FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE round(1 - list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                                       CAST(b.embedding AS DOUBLE[])), 4) <= 0.7""".stripMargin),
    // ---- SemDeDup (Abbas et al. 2023): cluster-then-prune semantic
    // dedup. Centroids here are the deterministic min-id seeds so the
    // DuckDB twin can reproduce the assignment; the op takes ANY small
    // (cluster, centroid) table — the fitted-KMeans path is spec'd in
    // SemanticDedupSpec. Broadcast centroids + one linear window for
    // argmin assignment; pair pruning never leaves its cluster. ----
    Entry("dedup_semantic", (s, dir) => {
      val emb = s.read.parquet(t(dir, "embeddings"))
      Dedup.semanticDedup(emb, "vec_id", "embedding",
        Dedup.seedCentroids(emb, "vec_id", "embedding", k = 8),
        pairThreshold = 0.7)
    },
      """WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |seeds AS (SELECT vec_id AS cluster, e AS ce FROM emb ORDER BY vec_id LIMIT 8),
        |scored AS (
        |  SELECT vec_id, e, cluster,
        |         round(1 - list_cosine_similarity(e, ce), 6) AS cdist,
        |         row_number() OVER (PARTITION BY vec_id
        |             ORDER BY round(1 - list_cosine_similarity(e, ce), 6), cluster) AS rn
        |  FROM emb CROSS JOIN seeds),
        |asn AS (SELECT vec_id, e, cluster, cdist FROM scored WHERE rn = 1),
        |dropped AS (
        |  SELECT DISTINCT a.cluster, a.vec_id
        |  FROM asn a JOIN asn b ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
        |  WHERE round(1 - list_cosine_similarity(a.e, b.e), 4) <= 0.7
        |    AND (b.cdist > a.cdist OR (b.cdist = a.cdist AND b.vec_id < a.vec_id)))
        |SELECT asn.cluster, count(*) AS n_members,
        |       count(d.vec_id) AS n_dropped,
        |       round(avg(asn.cdist), 4) AS mean_cdist
        |FROM asn LEFT JOIN dropped d
        |  ON asn.cluster = d.cluster AND asn.vec_id = d.vec_id
        |GROUP BY asn.cluster""".stripMargin),
    // ---- cross-shard near-dup (continual pretraining): flag incoming
    // docs (20% modulo split) that near-duplicate the existing corpus.
    // The banded bucket join is existing × incoming ONLY — appending a
    // shard never re-pairs the existing corpus against itself. ----
    Entry("dedup_cross_shard", (s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(t(dir, "documents"))
      Dedup.crossShardNearDups(
        docs.where(pmod($"doc_id", lit(5)) =!= 4),
        docs.where(pmod($"doc_id", lit(5)) === 4),
        "doc_id", "text", n = 3, bands = 8, rowsPerBand = 2, threshold = 0.8)
    },
      s"""WITH base AS (
         |  SELECT doc_id, ${shinglesSql("ws", 3)} AS sh
         |  FROM (SELECT doc_id, ${wordsSql("text")} AS ws FROM documents)
         |), sig AS (
         |  SELECT doc_id, sh, ${bandKeysSql(minhashSigSql("sh", 16), 8, 2)} AS bk FROM base
         |  WHERE len(sh) > 0
         |), bands AS (
         |  SELECT doc_id, t.j AS band, bk[t.j + 1] AS key FROM sig, range(8) t(j)
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS id_ex, b.doc_id AS id_new
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
         |  WHERE a.doc_id % 5 <> 4 AND b.doc_id % 5 = 4
         |)
         |SELECT c.id_new, count(*) AS n_matches,
         |       max(round(${jaccardSql("sa.sh", "sb.sh")}, 4)) AS best_jaccard
         |FROM cand c JOIN sig sa ON sa.doc_id = c.id_ex JOIN sig sb ON sb.doc_id = c.id_new
         |WHERE round(${jaccardSql("sa.sh", "sb.sh")}, 4) >= 0.8
         |GROUP BY 1""".stripMargin),
    // ---- exact duplicated-substring spans (Lee et al. 2022): verbatim
    // token runs shared across ≥2 docs, merged into maximal per-doc
    // intervals — the span-level leak/boilerplate signal whole-doc
    // minhash misses. Windowed-hash analogue of the suffix-array method
    // (exact for runs ≥ w+stride−1 tokens); one window-hash explode +
    // one hash-keyed agg, interval merge partitioned per doc. ----
    Entry("dedup_substring", (s, dir) => {
      import s.implicits._
      Dedup.duplicatedSpans(s.read.parquet(t(dir, "documents")), "doc_id", "text",
          w = 20, stride = 10)
        .orderBy($"doc_id".asc)
    },
      s"""WITH toks AS (SELECT doc_id, ${wordsSql("text")} AS ws FROM documents),
         |offs AS (SELECT doc_id, ws, unnest(range(0, len(ws) - 20 + 1, 10)) AS off
         |         FROM toks WHERE len(ws) >= 20),
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
         |agg AS (SELECT doc_id, span_id, max(off) + 20 - min(off) AS span_len
         |        FROM spans GROUP BY 1, 2)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_spans,
         |       CAST(sum(span_len) AS BIGINT) AS dup_tokens
         |FROM agg GROUP BY 1 ORDER BY doc_id""".stripMargin),
    // ---- near-dup pairs → duplicate GROUPS: connected components by
    // large-star/small-star contraction over the pair edges (Kiveris et
    // al. — O(log² n) rounds worst-case, two groupBy+join shuffles per
    // round, never all-pairs). The canonical representative (min
    // doc_id) makes keep-one-per-cluster a groupBy. The labeled table
    // is materialized ONCE per (session, dir) and shared with
    // dedup_keep_one — at scale, components are a pipeline stage, not
    // a per-query recompute. Oracle: recursive-CTE transitive closure. ----
    Entry("dedup_components", (s, dir) => {
      import s.implicits._
      SparkEntry.documentComponents(s, dir)
        .groupBy($"component").agg(count(lit(1)).as("n_docs"))
        .where($"n_docs" > 1)
    },
      s"""WITH RECURSIVE s AS (
         |  SELECT doc_id, ${simhashSql("hw")} AS simhash
         |  FROM (SELECT doc_id, list_transform(${wordsSql("text")}, w -> ${hexLongSql("w")}) AS hw
         |        FROM documents)
         |), pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM s a JOIN s b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |), edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs
         |), reach AS (
         |  SELECT src AS id, dst AS r FROM edges
         |  UNION
         |  SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src
         |), comp AS (
         |  SELECT id, least(id, min(r)) AS component FROM reach GROUP BY id
         |)
         |SELECT component, count(*) AS n_docs FROM comp
         |GROUP BY 1 HAVING count(*) > 1""".stripMargin),
    // ---- dedup threshold-sensitivity census: decile histogram of
    // exact shingle-Jaccard over the blocked candidate pairs — the
    // audit that sizes a dedup threshold before committing the merge.
    // Same (block, shingle) equi-join shape as dedup_jaccard_block. ----
    Entry("dedup_threshold_sweep", (s, dir) =>
      Dedup.jaccardHistogram(s.read.parquet(t(dir, "documents")),
        "doc_id", "text", n = 3, blockCol = Some("source")), {
      val base = s"SELECT doc_id, source, ${shinglesSql("ws", 3)} AS sh " +
        s"FROM (SELECT doc_id, source, ${wordsSql("text")} AS ws FROM documents)"
      s"""WITH base AS ($base),
         |p AS (
         |  SELECT round(${jaccardSql("a.sh", "b.sh")}, 4) AS jaccard
         |  FROM base a JOIN base b ON a.source = b.source AND a.doc_id < b.doc_id
         |  WHERE round(${jaccardSql("a.sh", "b.sh")}, 4) >= 0.0001)
         |SELECT CAST(floor(least(jaccard, 0.9999) * 10) AS INTEGER) AS decile,
         |       count(*) AS n_pairs
         |FROM p GROUP BY 1""".stripMargin
    }),
    // ---- RefinedWeb-style boilerplate line removal (Penedo et al. 2023
    // §3.3): lines appearing in > 3% of documents are chrome/banners —
    // dropped from every doc. One df-count shuffle with map-side
    // combine; the frequent set is small by construction and broadcasts
    // back. Relative threshold (integer compare) so the operator is
    // scale-invariant. ----
    Entry("dedup_lines", (s, dir) =>
      ops.LineCuration.boilerplateLineDedup(s.read.parquet(t(dir, "documents")),
        "doc_id", "text", lw = 2, pctDocs = 3),
      s"""WITH w AS (SELECT doc_id, ${wordsSql("text")} AS ws FROM documents),
         |l AS (SELECT doc_id, CAST(t.i AS INTEGER) AS pos,
         |             array_to_string(ws[CAST(t.i * 2 + 1 AS INTEGER):CAST(t.i * 2 + 2 AS INTEGER)], ' ') AS line
         |      FROM w, unnest(range(CAST(ceil(len(ws) / 2.0) AS BIGINT))) t(i)),
         |tot AS (SELECT count(*) AS n_docs FROM documents),
         |f AS (SELECT line FROM l GROUP BY line
         |      HAVING count(DISTINCT doc_id) * 100 > (SELECT n_docs FROM tot) * 3)
         |SELECT l.doc_id, CAST(count(*) AS INTEGER) AS n_lines,
         |       CAST(sum(CASE WHEN f.line IS NULL THEN 1 ELSE 0 END) AS INTEGER) AS n_kept,
         |       md5(coalesce(string_agg(CASE WHEN f.line IS NULL THEN l.line END,
         |                               chr(10) ORDER BY l.pos), '')) AS kept_md5
         |FROM l LEFT JOIN f ON l.line = f.line
         |GROUP BY l.doc_id""".stripMargin),
    // ---- keep-one-per-duplicate-cluster: the terminal dedup stage —
    // consumes the SAME materialized components table as
    // dedup_components (one simhash+CC computation per source dir, not
    // two) and drops every non-representative. The pruned corpus keeps
    // exactly one doc (min id) per near-dup cluster plus all
    // singletons. ----
    Entry("dedup_keep_one", (s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(t(dir, "documents"))
      val comps = SparkEntry.documentComponents(s, dir)
      docs.join(comps, docs("doc_id") === comps("id"))
        .where($"doc_id" === $"component") // representative = min id
        .agg(count(lit(1)).as("n_kept"), sum($"doc_id").as("id_sum"))
    },
      s"""WITH RECURSIVE s AS (
         |  SELECT doc_id, ${simhashSql("hw")} AS simhash
         |  FROM (SELECT doc_id, list_transform(${wordsSql("text")}, w -> ${hexLongSql("w")}) AS hw
         |        FROM documents)
         |), pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM s a JOIN s b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |), edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs
         |), reach AS (
         |  SELECT src AS id, dst AS r FROM edges
         |  UNION
         |  SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src
         |), comp AS (
         |  SELECT id, least(id, min(r)) AS component FROM reach GROUP BY id
         |), labeled AS (
         |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
         |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
         |)
         |SELECT count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_sum
         |FROM labeled WHERE doc_id = component""".stripMargin),
    // ---- blocked fuzzy entity resolution: candidate pairs from an
    // equi-join on (nation, mid-digit block) — never all-pairs — then
    // an edit-distance ≤ 1 verifier inside the block. The standard
    // record-linkage shape: blocking bounds per-reducer work (skew cap
    // as in dedup_minhash_capped applies if a block runs hot); the
    // verifier only ever sees candidate pairs. ----
    Entry("link_fuzzy_blocked", (s, dir) => {
      import s.implicits._
      val b = s.read.parquet(t(dir, "customer"))
        .select($"c_custkey", $"c_nationkey", $"c_name",
          substring($"c_name", 13, 3).as("blk"))
      b.alias("a").join(b.alias("bb"),
          $"a.c_nationkey" === $"bb.c_nationkey" && $"a.blk" === $"bb.blk" &&
            $"a.c_custkey" < $"bb.c_custkey")
        .select($"a.c_custkey".as("id_a"), $"bb.c_custkey".as("id_b"),
          levenshtein($"a.c_name", $"bb.c_name").as("dist"))
        .where($"dist" <= 1)
    },
      """WITH b AS (SELECT c_custkey, c_nationkey, c_name, substr(c_name, 13, 3) AS blk
        |           FROM customer)
        |SELECT a.c_custkey AS id_a, bb.c_custkey AS id_b,
        |       CAST(levenshtein(a.c_name, bb.c_name) AS INT) AS dist
        |FROM b a JOIN b bb ON a.c_nationkey = bb.c_nationkey AND a.blk = bb.blk
        |                  AND a.c_custkey < bb.c_custkey
        |WHERE levenshtein(a.c_name, bb.c_name) <= 1""".stripMargin),
    // ---- fuzzy ER under the hot-block guard — the
    // dedup_minhash_capped family applied to the ER verifier: a block
    // of b records emits b² levenshtein candidates on one reducer, and
    // block size tracks data skew, not match likelihood (the 10×
    // stress measured 9.09× wall on the uncapped verifier,
    // BENCHNOTES r5 — in-block pairs, not the corpus, dominate).
    // Blocks over maxBlock=40 records are excluded wholesale, bounding
    // per-reducer work at 40² regardless of skew; an over-full block
    // signals the BLOCKING KEY is too coarse there (fix the key — at
    // production scale add a second blocking pass for the excluded
    // stratum). The cap deliberately BITES on the fixture (blocks run
    // 14-54 records at sf0.01) so both engines must agree on the
    // exclusion, not just the happy path. The size count windows on
    // the SAME (nation, blk) key the self-join shuffles on — no extra
    // shuffle key. ----
    Entry("link_fuzzy_capped", (s, dir) => {
      import s.implicits._
      val b = s.read.parquet(t(dir, "customer"))
        .select($"c_custkey", $"c_nationkey", $"c_name",
          substring($"c_name", 13, 3).as("blk"))
        .withColumn("__bsz", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy($"c_nationkey", $"blk")))
        .where($"__bsz" <= 40).drop("__bsz")
      b.alias("a").join(b.alias("bb"),
          $"a.c_nationkey" === $"bb.c_nationkey" && $"a.blk" === $"bb.blk" &&
            $"a.c_custkey" < $"bb.c_custkey")
        .select($"a.c_custkey".as("id_a"), $"bb.c_custkey".as("id_b"),
          levenshtein($"a.c_name", $"bb.c_name").as("dist"))
        .where($"dist" <= 1)
    },
      """WITH b0 AS (SELECT c_custkey, c_nationkey, c_name, substr(c_name, 13, 3) AS blk
        |            FROM customer),
        |b AS (SELECT c_custkey, c_nationkey, c_name, blk FROM (
        |        SELECT *, count(*) OVER (PARTITION BY c_nationkey, blk) AS bsz FROM b0)
        |      WHERE bsz <= 40)
        |SELECT a.c_custkey AS id_a, bb.c_custkey AS id_b,
        |       CAST(levenshtein(a.c_name, bb.c_name) AS INT) AS dist
        |FROM b a JOIN b bb ON a.c_nationkey = bb.c_nationkey AND a.blk = bb.blk
        |                  AND a.c_custkey < bb.c_custkey
        |WHERE levenshtein(a.c_name, bb.c_name) <= 1""".stripMargin),
    // ---- richer fuzzy scoring over the same capped blocking: full
    // Damerau-Levenshtein (Lowrance-Wagner 1975 — adjacent-transposition
    // edits, the dominant real-world typo class plain levenshtein
    // overcounts; bites on 1,961 fixture pairs at sf0.1 where
    // DL < levenshtein) and Jaro-Winkler (Winkler 1990, p=0.1
    // prefix boost) as codegen'd kernel expressions — both run once
    // per candidate inside whole-stage codegen, no UDF boundary. The
    // kernels are pinned byte-for-byte to the DuckDB oracle builtins
    // (see graft.functions.StringKernels), so the rounded jw can never
    // flip at a round-4 boundary. ----
    Entry("link_string_kernels", (s, dir) => {
      import s.implicits._
      val b = s.read.parquet(t(dir, "customer"))
        .select($"c_custkey", $"c_nationkey", $"c_name",
          substring($"c_name", 13, 3).as("blk"))
        .withColumn("__bsz", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy($"c_nationkey", $"blk")))
        .where($"__bsz" <= 40).drop("__bsz")
      b.alias("a").join(b.alias("bb"),
          $"a.c_nationkey" === $"bb.c_nationkey" && $"a.blk" === $"bb.blk" &&
            $"a.c_custkey" < $"bb.c_custkey")
        .select($"a.c_custkey".as("id_a"), $"bb.c_custkey".as("id_b"),
          DamerauLevenshteinExpr.col($"a.c_name", $"bb.c_name").as("dl"),
          RoundPortableExpr.r(
            JaroWinklerExpr.col($"a.c_name", $"bb.c_name"), 4).as("jw"))
        .where($"dl" <= 2)
    },
      """WITH b0 AS (SELECT c_custkey, c_nationkey, c_name, substr(c_name, 13, 3) AS blk
        |            FROM customer),
        |b AS (SELECT c_custkey, c_nationkey, c_name, blk FROM (
        |        SELECT *, count(*) OVER (PARTITION BY c_nationkey, blk) AS bsz FROM b0)
        |      WHERE bsz <= 40)
        |SELECT a.c_custkey AS id_a, bb.c_custkey AS id_b,
        |       CAST(damerau_levenshtein(a.c_name, bb.c_name) AS INT) AS dl,
        |       round(jaro_winkler_similarity(a.c_name, bb.c_name), 4) AS jw
        |FROM b a JOIN b bb ON a.c_nationkey = bb.c_nationkey AND a.blk = bb.blk
        |                  AND a.c_custkey < bb.c_custkey
        |WHERE damerau_levenshtein(a.c_name, bb.c_name) <= 2""".stripMargin),
    // ---- best-match fuzzy linkage: for every record, its single
    // nearest in-block neighbor by Jaro-Winkler (the deterministic
    // top-1 step record-linkage pipelines run between candidate
    // generation and clerical review). Both orientations of the capped
    // block join, one window top-1 per record; ties on the ROUNDED
    // score break by candidate id, so the pick is engine-portable. ----
    Entry("link_best_match", (s, dir) => {
      import s.implicits._
      val b = s.read.parquet(t(dir, "customer"))
        .select($"c_custkey", $"c_nationkey", $"c_name",
          substring($"c_name", 13, 3).as("blk"))
        .withColumn("__bsz", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy($"c_nationkey", $"blk")))
        .where($"__bsz" <= 40).drop("__bsz")
      val pairs = b.alias("a").join(b.alias("bb"),
          $"a.c_nationkey" === $"bb.c_nationkey" && $"a.blk" === $"bb.blk" &&
            $"a.c_custkey" =!= $"bb.c_custkey")
        .select($"a.c_custkey".as("id"), $"bb.c_custkey".as("cand"),
          RoundPortableExpr.r(
            JaroWinklerExpr.col($"a.c_name", $"bb.c_name"), 4).as("jw"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"id").orderBy($"jw".desc, $"cand".asc)
      pairs.withColumn("rk", row_number().over(w))
        .where($"rk" === 1)
        .select($"id", $"cand".as("best_id"), $"jw")
    },
      """WITH b0 AS (SELECT c_custkey, c_nationkey, c_name, substr(c_name, 13, 3) AS blk
        |            FROM customer),
        |b AS (SELECT c_custkey, c_nationkey, c_name, blk FROM (
        |        SELECT *, count(*) OVER (PARTITION BY c_nationkey, blk) AS bsz FROM b0)
        |      WHERE bsz <= 40),
        |pairs AS (
        |  SELECT a.c_custkey AS id, bb.c_custkey AS cand,
        |         round(jaro_winkler_similarity(a.c_name, bb.c_name), 4) AS jw
        |  FROM b a JOIN b bb ON a.c_nationkey = bb.c_nationkey AND a.blk = bb.blk
        |                    AND a.c_custkey <> bb.c_custkey),
        |ranked AS (
        |  SELECT id, cand, jw,
        |         row_number() OVER (PARTITION BY id ORDER BY jw DESC, cand) AS rk
        |  FROM pairs)
        |SELECT id, cand AS best_id, jw FROM ranked WHERE rk = 1""".stripMargin)
  )
}
