package graft
package registry

import org.apache.spark.sql.functions._

import graft.functions.{RoundPortableExpr, VectorFunctions}
import graft.ops.{LexicalSearch, Similarity}
import graft.ops.TextPrimitives._
import graft.SparkEntry.{t, searchTerms, mmrSelChainSql}

/** Lexical, hybrid and reranked search, its evaluation metrics, and
  * item recommendation (`search_*`, `rec_*`). */
object SearchEntries {

  /** Exact consecutive phrase for search_phrase (31 fixture docs
    * contain it adjacently; many more contain both words apart —
    * exactly the distinction positional search exists to draw). */
  private val phraseTerms = Seq("vector", "query")

  /** DuckDB twin of [[graft.ops.Similarity.mmrRerank]]: the greedy MMR
    * selection is sequential, so each of the k argmax steps unrolls as
    * one chained CTE pair (candidate scoring vs the picks so far →
    * UNION the winner). λ literals are printed from the SAME doubles the
    * Scala loop multiplies by (1−λ in particular is NOT the decimal 0.3)
    * so both engines compute bit-identical scores before the 6-decimal
    * round. */
  private def mmrOracleSql(k: Int, lambda: Double, shortlist: Int): String = {
    s"""WITH acc AS (SELECT doc_id, ${hashingEmbedAccSql("text", 64)} AS a FROM documents),
       |e AS (SELECT doc_id, ${hashingEmbedNormSql("a")} AS emb FROM acc),
       |qacc AS (SELECT ${hashingEmbedAccSql(s"'${searchTerms.mkString(" ")}'", 64)} AS a),
       |q AS (SELECT ${hashingEmbedNormSql("a")} AS qv FROM qacc),
       |short AS MATERIALIZED (SELECT e.doc_id, e.emb,
       |            round(1 - list_cosine_similarity(CAST(e.emb AS DOUBLE[]),
       |                                             CAST(q.qv AS DOUBLE[])), 4) AS distance
       |          FROM e, q ORDER BY distance, doc_id LIMIT $shortlist),
       |pairs AS MATERIALIZED (SELECT a.doc_id AS ia, b.doc_id AS ib,
       |            round(1 - list_cosine_similarity(CAST(a.emb AS DOUBLE[]),
       |                                             CAST(b.emb AS DOUBLE[])), 4) AS pdist
       |          FROM short a JOIN short b ON a.doc_id <> b.doc_id),
       |${mmrSelChainSql(k, lambda)}
       |SELECT doc_id, rank, mmr FROM sel$k ORDER BY rank""".stripMargin
  }

  def all: Seq[Entry] = Seq(
    // ---- BM25 lexical top-k: the keyword half of hybrid retrieval.
    // Corpus stats broadcast from a one-row agg; non-matching docs are
    // pruned BEFORE the token explode; top-k is TakeOrderedAndProject.
    // Terms chosen for idf spread on the fixture: 'dup' is rare
    // (df≈25/500), 'vector'/'query' are common (df≈385/500). ----
    Entry("search_bm25", (s, dir) => {
      import s.implicits._
      LexicalSearch.bm25(s.read.parquet(t(dir, "documents")), "doc_id", "text", searchTerms)
        .select($"doc_id", RoundPortableExpr.r($"score", 4).as("score"))
        .orderBy($"score".desc, $"doc_id".asc)
        .limit(10)
    },
      s"""WITH ${LexicalSearch.bm25Sql(searchTerms)}
         |SELECT doc_id, round(score, 4) AS score FROM bm25
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin),
    // ---- materialized inverted index (dictionary + bounded posting
    // prefixes): df is a combinable count, the stored prefix is rank-
    // bounded (WindowGroupLimit heaps) — never a full-posting
    // collect_list, which for a stopword term is gigabytes at corpus
    // scale. Top-20 dictionary head by df. ----
    Entry("search_inverted_index", (s, dir) => {
      import s.implicits._
      LexicalSearch.invertedIndex(s.read.parquet(t(dir, "documents")),
        "doc_id", "text", prefixLen = 10)
        .orderBy($"df".desc, $"term".asc).limit(20)
    },
      s"""WITH ${LexicalSearch.invertedIndexSql(10)}
         |SELECT term, df, postings FROM inv
         |ORDER BY df DESC, term LIMIT 20""".stripMargin),
    // ---- positional phrase search: exact consecutive "vector query"
    // occurrences via posting-list adjacency joins — postings pruned to
    // the phrase's terms before any shuffle, each leg O(df(term)).
    // Term-presence retrieval can't express this (see
    // LexicalSearch.phraseSearch). ----
    Entry("search_phrase", (s, dir) => {
      import s.implicits._
      LexicalSearch.phraseSearch(s.read.parquet(t(dir, "documents")),
        "doc_id", "text", phraseTerms)
        .orderBy($"n_hits".desc, $"doc_id".asc).limit(10)
    },
      s"""WITH ${LexicalSearch.phraseSearchSql(phraseTerms)}
         |SELECT doc_id, n_hits FROM ph
         |ORDER BY n_hits DESC, doc_id LIMIT 10""".stripMargin),
    // ---- hybrid search: reciprocal-rank fusion of the BM25 shortlist
    // with the embedding-cosine shortlist (the retrieval mode production
    // vector stores pair with ANN; the reference is vector-only). Both
    // legs are k-row shortlists before ranking, so the fusion join is a
    // constant-size broadcast no matter the corpus size. ----
    Entry("search_hybrid_rrf", (s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(t(dir, "documents"))
      val lexScored = LexicalSearch.bm25(docs, "doc_id", "text", searchTerms)
        .select($"doc_id", RoundPortableExpr.r($"score", 4).as("score"))
      val lex = LexicalSearch.rankedTopK(lexScored, "doc_id",
        Seq(col("score").desc, col("doc_id").asc), 50)
      val embedded = graft.embed.EmbedOps.withEmbedding(
        docs.select($"doc_id", $"text"), "text", "hashing")
      val qvec = graft.embed.Embedders.forName("hashing").embed(searchTerms.mkString(" "))
      val vecScored = embedded.select($"doc_id",
        RoundPortableExpr.r(VectorFunctions.cosineDistance($"embedding", typedlit(qvec)), 4)
          .as("distance"))
      val vec = LexicalSearch.rankedTopK(vecScored, "doc_id",
        Seq(col("distance").asc, col("doc_id").asc), 50)
      LexicalSearch.rrfFuse(lex, vec, "doc_id")
        .select($"doc_id", RoundPortableExpr.r($"rrf", 6).as("rrf"))
        .orderBy($"rrf".desc, $"doc_id".asc)
        .limit(10)
    },
      s"""WITH ${LexicalSearch.bm25Sql(searchTerms)},
         |lex_top AS (SELECT doc_id, round(score, 4) AS score FROM bm25
         |            ORDER BY score DESC, doc_id LIMIT 50),
         |lex AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank_a
         |        FROM lex_top),
         |acc AS (SELECT doc_id, ${hashingEmbedAccSql("text", 64)} AS a FROM documents),
         |e AS (SELECT doc_id, ${hashingEmbedNormSql("a")} AS emb FROM acc),
         |qacc AS (SELECT ${hashingEmbedAccSql(s"'${searchTerms.mkString(" ")}'", 64)} AS a),
         |q AS (SELECT ${hashingEmbedNormSql("a")} AS qv FROM qacc),
         |vec_top AS (SELECT e.doc_id,
         |              round(1 - list_cosine_similarity(CAST(e.emb AS DOUBLE[]),
         |                                               CAST(q.qv AS DOUBLE[])), 4) AS distance
         |            FROM e, q ORDER BY distance, doc_id LIMIT 50),
         |vec AS (SELECT doc_id, row_number() OVER (ORDER BY distance, doc_id) AS rank_b
         |        FROM vec_top)
         |SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
         |       round(COALESCE(1.0 / (60 + rank_a), 0) + COALESCE(1.0 / (60 + rank_b), 0), 6) AS rrf
         |FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id
         |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin),
    // ---- late-interaction retrieval (ColBERT MaxSim, Khattab &
    // Zaharia 2020): score(doc) = Σ_terms max_chunks sim(term, chunk) —
    // fine-grained term-to-passage matching that single-vector-per-doc
    // retrieval can't express (a doc matching ALL terms in DIFFERENT
    // chunks outranks one matching one term everywhere). Plan: one
    // chunk explode + one embed pass over chunks, the 3-term query
    // side broadcast, then two map-side-combinable aggregates (min
    // distance per (doc, term), sum per doc) and a TakeOrdered top-k —
    // nothing corpus-quadratic, distances stay in the same rounded
    // space on both engines. ----
    Entry("search_maxsim", (s, dir) => {
      import s.implicits._
      val (window, stride) = (40, 40)
      val qterms = Seq("spark", "join", "shuffle")
      val emb = graft.embed.Embedders.forName("hashing")
      val qdf = broadcast(qterms.map(tm => (tm, emb.embed(tm))).toDF("term", "qv"))
      val chunks = s.read.parquet(t(dir, "documents"))
        .select($"doc_id", ops.TextPrimitives.words($"text").as("ws"))
        .where(size($"ws") > 0)
        .withColumn("off", explode(sequence(lit(0), size($"ws") - 1, lit(stride))))
        .select($"doc_id", array_join(slice($"ws", $"off" + 1, lit(window)), " ").as("ctext"))
      graft.embed.EmbedOps.withEmbedding(chunks, "ctext", "hashing")
        .crossJoin(qdf)
        .select($"doc_id", $"term",
          RoundPortableExpr.r(VectorFunctions.cosineDistance($"embedding", $"qv"), 6).as("dist"))
        .groupBy($"doc_id", $"term").agg(min($"dist").as("md"))
        .groupBy($"doc_id").agg(RoundPortableExpr.r(sum(lit(1.0) - $"md"), 6).as("score"))
        .orderBy($"score".desc, $"doc_id".asc)
        .limit(10)
    },
      s"""WITH w AS (SELECT doc_id, ${wordsSql("text")} AS ws FROM documents),
         |ch AS (
         |  SELECT doc_id, array_to_string(ws[t.off + 1 : t.off + 40], ' ') AS ctext
         |  FROM w, unnest(range(0, len(ws), 40)) t(off)
         |  WHERE len(ws) > 0),
         |cacc AS (SELECT doc_id, ${hashingEmbedAccSql("ctext", 64)} AS a FROM ch),
         |cemb AS (SELECT doc_id, ${hashingEmbedNormSql("a")} AS e FROM cacc),
         |q AS (SELECT * FROM (VALUES ('spark'), ('join'), ('shuffle')) v(term)),
         |qacc AS (SELECT term, ${hashingEmbedAccSql("term", 64)} AS a FROM q),
         |qemb AS (SELECT term, ${hashingEmbedNormSql("a")} AS qv FROM qacc),
         |d AS (
         |  SELECT c.doc_id, q.term,
         |         round(1 - list_cosine_similarity(CAST(c.e AS DOUBLE[]),
         |                                          CAST(q.qv AS DOUBLE[])), 6) AS dist
         |  FROM cemb c, qemb q),
         |m AS (SELECT doc_id, term, min(dist) AS md FROM d GROUP BY 1, 2),
         |sc AS (SELECT doc_id, round(sum(1 - md), 6) AS score FROM m GROUP BY 1)
         |SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT 10""".stripMargin),
    // ---- ranker-agreement eval: NDCG@10 of the embedding retrieval
    // leg scored against BM25's top-10 as graded pseudo-labels
    // (rel = 11 − lexical rank) — the zero-annotation IR eval loop that
    // tunes hybrid weights. Both legs are k-row shortlists computed by
    // the same machinery as search_hybrid_rrf; the metric math touches
    // only 10-row frames, so the ONLY corpus-scale work is the two
    // scoring passes. ----
    Entry("search_ndcg", (s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(t(dir, "documents"))
      val lexScored = LexicalSearch.bm25(docs, "doc_id", "text", searchTerms)
        .select($"doc_id", RoundPortableExpr.r($"score", 4).as("score"))
      val rel = LexicalSearch.rankedTopK(lexScored, "doc_id",
          Seq(col("score").desc, col("doc_id").asc), 10)
        .select($"doc_id", (lit(11) - $"rank").cast("double").as("rel"))
      val embedded = graft.embed.EmbedOps.withEmbedding(
        docs.select($"doc_id", $"text"), "text", "hashing")
      val qvec = graft.embed.Embedders.forName("hashing").embed(searchTerms.mkString(" "))
      val vec = LexicalSearch.rankedTopK(embedded.select($"doc_id",
          RoundPortableExpr.r(VectorFunctions.cosineDistance($"embedding", typedlit(qvec)), 4)
            .as("distance")),
          "doc_id", Seq(col("distance").asc, col("doc_id").asc), 10)
        .withColumnRenamed("rank", "rk")
      val dcg = vec.join(rel, Seq("doc_id"), "left")
        .agg(RoundPortableExpr.r(
          sum(coalesce($"rel", lit(0.0)) / log2($"rk" + 1)), 6).as("dcg"))
      val idcg = rel
        .withColumn("r", row_number().over( // 10-row frame: safe unpartitioned
          org.apache.spark.sql.expressions.Window.orderBy($"rel".desc, $"doc_id".asc)))
        .agg(RoundPortableExpr.r(sum($"rel" / log2($"r" + 1)), 6).as("idcg"))
      dcg.crossJoin(idcg)
        .select($"dcg", $"idcg", RoundPortableExpr.r($"dcg" / $"idcg", 6).as("ndcg"))
    },
      s"""WITH ${LexicalSearch.bm25Sql(searchTerms)},
         |lex_top AS (SELECT doc_id, round(score, 4) AS score FROM bm25
         |            ORDER BY score DESC, doc_id LIMIT 10),
         |rel AS (SELECT doc_id,
         |               CAST(11 - row_number() OVER (ORDER BY score DESC, doc_id) AS DOUBLE) AS rel
         |        FROM lex_top),
         |eacc AS (SELECT doc_id, ${hashingEmbedAccSql("text", 64)} AS a FROM documents),
         |eemb AS (SELECT doc_id, ${hashingEmbedNormSql("a")} AS emb FROM eacc),
         |qacc AS (SELECT ${hashingEmbedAccSql(s"'${searchTerms.mkString(" ")}'", 64)} AS a),
         |qv AS (SELECT ${hashingEmbedNormSql("a")} AS qv FROM qacc),
         |vtop AS (SELECT e.doc_id,
         |                round(1 - list_cosine_similarity(CAST(e.emb AS DOUBLE[]),
         |                                                 CAST(q.qv AS DOUBLE[])), 4) AS distance
         |         FROM eemb e, qv q ORDER BY distance, doc_id LIMIT 10),
         |vr AS (SELECT doc_id, row_number() OVER (ORDER BY distance, doc_id) AS rk FROM vtop),
         |dcg AS (SELECT round(sum(coalesce(rel, 0) / log2(rk + 1)), 6) AS dcg
         |        FROM vr LEFT JOIN rel USING (doc_id)),
         |idcg AS (SELECT round(sum(rel / log2(r + 1)), 6) AS idcg FROM (
         |           SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id) AS r FROM rel))
         |SELECT dcg.dcg, idcg.idcg, round(dcg.dcg / idcg.idcg, 6) AS ndcg
         |FROM dcg, idcg""".stripMargin),
    // ---- MMR diversity rerank: greedy λ·rel − (1−λ)·max-sim selection
    // over the k-NN shortlist (Carbonell & Goldstein), so near-identical
    // hits stop crowding out distinct-but-relevant ones. Sequential by
    // nature → runs on the bounded 50-row shortlist like every
    // production reranker; Spark computes the shortlist + its pairwise
    // kernel distances, the driver loop touches only those scalars. ----
    Entry("search_mmr", (s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(t(dir, "documents"))
      val embedded = graft.embed.EmbedOps.withEmbedding(
        docs.select($"doc_id", $"text"), "text", "hashing")
      val qvec = graft.embed.Embedders.forName("hashing").embed(searchTerms.mkString(" "))
      val scored = embedded.select($"doc_id", $"embedding",
        RoundPortableExpr.r(VectorFunctions.cosineDistance($"embedding", typedlit(qvec)), 4)
          .as("distance"))
      Similarity.mmrRerank(scored, k = 10, lambda = 0.7, shortlist = 50, idCol = "doc_id")
    },
      mmrOracleSql(k = 10, lambda = 0.7, shortlist = 50)),
    // ---- item-item collaborative filtering (the co-visitation
    // recommender): cosine similarity over binary user-click vectors,
    // top-3 neighbors per item. Hub guards ON BY DEFAULT both ways
    // (≤40 users/item THEN ≤40 items/user, rank by id — the same
    // deterministic hub-sampling as graph_kcore) so pair volume is
    // bounded by users·cap² regardless of popularity skew; cosine
    // denominators use the POST-cap item counts so the score is
    // internally consistent with the sampled graph. One user-keyed
    // pair shuffle + two broadcast count joins. ----
    Entry("rec_item_item", (s, dir) => {
      import s.implicits._
      val clicks = Tables.events(s, dir).where($"event_type" === "click")
        .select($"user_id".as("u"),
          regexp_extract($"props", "[0-9]+", 0).cast("long").as("i"))
        .distinct()
      val wci = org.apache.spark.sql.expressions.Window
        .partitionBy($"i").orderBy($"u")
      val wcu = org.apache.spark.sql.expressions.Window
        .partitionBy($"u").orderBy($"i")
      val capped = clicks
        .withColumn("rn", row_number().over(wci)).where($"rn" <= 40).drop("rn")
        .withColumn("rn", row_number().over(wcu)).where($"rn" <= 40).drop("rn")
      val ni = capped.groupBy($"i").agg(count(lit(1)).as("n"))
      val cooc = capped.alias("a").join(capped.alias("b"),
          $"a.u" === $"b.u" && $"a.i" < $"b.i")
        .groupBy($"a.i".as("ia"), $"b.i".as("ib"))
        .agg(count(lit(1)).as("c"))
        .where($"c" >= 3)
      val directed = cooc.select($"ia".as("item"), $"ib".as("rec"), $"c")
        .unionAll(cooc.select($"ib".as("item"), $"ia".as("rec"), $"c"))
      val scored = directed
        .join(broadcast(ni.select($"i".as("item"), $"n".as("nitem"))), "item")
        .join(broadcast(ni.select($"i".as("rec"), $"n".as("nrec"))), "rec")
        .select($"item", $"rec", $"c",
          RoundPortableExpr.r(
            $"c".cast("double") / sqrt(($"nitem" * $"nrec").cast("double")), 6)
            .as("cosine"))
      val wtop = org.apache.spark.sql.expressions.Window
        .partitionBy($"item").orderBy($"cosine".desc, $"rec".asc)
      scored.withColumn("rank", row_number().over(wtop).cast("long"))
        .where($"rank" <= 3)
        .select($"item", $"rank", $"rec", $"cosine")
    },
      """WITH clicks AS MATERIALIZED (
        |  SELECT DISTINCT user_id AS u,
        |         CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS i
        |  FROM events WHERE event_type = 'click'),
        |cap1 AS MATERIALIZED (
        |  SELECT u, i FROM (
        |    SELECT u, i, row_number() OVER (PARTITION BY i ORDER BY u) AS rn
        |    FROM clicks) WHERE rn <= 40),
        |cap2 AS MATERIALIZED (
        |  SELECT u, i FROM (
        |    SELECT u, i, row_number() OVER (PARTITION BY u ORDER BY i) AS rn
        |    FROM cap1) WHERE rn <= 40),
        |ni AS MATERIALIZED (SELECT i, CAST(count(*) AS BIGINT) AS n
        |                    FROM cap2 GROUP BY 1),
        |cooc AS MATERIALIZED (
        |  SELECT a.i AS ia, b.i AS ib, CAST(count(*) AS BIGINT) AS c
        |  FROM cap2 a JOIN cap2 b ON a.u = b.u AND a.i < b.i
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |directed AS (SELECT ia AS item, ib AS rec, c FROM cooc
        |             UNION ALL
        |             SELECT ib AS item, ia AS rec, c FROM cooc),
        |scored AS (SELECT item, rec,
        |                  round(CAST(c AS DOUBLE)
        |                        / sqrt(CAST(na.n * nb.n AS DOUBLE)), 6) AS cosine
        |           FROM directed JOIN ni na ON na.i = item JOIN ni nb ON nb.i = rec)
        |SELECT item, rank, rec, cosine FROM (
        |  SELECT item, rec, cosine,
        |         row_number() OVER (PARTITION BY item
        |                            ORDER BY cosine DESC, rec) AS rank
        |  FROM scored) WHERE rank <= 3""".stripMargin),
    // ---- recommendation-list health: catalog coverage + Gini
    // concentration of rec_item_item's top-3 lists (Jannach et al.'s
    // beyond-accuracy metrics — a recommender that only ever surfaces
    // hub items shows coverage ↓, Gini ↑ long before CTR moves).
    // Never-recommended items enter the Lorenz ranking as zeros via a
    // left join against the post-cap catalog; the global rank comes
    // from Sharding.globalRowNumber on a composite (cnt, item) key —
    // catalog-sized censuses never funnel through a single-partition
    // window. Gini = (2·Σ rank·cnt − (n+1)·Σcnt)/(n·Σcnt), exact
    // integers until one final division. ----
    Entry("rec_gini_coverage", (s, dir) => {
      import s.implicits._
      val clicks = Tables.events(s, dir).where($"event_type" === "click")
        .select($"user_id".as("u"),
          regexp_extract($"props", "[0-9]+", 0).cast("long").as("i"))
        .distinct()
      val wci = org.apache.spark.sql.expressions.Window
        .partitionBy($"i").orderBy($"u")
      val wcu = org.apache.spark.sql.expressions.Window
        .partitionBy($"u").orderBy($"i")
      val capped = clicks
        .withColumn("rn", row_number().over(wci)).where($"rn" <= 40).drop("rn")
        .withColumn("rn", row_number().over(wcu)).where($"rn" <= 40).drop("rn")
      val ni = graft.core.PlanCache.persist(
        capped.groupBy($"i").agg(count(lit(1)).as("n")))
      val cooc = capped.alias("a").join(capped.alias("b"),
          $"a.u" === $"b.u" && $"a.i" < $"b.i")
        .groupBy($"a.i".as("ia"), $"b.i".as("ib"))
        .agg(count(lit(1)).as("c"))
        .where($"c" >= 3)
      val directed = cooc.select($"ia".as("item"), $"ib".as("rec"), $"c")
        .unionAll(cooc.select($"ib".as("item"), $"ia".as("rec"), $"c"))
      val scored = directed
        .join(broadcast(ni.select($"i".as("item"), $"n".as("nitem"))), "item")
        .join(broadcast(ni.select($"i".as("rec"), $"n".as("nrec"))), "rec")
        .select($"item", $"rec",
          RoundPortableExpr.r(
            $"c".cast("double") / sqrt(($"nitem" * $"nrec").cast("double")), 6)
            .as("cosine"))
      val wtop = org.apache.spark.sql.expressions.Window
        .partitionBy($"item").orderBy($"cosine".desc, $"rec".asc)
      val rc = scored.withColumn("rank", row_number().over(wtop))
        .where($"rank" <= 3)
        .groupBy($"rec").agg(count(lit(1)).as("cnt"))
      val cat = ni.select($"i".as("rec"))
        .join(rc, Seq("rec"), "left_outer")
        .select($"rec", coalesce($"cnt", lit(0L)).as("cnt"))
        // Lorenz rank key as a STRUCT — range partitioning and sorts
        // order structs field-wise, so (cnt, rec) ranks directly;
        // the former cnt·2^32+rec packing silently wrapped (Spark)
        // or errored (DuckDB) once an item id reached 2^32 (r7 advice)
        .select($"rec", $"cnt", struct($"cnt", $"rec").as("k"))
      val ranked = ops.Sharding.globalRowNumber(cat, "k", "rn")
      ranked.agg(count(lit(1)).as("nc"), sum($"cnt").as("tt"),
          sum(($"rn" + 1L) * $"cnt").as("sic"),
          sum(when($"cnt" > 0L, 1L).otherwise(0L)).as("n_rec"))
        .select($"nc".as("catalog_n"), $"n_rec".as("recommended_n"),
          RoundPortableExpr.r($"n_rec".cast("double") / $"nc".cast("double"), 6)
            .as("coverage"),
          when($"tt" === 0L, lit(0.0)).otherwise(
            RoundPortableExpr.r(
              (lit(2L) * $"sic" - ($"nc" + 1L) * $"tt").cast("double") /
                ($"nc" * $"tt").cast("double"), 6)).as("gini"))
    },
      """WITH clicks AS MATERIALIZED (
        |  SELECT DISTINCT user_id AS u,
        |         CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS i
        |  FROM events WHERE event_type = 'click'),
        |cap1 AS MATERIALIZED (
        |  SELECT u, i FROM (
        |    SELECT u, i, row_number() OVER (PARTITION BY i ORDER BY u) AS rn
        |    FROM clicks) WHERE rn <= 40),
        |cap2 AS MATERIALIZED (
        |  SELECT u, i FROM (
        |    SELECT u, i, row_number() OVER (PARTITION BY u ORDER BY i) AS rn
        |    FROM cap1) WHERE rn <= 40),
        |ni AS MATERIALIZED (SELECT i, CAST(count(*) AS BIGINT) AS n
        |                    FROM cap2 GROUP BY 1),
        |cooc AS MATERIALIZED (
        |  SELECT a.i AS ia, b.i AS ib, CAST(count(*) AS BIGINT) AS c
        |  FROM cap2 a JOIN cap2 b ON a.u = b.u AND a.i < b.i
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |directed AS (SELECT ia AS item, ib AS rec, c FROM cooc
        |             UNION ALL
        |             SELECT ib AS item, ia AS rec, c FROM cooc),
        |scored AS (SELECT item, rec,
        |                  round(CAST(c AS DOUBLE)
        |                        / sqrt(CAST(na.n * nb.n AS DOUBLE)), 6) AS cosine
        |           FROM directed JOIN ni na ON na.i = item JOIN ni nb ON nb.i = rec),
        |rc AS (SELECT rec, CAST(count(*) AS BIGINT) AS cnt FROM (
        |         SELECT item, rec,
        |                row_number() OVER (PARTITION BY item
        |                                   ORDER BY cosine DESC, rec) AS rank
        |         FROM scored) WHERE rank <= 3 GROUP BY 1),
        |cat AS (SELECT ni.i AS rec, coalesce(cnt, 0) AS cnt
        |        FROM ni LEFT JOIN rc ON rc.rec = ni.i),
        |rk AS (SELECT cnt, CAST(row_number()
        |                        OVER (ORDER BY cnt, rec) AS BIGINT) AS rn
        |       FROM cat),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS nc, CAST(sum(cnt) AS BIGINT) AS tt,
        |             CAST(sum(rn * cnt) AS BIGINT) AS sic,
        |             CAST(sum(CASE WHEN cnt > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_rec
        |      FROM rk)
        |SELECT nc AS catalog_n, n_rec AS recommended_n,
        |       round(CAST(n_rec AS DOUBLE) / CAST(nc AS DOUBLE), 6) AS coverage,
        |       CASE WHEN tt = 0 THEN 0.0e0
        |            ELSE round(CAST(2 * sic - (nc + 1) * tt AS DOUBLE)
        |                       / CAST(nc * tt AS DOUBLE), 6) END AS gini
        |FROM g""".stripMargin),
    // ---- retrieval evaluation metrics (precision@5/@10, recall@10,
    // reciprocal rank) for the BM25 ranking against a containment
    // ground truth (relevant = doc carries ≥2 of the 3 query terms) —
    // the offline eval harness every search stack runs before shipping
    // a ranker change. Ground truth is a map-side flag; every metric
    // is a ratio of exact integers from the 10-row ranked panel. ----
    Entry("search_eval_metrics", (s, dir) => {
      import s.implicits._
      val docs = graft.core.PlanCache.persist(
        s.read.parquet(t(dir, "documents"))
          .select($"doc_id", $"text", ops.TextPrimitives.words($"text").as("ws")))
      val rel = docs.select($"doc_id",
        ((array_contains($"ws", searchTerms(0)).cast("int") +
          array_contains($"ws", searchTerms(1)).cast("int") +
          array_contains($"ws", searchTerms(2)).cast("int")) >= 2).as("relevant"))
      val scored = LexicalSearch.bm25(docs, "doc_id", "text", searchTerms)
        .select($"doc_id", RoundPortableExpr.r($"score", 4).as("score"))
      val top = LexicalSearch.rankedTopK(scored, "doc_id",
          Seq(col("score").desc, col("doc_id").asc), 10)
        .join(rel, "doc_id")
      val totRel = rel.agg(sum(when($"relevant", 1L).otherwise(0L)).as("n_relevant"))
      top.agg(
          sum(when($"relevant" && $"rank" <= 5, 1L).otherwise(0L)).as("h5"),
          sum(when($"relevant", 1L).otherwise(0L)).as("h10"),
          min(when($"relevant", $"rank")).as("first_rel"))
        .crossJoin(broadcast(totRel))
        .select($"n_relevant", $"h5".as("hits_at_5"), $"h10".as("hits_at_10"),
          RoundPortableExpr.r($"h5".cast("double") / lit(5.0), 6).as("precision_at_5"),
          RoundPortableExpr.r($"h10".cast("double") / lit(10.0), 6).as("precision_at_10"),
          RoundPortableExpr.r($"h10".cast("double") / $"n_relevant".cast("double"), 6)
            .as("recall_at_10"),
          coalesce(RoundPortableExpr.r(lit(1.0) / $"first_rel".cast("double"), 6),
            lit(0.0)).as("reciprocal_rank"))
    },
      s"""WITH ${LexicalSearch.bm25Sql(searchTerms)},
         |rel AS (SELECT doc_id,
         |               (CAST(list_contains(${wordsSql("text")}, '${searchTerms(0)}') AS INTEGER)
         |                + CAST(list_contains(${wordsSql("text")}, '${searchTerms(1)}') AS INTEGER)
         |                + CAST(list_contains(${wordsSql("text")}, '${searchTerms(2)}') AS INTEGER))
         |                 >= 2 AS relevant
         |        FROM documents),
         |topd AS (SELECT doc_id, round(score, 4) AS rs FROM bm25),
         |top AS (SELECT doc_id,
         |               CAST(row_number() OVER (ORDER BY rs DESC, doc_id) AS BIGINT) AS rank
         |        FROM topd ORDER BY rs DESC, doc_id LIMIT 10),
         |tot AS (SELECT CAST(sum(CASE WHEN relevant THEN 1 ELSE 0 END) AS BIGINT)
         |                 AS n_relevant FROM rel),
         |j AS (SELECT t.rank, r.relevant FROM top t JOIN rel r USING (doc_id)),
         |a AS (SELECT CAST(sum(CASE WHEN relevant AND rank <= 5 THEN 1 ELSE 0 END)
         |                  AS BIGINT) AS h5,
         |             CAST(sum(CASE WHEN relevant THEN 1 ELSE 0 END) AS BIGINT) AS h10,
         |             min(CASE WHEN relevant THEN rank END) AS first_rel
         |      FROM j)
         |SELECT n_relevant, h5 AS hits_at_5, h10 AS hits_at_10,
         |       round(CAST(h5 AS DOUBLE) / 5.0e0, 6) AS precision_at_5,
         |       round(CAST(h10 AS DOUBLE) / 10.0e0, 6) AS precision_at_10,
         |       round(CAST(h10 AS DOUBLE) / CAST(n_relevant AS DOUBLE), 6) AS recall_at_10,
         |       coalesce(round(1.0e0 / CAST(first_rel AS DOUBLE), 6), 0.0e0)
         |         AS reciprocal_rank
         |FROM a, tot""".stripMargin)
  )
}
