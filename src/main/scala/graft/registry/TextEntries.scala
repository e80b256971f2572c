package graft
package registry

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.RoundPortableExpr
import graft.ops.TextAnalysis
import graft.ops.TextPrimitives._
import graft.SparkEntry.t

/** Text curation, tokenization and language-model statistics
  * (`text_*`). */
object TextEntries {
  def all: Seq[Entry] = Seq(
    // ---- token-window chunking: the doc→chunk explosion every
    // embedding/RAG ingest runs (fixed window, fixed stride, overlap =
    // window − stride). Generator shape: chunks are born map-side from
    // the wordlist; nothing shuffles until the downstream groupBy.
    // Chunk identity = md5 of the re-joined window, exact on both
    // engines. ----
    Entry("text_chunk", (s, dir) => {
      import s.implicits._
      val (window, stride) = (50, 40)
      s.read.parquet(t(dir, "documents"))
        .select($"doc_id", ops.TextPrimitives.words($"text").as("ws"))
        .withColumn("off", explode(sequence(lit(0), size($"ws") - 1, lit(stride))))
        .select($"doc_id", ($"off" / stride).cast("int").as("chunk_idx"),
          slice($"ws", $"off" + 1, lit(window)).as("chunk"))
        .select($"doc_id", $"chunk_idx", size($"chunk").as("n_tokens"),
          md5(array_join($"chunk", " ")).as("chunk_md5"))
    },
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS ws FROM documents
        |), c AS (
        |  SELECT doc_id, CAST(t.off // 40 AS INTEGER) AS chunk_idx,
        |         ws[t.off + 1 : t.off + 50] AS chunk
        |  FROM w, unnest(range(0, len(ws), 40)) t(off)
        |)
        |SELECT doc_id, chunk_idx, CAST(len(chunk) AS INTEGER) AS n_tokens,
        |       md5(array_to_string(chunk, ' ')) AS chunk_md5
        |FROM c""".stripMargin),
    // ---- C4-style line-rule filter (Raffel et al. 2020 §2.2): drop
    // lines failing word-count / required-token / blocklist rules, then
    // docs with too few surviving lines. Entirely map-side — one
    // codegen'd projection, no shuffle. Lines are synthesized 8-word
    // groups (the fixture is single-line); the rule machinery is the
    // operator, the delimiter a parameter. ----
    Entry("text_line_filter", (s, dir) =>
      ops.LineCuration.c4LineFilter(s.read.parquet(t(dir, "documents")),
        "doc_id", "text", lw = 8, minWords = 3,
        required = Seq("the", "a"), blocked = Seq("slow"), minKeptLines = 2),
      s"""WITH w AS (SELECT doc_id, ${wordsSql("text")} AS ws FROM documents),
         |g AS (SELECT doc_id, ${lineGroupsSql("ws", 8)} AS lg FROM w),
         |k AS (SELECT doc_id, lg,
         |             list_filter(lg, l -> len(l) >= 3
         |               AND len(list_intersect(l, ['the', 'a'])) > 0
         |               AND NOT list_contains(l, 'slow')) AS kept
         |      FROM g)
         |SELECT doc_id, CAST(len(lg) AS INTEGER) AS n_lines,
         |       CAST(len(kept) AS INTEGER) AS n_kept,
         |       CAST(CASE WHEN len(kept) >= 2 THEN 1 ELSE 0 END AS INTEGER) AS doc_pass,
         |       md5(coalesce(array_to_string(list_transform(kept, l -> array_to_string(l, ' ')),
         |                                    chr(10)), '')) AS cleaned_md5
         |FROM k""".stripMargin),
    // ---- tokenizer-fertility audit per language: subword fertility
    // (bpe/ws token ratio) and chars-per-token — the pre-training
    // census that decides tokenizer fit per language (high fertility =
    // wasted context window). One kernel pass + one small groupBy. ----
    Entry("text_fertility", (s, dir) => {
      import s.implicits._
      s.read.parquet(t(dir, "documents"))
        .select($"lang", $"n_chars",
          graft.functions.TextProfileExpr.col($"text",
            TextAnalysis.stopwords, TextAnalysis.langs).as("p"))
        .select($"lang", $"n_chars", $"p.ws_tokens", $"p.bpe_tokens")
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          RoundPortableExpr.r(
            avg($"bpe_tokens".cast("double") / $"ws_tokens"), 4).as("fertility"),
          RoundPortableExpr.r(
            avg($"n_chars".cast("double") / $"bpe_tokens"), 4).as("chars_per_token"),
          sum(when($"bpe_tokens" > $"ws_tokens", 1).otherwise(0)).cast("int")
            .as("n_subword_split"))
    },
      s"""WITH tok AS (
         |  SELECT lang, n_chars, ${TextAnalysis.tokenSqlSelect("ltext", "ws")}
         |  FROM (SELECT lang, n_chars, lower(text) AS ltext, ${wordsSql("text")} AS ws
         |        FROM documents))
         |SELECT lang, count(*) AS n_docs,
         |       round(avg(bpe_tokens::DOUBLE / ws_tokens), 4) AS fertility,
         |       round(avg(n_chars::DOUBLE / bpe_tokens), 4) AS chars_per_token,
         |       CAST(sum(CASE WHEN bpe_tokens > ws_tokens THEN 1 ELSE 0 END) AS INTEGER)
         |         AS n_subword_split
         |FROM tok GROUP BY 1""".stripMargin),
    // ---- unicode NFC normalization + control strip (codegen kernel):
    // decomposed accents hash differently from composed forms, so
    // un-normalized corpora under-deduplicate. Fixture text is ASCII,
    // so a decomposed suffix ("cafe" + combining acute + a control
    // char) is appended identically on both sides; the kernel must
    // compose it to the NFC form DuckDB's nfc_normalize produces. ----
    Entry("text_normalize", (s, dir) => {
      import s.implicits._
      // " cafe" + COMBINING ACUTE (U+0301) + BEL control (U+0007) + "end"
      val dirty = concat($"text", lit(" cafe\u0301\u0007end"))
      s.read.parquet(t(dir, "documents"))
        .select($"doc_id",
          md5(graft.functions.TextExprs.nfcNormalize(dirty)).as("norm_md5"),
          (length(dirty) - length(graft.functions.TextExprs.nfcNormalize(dirty)))
            .as("n_removed"))
    },
      """WITH dirty AS (
        |  SELECT doc_id, text || ' cafe' || chr(769) || chr(7) || 'end' AS d FROM documents
        |)
        |SELECT doc_id,
        |       md5(replace(nfc_normalize(d), chr(7), '')) AS norm_md5,
        |       CAST(length(d) - length(replace(nfc_normalize(d), chr(7), '')) AS INTEGER)
        |         AS n_removed
        |FROM dirty""".stripMargin),
    // ---- PII-style pattern redaction: map-only regexp scrub with a
    // redaction count — the scrub-before-training pass. A synthetic
    // email is planted per doc so the redaction is observable. ----
    Entry("text_redact", (s, dir) => {
      import s.implicits._
      val planted = concat($"text", lit(" contact: user"), $"doc_id", lit("@example.com done"))
      val pat = "[a-z0-9._]+@[a-z0-9.]+[a-z]"
      s.read.parquet(t(dir, "documents"))
        .select($"doc_id",
          md5(regexp_replace(planted, pat, "<EMAIL>")).as("redacted_md5"),
          size(split(planted, pat)).minus(1).as("n_redacted"))
    },
      """WITH planted AS (
        |  SELECT doc_id,
        |         text || ' contact: user' || CAST(doc_id AS VARCHAR) || '@example.com done' AS d
        |  FROM documents
        |)
        |SELECT doc_id,
        |       md5(regexp_replace(d, '[a-z0-9._]+@[a-z0-9.]+[a-z]', '<EMAIL>', 'g')) AS redacted_md5,
        |       CAST(len(regexp_split_to_array(d, '[a-z0-9._]+@[a-z0-9.]+[a-z]')) - 1 AS INTEGER)
        |         AS n_redacted
        |FROM planted""".stripMargin),
    // ---- eval-set contamination audit, the REVERSE direction: per
    // BENCH doc, how many training docs share an exact word 8-gram
    // (GPT-3 App. C / PaLM "dirty eval example" protocol — exact
    // n-grams, not winnowing's subsample, because this is a per-example
    // audit). Grams hash to 60-bit longs map-side; bench side
    // broadcast; maxDf=50 is the boilerplate/quadratic-head guard and
    // deliberately bites on the fixture's template grams. ----
    Entry("text_eval_contamination", (s, dir) => {
      import s.implicits._
      TextAnalysis.evalContamination(s.read.parquet(t(dir, "documents")),
        "doc_id", "text", isBench = $"doc_id" % 10 === 0, n = 8, maxDf = Some(50))
        .orderBy($"bench_id")
    },
      s"""WITH g0 AS (SELECT doc_id, unnest(${shinglesSql(wordsSql("text"), 8)}) AS gs
         |            FROM documents),
         |g AS (SELECT doc_id, ${hexLongSql("gs")} AS g FROM g0),
         |keep AS (SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS g_df
         |                        FROM g GROUP BY 1) WHERE g_df <= 50),
         |p AS (SELECT g.doc_id, g.g FROM g JOIN keep USING (g)),
         |tr AS (SELECT doc_id AS train_id, g FROM p WHERE doc_id % 10 <> 0),
         |be AS (SELECT doc_id AS bench_id, g FROM p WHERE doc_id % 10 = 0)
         |SELECT be.bench_id,
         |       CAST(count(DISTINCT tr.train_id) AS BIGINT) AS n_dirty_train,
         |       CAST(count(DISTINCT tr.g) AS BIGINT) AS n_shared_grams
         |FROM tr JOIN be ON tr.g = be.g
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    // ---- Gopher-style repetition score: fraction of duplicated word
    // 3-grams inside each doc — the within-document quality signal
    // (boilerplate/looping text). Pure kernel arithmetic per row. ----
    Entry("text_repetition", (s, dir) => {
      import s.implicits._
      val total = greatest(size(ops.TextPrimitives.words($"text")) - 2, lit(0))
      val distinctN = size(graft.functions.TextExprs.shingles($"text", 3))
      s.read.parquet(t(dir, "documents"))
        .select($"doc_id",
          RoundPortableExpr.r(
            when(total > 0, lit(1.0) - distinctN.cast("double") / total.cast("double"))
              .otherwise(0.0), 4).as("rep_ratio"))
    },
      s"""SELECT doc_id,
         |       round(CASE WHEN len(ws) - 2 > 0
         |                  THEN 1.0 - CAST(len(${shinglesSql("ws", 3)}) AS DOUBLE)
         |                             / (len(ws) - 2)
         |                  ELSE 0.0 END, 4) AS rep_ratio
         |FROM (SELECT doc_id, ${wordsSql("text")} AS ws FROM documents)""".stripMargin),
    // ---- deterministic train/test split: hash-based assignment is
    // reproducible across runs/engines (no RNG), stratification audited
    // per language. At 100 TB the split is a map-only projection — no
    // shuffle beyond the audit aggregation. ----
    // ---- STRATIFIED eval-set carving: exactly nPer=10 docs per
    // language held out, chosen by deterministic salted-hash order
    // (id tiebreak) — the balanced-eval construction a plain hash
    // split can't give (a 1% language would land ~0 eval docs). One
    // lang-keyed window; quota exactness is the contract (a language
    // with ≤ 10 docs contributes all of them). ----
    Entry("text_split_stratified", (s, dir) => {
      import s.implicits._
      val h = conv(substring(md5(concat(lit("strat:"), $"doc_id".cast("string"))), 1, 15), 16, 10)
        .cast("long")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"lang").orderBy(h, $"doc_id")
      s.read.parquet(t(dir, "documents"))
        .withColumn("rk", row_number().over(w))
        .withColumn("split", when($"rk" <= 10, "eval").otherwise("train"))
        .groupBy($"lang", $"split")
        .agg(count(lit(1)).as("cnt"), sum($"n_chars").as("sum_chars"))
    },
      s"""WITH r AS (
         |  SELECT lang, n_chars,
         |         row_number() OVER (
         |           PARTITION BY lang
         |           ORDER BY ${hexLongSql("'strat:' || CAST(doc_id AS VARCHAR)")},
         |                    doc_id) AS rk
         |  FROM documents)
         |SELECT lang, CASE WHEN rk <= 10 THEN 'eval' ELSE 'train' END AS split,
         |       count(*) AS cnt, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM r GROUP BY 1, 2""".stripMargin),
    Entry("text_train_split", (s, dir) => {
      import s.implicits._
      val h = conv(substring(md5(concat(lit("split:"), $"doc_id".cast("string"))), 1, 15), 16, 10)
        .cast("long")
      s.read.parquet(t(dir, "documents"))
        .withColumn("split", when(pmod(h, lit(100)) < 80, "train").otherwise("test"))
        .groupBy($"lang", $"split")
        .agg(count(lit(1)).as("cnt"), sum($"n_chars").as("sum_chars"))
    },
      s"""SELECT lang,
         |       CASE WHEN ${hexLongSql("'split:' || CAST(doc_id AS VARCHAR)")} % 100 < 80
         |            THEN 'train' ELSE 'test' END AS split,
         |       count(*) AS cnt, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM documents GROUP BY 1, 2""".stripMargin),
    // ---- sequence packing audit (the GPT-style document-concatenation
    // dataloader shape): per shard, token counts stream in doc order
    // and training sequences are cut every seqLen tokens — documents
    // may straddle a boundary, and a doc's sequence id is fixed by the
    // PRE-doc cumulative count, so the layout is deterministic and
    // shard-parallel (one window per shard — thousands of independent
    // partitions at scale, never a global sort). ----
    Entry("text_pack", (s, dir) => {
      import s.implicits._
      val seqLen = 2048L
      val toks = s.read.parquet(t(dir, "documents"))
        .select($"doc_id", pmod($"doc_id", lit(8)).as("shard"),
          size(ops.TextPrimitives.words($"text")).cast("long").as("n_tokens"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"shard").orderBy($"doc_id")
      toks.withColumn("cum", sum($"n_tokens").over(w))
        // `div`, not `/`: Spark's `/` promotes to double (and DuckDB
        // CAST(double AS BIGINT) ROUNDS while Spark truncates) —
        // integral division is the only cross-engine-exact form
        .withColumn("seq_id", expr(s"(cum - n_tokens) div $seqLen"))
        .groupBy($"shard", $"seq_id")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("n_tokens"))
    },
      s"""WITH toks AS (
         |  SELECT doc_id, doc_id % 8 AS shard, CAST(len(${wordsSql("text")}) AS BIGINT) AS n_tokens
         |  FROM documents
         |), c AS (
         |  SELECT shard, n_tokens,
         |         sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM toks
         |)
         |SELECT shard, CAST((cum - n_tokens) // 2048 AS BIGINT) AS seq_id,
         |       count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
         |FROM c GROUP BY 1, 2""".stripMargin),
    // ---- domain mixture resampling: rebalance the training mix to
    // per-domain target rates (keep all curated sources, downsample
    // the bulk ones) with a DETERMINISTIC content-independent hash —
    // no RNG, so the same doc keeps/drops on every engine, rerun, and
    // shard. Map-only until the audit aggregation; at 100 TB the keep
    // decision costs one md5 per row and no shuffle. ----
    Entry("text_domain_mix", (s, dir) => {
      import s.implicits._
      val rate = when($"source".isin((0 to 4).map("src" + _): _*), lit(1.0))
        .when($"source".isin((5 to 9).map("src" + _): _*), lit(0.5))
        .otherwise(lit(0.2))
      val h = conv(substring(md5(concat(lit("mix:"), $"doc_id".cast("string"))), 1, 15), 16, 10)
        .cast("long")
      s.read.parquet(t(dir, "documents"))
        .withColumn("keep", pmod(h, lit(1000)) < rate * 1000)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_total"),
          sum(when($"keep", 1L).otherwise(0L)).as("n_kept"))
    },
      s"""SELECT source, count(*) AS n_total,
         |       CAST(sum(CASE WHEN ${hexLongSql("'mix:' || CAST(doc_id AS VARCHAR)")} % 1000 <
         |                          (CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 1.0
         |                                WHEN source IN ('src5','src6','src7','src8','src9') THEN 0.5
         |                                ELSE 0.2 END) * 1000
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM documents GROUP BY 1""".stripMargin),
    // ---- vocabulary induction + OOV audit: fit a top-V vocabulary on
    // the corpus (the subword-tokenizer budget shape), then audit each
    // language slice's out-of-vocabulary rate against it. One explode
    // pass; vocabulary broadcast back. ----
    Entry("text_vocab_oov", (s, dir) =>
      TextAnalysis.vocabOov(s.read.parquet(t(dir, "documents")),
        "doc_id", "lang", "text", vocabSize = 30),
      s"""WITH toks AS (
         |  SELECT doc_id, lang, unnest(${wordsSql("text")}) AS w FROM documents),
         |vocab AS (
         |  SELECT w, 1 AS v FROM (
         |    SELECT w, count(*) AS cnt FROM toks GROUP BY 1
         |    ORDER BY cnt DESC, w LIMIT 30)),
         |per AS (
         |  SELECT doc_id, lang, (count(*) - count(v.v))::DOUBLE / count(*) AS oov
         |  FROM toks LEFT JOIN vocab v USING (w) GROUP BY 1, 2)
         |SELECT lang, count(*) AS n_docs, round(avg(oov), 4) AS avg_oov,
         |       round(max(oov), 4) AS max_oov
         |FROM per GROUP BY 1""".stripMargin),
    // ---- adaptive quality threshold: instead of a fixed cutoff, drop
    // the bottom quartile PER LANGUAGE (fixed thresholds over-filter
    // low-resource slices — the standard stratified-threshold fix).
    // Exact per-group percentile (one partial-aggregable pass), the
    // #langs-row threshold table broadcast back. ----
    Entry("text_quality_adaptive", (s, dir) => {
      import s.implicits._
      val q = graft.core.PlanCache.persist(
        s.read.parquet(t(dir, "documents"))
          .select($"doc_id", $"lang",
            graft.functions.TextProfileExpr.col($"text",
              TextAnalysis.stopwords, TextAnalysis.langs).getField("quality").as("q")))
      val thr = q.groupBy($"lang")
        .agg(RoundPortableExpr.r(expr("percentile(q, 0.25)"), 6).as("thr"))
      q.join(broadcast(thr), "lang")
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          RoundPortableExpr.r(first($"thr"), 4).as("thr_q25"),
          sum(when($"q" < $"thr", 1L).otherwise(0L)).as("n_below"))
    },
      s"""WITH q AS (
         |  SELECT doc_id, lang, ${TextAnalysis.qualityExprSql("ltext", "ws")} AS q
         |  FROM (SELECT doc_id, lang, lower(text) AS ltext, ${wordsSql("text")} AS ws
         |        FROM documents)),
         |thr AS (SELECT lang, round(quantile_cont(q, 0.25), 6) AS thr FROM q GROUP BY 1)
         |SELECT q.lang, count(*) AS n_docs, round(any_value(thr), 4) AS thr_q25,
         |       CAST(sum(CASE WHEN q.q < thr THEN 1 ELSE 0 END) AS BIGINT) AS n_below
         |FROM q JOIN thr USING (lang) GROUP BY 1""".stripMargin),
    // ---- curriculum schedule: quartile quality buckets (1 = best)
    // with per-bucket token/quality stats — the ordering table a
    // quality-curriculum training run consumes (easy→hard phase mix).
    // Deliberately NOT a global ntile: a corpus-wide Window.orderBy is
    // a single-partition sort at scale. Bucket = comparison against the
    // broadcast one-row exact-percentile thresholds — one map-side
    // pass, same threshold discipline as text_quality_adaptive. ----
    Entry("text_curriculum", (s, dir) => {
      import s.implicits._
      val q = graft.core.PlanCache.persist(
        s.read.parquet(t(dir, "documents"))
          .select($"doc_id",
            graft.functions.TextProfileExpr.col($"text",
              TextAnalysis.stopwords, TextAnalysis.langs).getField("quality").as("q"),
            size(ops.TextPrimitives.words($"text")).as("n_tok")))
      val thr = q.agg(
        RoundPortableExpr.r(expr("percentile(q, 0.25)"), 6).as("t25"),
        RoundPortableExpr.r(expr("percentile(q, 0.5)"), 6).as("t50"),
        RoundPortableExpr.r(expr("percentile(q, 0.75)"), 6).as("t75"))
      q.crossJoin(broadcast(thr))
        .select($"q", $"n_tok",
          when($"q" >= $"t75", 1).when($"q" >= $"t50", 2)
            .when($"q" >= $"t25", 3).otherwise(4).as("bucket"))
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n_docs"),
          RoundPortableExpr.r(avg($"q"), 4).as("mean_q"),
          RoundPortableExpr.r(min($"q"), 4).as("min_q"),
          RoundPortableExpr.r(max($"q"), 4).as("max_q"),
          RoundPortableExpr.r(avg($"n_tok".cast("double")), 2).as("mean_tok"))
    },
      s"""WITH q AS (
         |  SELECT doc_id, ${TextAnalysis.qualityExprSql("ltext", "ws")} AS q, len(ws) AS n_tok
         |  FROM (SELECT doc_id, lower(text) AS ltext, ${wordsSql("text")} AS ws
         |        FROM documents)),
         |thr AS (SELECT round(quantile_cont(q, 0.25), 6) AS t25,
         |               round(quantile_cont(q, 0.5), 6) AS t50,
         |               round(quantile_cont(q, 0.75), 6) AS t75 FROM q),
         |b AS (SELECT q, n_tok,
         |             CASE WHEN q >= t75 THEN 1 WHEN q >= t50 THEN 2
         |                  WHEN q >= t25 THEN 3 ELSE 4 END AS bucket
         |      FROM q CROSS JOIN thr)
         |SELECT bucket, count(*) AS n_docs, round(avg(q), 4) AS mean_q,
         |       round(min(q), 4) AS min_q, round(max(q), 4) AS max_q,
         |       round(avg(CAST(n_tok AS DOUBLE)), 2) AS mean_tok
         |FROM b GROUP BY 1""".stripMargin),
    // ---- unigram-LM negative log likelihood (the ccnet/KenLM-style
    // perplexity proxy): fit an add-1-smoothed unigram model on the
    // corpus (token-keyed count shuffle + ONE broadcast stats row —
    // never a driver-side vocabulary), score each doc by mean token
    // NLL. High NLL = rare-token soup; low = boilerplate. ----
    Entry("text_unigram_nll", (s, dir) => {
      import s.implicits._
      val toks = graft.core.PlanCache.persist(
        s.read.parquet(t(dir, "documents"))
          .select($"doc_id", explode(ops.TextPrimitives.words($"text")).as("w")))
      val cnt = toks.groupBy($"w").agg(count(lit(1)).as("c"))
      val st = cnt.agg(sum($"c").as("nn"), count(lit(1)).as("v"))
      val lm = cnt.crossJoin(broadcast(st))
        .select($"w", (-log(($"c" + 1).cast("double") / ($"nn" + $"v"))).as("nl"))
      toks.join(lm, "w")
        .groupBy($"doc_id")
        .agg(RoundPortableExpr.r(sum($"nl") / count(lit(1)), 4).as("nll"))
    },
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(${wordsSql("text")}) AS w FROM documents),
         |cnt AS (SELECT w, count(*) AS c FROM toks GROUP BY 1),
         |st AS (SELECT sum(c) AS nn, count(*) AS v FROM cnt),
         |lm AS (SELECT w, -ln((c + 1)::DOUBLE / (nn + v)) AS nl FROM cnt, st)
         |SELECT doc_id, round(sum(nl) / count(*), 4) AS nll
         |FROM toks JOIN lm USING (w) GROUP BY 1""".stripMargin),
    // ---- bigram-LM held-out scoring (the KenLM-style quality filter,
    // one order up from text_unigram_nll): fit add-1-smoothed bigram
    // counts on the 80% train split, score each held-out doc by mean
    // bigram NLL. All state is (w1,w2)- and w1-keyed count shuffles plus
    // ONE broadcast vocab-size row — never a driver-side model. The
    // token table is persisted once and feeds both the vocab scalar and
    // the bigram window; bigrams are persisted once and feed fit+score. ----
    Entry("text_bigram_lm", (s, dir) => {
      import s.implicits._
      val tok = graft.core.PlanCache.persist(
        s.read.parquet(t(dir, "documents"))
          .select($"doc_id", posexplode(ops.TextPrimitives.words($"text")).as(Seq("pos", "w"))))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id").orderBy($"pos")
      val bi = graft.core.PlanCache.persist(
        tok.withColumn("w2", lead($"w", 1).over(win))
          .where($"w2".isNotNull)
          .select($"doc_id", $"w".as("w1"), $"w2"))
      val train = bi.where($"doc_id" % 5 < 4)
      val cb = train.groupBy($"w1", $"w2").agg(count(lit(1)).as("c"))
      val cu = train.groupBy($"w1").agg(count(lit(1)).as("c1"))
      val v = tok.where($"doc_id" % 5 < 4).agg(countDistinct($"w").as("v"))
      bi.where($"doc_id" % 5 === 4)
        .join(cb, Seq("w1", "w2"), "left_outer")
        .join(cu, Seq("w1"), "left_outer")
        .crossJoin(broadcast(v))
        .select($"doc_id",
          (-log((coalesce($"c", lit(0L)) + 1).cast("double") /
            (coalesce($"c1", lit(0L)) + $"v"))).as("nl"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          RoundPortableExpr.r(sum($"nl") / count(lit(1)), 4).as("nll"))
    },
      s"""WITH tw AS (SELECT doc_id, ${wordsSql("text")} AS ws FROM documents),
         |ix AS (SELECT doc_id, ws, unnest(range(len(ws) - 1)) AS i FROM tw WHERE len(ws) >= 2),
         |bi AS (SELECT doc_id, ws[CAST(i + 1 AS INTEGER)] AS w1, ws[CAST(i + 2 AS INTEGER)] AS w2 FROM ix),
         |cb AS (SELECT w1, w2, count(*) AS c FROM bi WHERE doc_id % 5 < 4 GROUP BY 1, 2),
         |cu AS (SELECT w1, count(*) AS c1 FROM bi WHERE doc_id % 5 < 4 GROUP BY 1),
         |vv AS (SELECT count(DISTINCT w) AS v
         |       FROM (SELECT unnest(ws) AS w FROM tw WHERE doc_id % 5 < 4)),
         |ho AS (SELECT doc_id, bi.w1, bi.w2,
         |              -ln((coalesce(cb.c, 0) + 1)::DOUBLE / (coalesce(cu.c1, 0) + vv.v)) AS nl
         |       FROM bi LEFT JOIN cb USING (w1, w2) LEFT JOIN cu USING (w1) CROSS JOIN vv
         |       WHERE doc_id % 5 = 4)
         |SELECT doc_id, count(*) AS n_bigrams, round(sum(nl) / count(*), 4) AS nll
         |FROM ho GROUP BY 1""".stripMargin),
    // ---- BPE merge training, two rounds unrolled (Sennrich et al.
    // 2016 — the tokenizer-training inner loop): word-frequency table →
    // weighted adjacent-symbol-pair counts → argmax merge (ties →
    // lexicographic pair, a total engine-independent order) → apply the
    // merge → recount. Words are canonicalized as space-delimited
    // symbol sequences; the merge is applied as FOUR bounded
    // left-to-right non-overlapping `replace` passes — both engines
    // share that exact replace semantic (verified), and four passes
    // close the " a b a b a b " alternation chains the delimiter
    // pattern can stride over. State is one (word, freq, seq) table —
    // O(vocab), not O(corpus) — so every round is a vocab-sized
    // map + pair-keyed partial-agg shuffle; the argmax is a one-row
    // broadcast. Output: top-5 pair census per round. ----
    Entry("text_bpe_merges", (s, dir) => {
      import s.implicits._
      val wf = graft.core.PlanCache.persist(
        s.read.parquet(t(dir, "documents"))
          .select(explode(ops.TextPrimitives.words($"text")).as("w"))
          .where($"w" =!= "")
          .groupBy($"w").agg(count(lit(1)).as("freq"))
          .select($"freq",
            concat(lit(" "), regexp_replace($"w", "(.)", "$1 ")).as("seq")))
      def pairCounts(df: DataFrame): DataFrame = df
        .withColumn("tk", split(trim(col("seq")), " "))
        // single-symbol sequences have no pairs; Spark's sequence(0, -1)
        // would DESCEND instead of returning empty, so filter first
        .where(size(col("tk")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(0, size(tk) - 2), i -> struct(tk[i] AS t1, tk[i + 1] AS t2))"))
          .as("p"))
        .groupBy(col("p.t1").as("t1"), col("p.t2").as("t2"))
        .agg(sum(col("freq")).as("cnt"))
      def top5(counts: DataFrame, round: Int): DataFrame = counts
        .orderBy(col("cnt").desc, col("t1").asc, col("t2").asc).limit(5)
        .withColumn("rank", row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("t1").asc, col("t2").asc)))
        .select(lit(round).as("round"), col("rank"),
          concat(col("t1"), lit("+"), col("t2")).as("pair"), col("cnt"))
      val c1 = graft.core.PlanCache.persist(pairCounts(wf))
      val m1 = c1.orderBy(col("cnt").desc, col("t1").asc, col("t2").asc).limit(1)
        .select(concat(lit(" "), $"t1", lit(" "), $"t2", lit(" ")).as("pat"),
          concat(lit(" "), $"t1", $"t2", lit(" ")).as("rep"))
      val merged = wf.crossJoin(broadcast(m1))
        .select($"freq", expr(
          "replace(replace(replace(replace(seq, pat, rep), pat, rep), pat, rep), pat, rep)")
          .as("seq"))
      val c2 = pairCounts(merged)
      top5(c1, 1).unionByName(top5(c2, 2)).orderBy($"round", $"rank")
    }, {
      val pairsOver = (src: String) =>
        s"""SELECT t1, t2, sum(freq) AS cnt FROM (
           |  SELECT freq, tk[CAST(i + 1 AS INTEGER)] AS t1, tk[CAST(i + 2 AS INTEGER)] AS t2
           |  FROM (SELECT freq, regexp_split_to_array(trim(seq), ' ') AS tk FROM $src),
           |       unnest(range(len(tk) - 1)) t(i)
           |  WHERE len(tk) >= 2) GROUP BY 1, 2""".stripMargin
      s"""WITH bwf AS (
         |  SELECT count(*) AS freq, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS seq
         |  FROM (SELECT unnest(${wordsSql("text")}) AS w FROM documents)
         |  WHERE w <> '' GROUP BY w),
         |bp1 AS MATERIALIZED (${pairsOver("bwf")}),
         |bm1 AS (SELECT ' ' || t1 || ' ' || t2 || ' ' AS pat, ' ' || t1 || t2 || ' ' AS rep
         |        FROM bp1 ORDER BY cnt DESC, t1, t2 LIMIT 1),
         |bseq2 AS (
         |  SELECT freq,
         |         replace(replace(replace(replace(seq, pat, rep), pat, rep), pat, rep), pat, rep) AS seq
         |  FROM bwf, bm1),
         |bp2 AS (${pairsOver("bseq2")}),
         |br1 AS (SELECT 1 AS round, CAST(row_number() OVER (ORDER BY cnt DESC, t1, t2) AS INTEGER) AS rank,
         |               t1 || '+' || t2 AS pair, cnt
         |        FROM bp1 ORDER BY cnt DESC, t1, t2 LIMIT 5),
         |br2 AS (SELECT 2 AS round, CAST(row_number() OVER (ORDER BY cnt DESC, t1, t2) AS INTEGER) AS rank,
         |               t1 || '+' || t2 AS pair, cnt
         |        FROM bp2 ORDER BY cnt DESC, t1, t2 LIMIT 5)
         |SELECT round, rank, pair, CAST(cnt AS BIGINT) AS cnt
         |FROM (SELECT * FROM br1 UNION ALL SELECT * FROM br2)
         |ORDER BY round, rank""".stripMargin
    }),
    // ---- TRAINED language ID (Cavnar–Trenkle 1994 textcat): top-100
    // char-trigram rank profiles per language from the 80% train
    // split, tf·rank-weight scoring over the test split, confusion
    // census vs the labeled lang column. One corpus explode, profile
    // broadcast (langs·topM rows), per-doc argmax heap. The labels are
    // fixture-synthetic (same vocabulary per lang) so the confusion
    // matrix is near-uniform — the MACHINERY (trained profile model +
    // scoring join) is the operator; real corpora give it signal. ----
    Entry("text_langid_ngram", (s, dir) =>
      ops.TextAnalysis.langIdNgram(s.read.parquet(t(dir, "documents")),
        "doc_id", "lang", "text",
        isTrain = org.apache.spark.sql.functions.col("doc_id") % 5 < 4),
      ops.TextAnalysis.langIdNgramSql("doc_id % 5 < 4")),
    // ---- BPE APPLY (Sennrich et al. 2016): train 4 greedy merges,
    // tokenize the corpus with them, census the top-20 tokens — the
    // encode half of the tokenizer loop (text_bpe_merges pins the
    // train half's candidate ranking). Only the word-frequency agg is
    // corpus-sized; every merge round runs on the O(vocab) state with
    // the argmax as a 1-row broadcast. Both engines unroll the same 4
    // data-independent rounds. ----
    Entry("text_bpe_apply", (s, dir) =>
      ops.Bpe.tokenCensus(s.read.parquet(t(dir, "documents")),
        org.apache.spark.sql.functions.col("text"), rounds = 4, topN = 20),
      ops.Bpe.tokenCensusSql(wordsSql("text"), rounds = 4, topN = 20)),
    // ---- BPE exhausted-vocab guard, oracle-checked: the corpus is each
    // document's FIRST CHARACTER, so every word is a single symbol and
    // the very first merge round finds zero candidate pairs. Both
    // engines must fall back to a no-op merge (Spark: applyTop's NUL
    // sentinel; SQL: the chr(1) union branch) instead of cross-joining
    // an empty merge row and wiping the state — the census below is
    // non-empty only if the guard works. ----
    Entry("text_bpe_exhaust", (s, dir) => {
      import s.implicits._
      ops.Bpe.tokenCensus(
        s.read.parquet(t(dir, "documents")).select(substring($"text", 1, 1).as("text")),
        $"text", rounds = 2, topN = 20)
    },
      ops.Bpe.tokenCensusSql(wordsSql("substr(text, 1, 1)"), rounds = 2, topN = 20)),
    // ---- interpolated Kneser–Ney bigram scoring (Chen & Goodman 1998
    // — the smoothing the CCNet/KenLM quality filters actually use,
    // one rung up from text_bigram_lm's add-1): discounted bigram mass
    // interpolated with the CONTINUATION unigram (how many distinct
    // left-contexts a word has, not how often it occurs — "francisco"
    // is frequent but single-context and correctly gets a tiny backoff
    // weight). All model state is (w1,w2)-/w1-/w2-keyed count shuffles
    // plus one broadcast (T, V) row; unseen-context rows back off to
    // the continuation LM with a deterministic 1/(T+V) floor so the
    // NLL stays finite on both engines. ----
    Entry("text_kneser_ney", (s, dir) => {
      import s.implicits._
      val D = 0.75
      val tok = graft.core.PlanCache.persist(
        s.read.parquet(t(dir, "documents"))
          .select($"doc_id", posexplode(ops.TextPrimitives.words($"text")).as(Seq("pos", "w"))))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id").orderBy($"pos")
      val bi = graft.core.PlanCache.persist(
        tok.withColumn("w2", lead($"w", 1).over(win))
          .where($"w2".isNotNull)
          .select($"doc_id", $"w".as("w1"), $"w2"))
      val train = bi.where($"doc_id" % 5 < 4)
      val cb = graft.core.PlanCache.persist(
        train.groupBy($"w1", $"w2").agg(count(lit(1)).as("c")))
      val cu = train.groupBy($"w1")
        .agg(count(lit(1)).as("c1"), countDistinct($"w2").as("n1f"))
      val n1b = cb.groupBy($"w2").agg(count(lit(1)).as("nb"))
      val st = cb.agg(count(lit(1)).as("tt"))
        .crossJoin(tok.where($"doc_id" % 5 < 4).agg(countDistinct($"w").as("v")))
      val eps = lit(1.0) / ($"tt" + $"v")
      val pcont = coalesce($"nb".cast("double") / $"tt", eps)
      val p = when($"c1".isNull, pcont)
        .otherwise(
          greatest(coalesce($"c", lit(0L)).cast("double") - lit(D), lit(0.0)) / $"c1"
            + lit(D) * $"n1f".cast("double") / $"c1" * pcont)
      bi.where($"doc_id" % 5 === 4)
        .join(cb, Seq("w1", "w2"), "left_outer")
        .join(cu, Seq("w1"), "left_outer")
        .join(n1b, Seq("w2"), "left_outer")
        .crossJoin(broadcast(st))
        .select($"doc_id", (-log(p)).as("nl"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          RoundPortableExpr.r(sum($"nl") / count(lit(1)), 4).as("kn_nll"))
    },
      s"""WITH tw AS (SELECT doc_id, ${wordsSql("text")} AS ws FROM documents),
         |ix AS (SELECT doc_id, ws, unnest(range(len(ws) - 1)) AS i FROM tw WHERE len(ws) >= 2),
         |bi AS (SELECT doc_id, ws[CAST(i + 1 AS INTEGER)] AS w1, ws[CAST(i + 2 AS INTEGER)] AS w2 FROM ix),
         |cb AS (SELECT w1, w2, count(*) AS c FROM bi WHERE doc_id % 5 < 4 GROUP BY 1, 2),
         |cu AS (SELECT w1, count(*) AS c1, count(DISTINCT w2) AS n1f
         |       FROM bi WHERE doc_id % 5 < 4 GROUP BY 1),
         |n1b AS (SELECT w2, count(*) AS nb FROM cb GROUP BY 1),
         |tt AS (SELECT count(*) AS tt FROM cb),
         |vv AS (SELECT count(DISTINCT w) AS v
         |       FROM (SELECT unnest(ws) AS w FROM tw WHERE doc_id % 5 < 4)),
         |ho AS (SELECT bi.doc_id,
         |         CASE WHEN cu.c1 IS NULL
         |              THEN coalesce(CAST(n1b.nb AS DOUBLE) / tt.tt, 1.0 / (tt.tt + vv.v))
         |              ELSE greatest(CAST(coalesce(cb.c, 0) AS DOUBLE) - 0.75, 0.0) / cu.c1
         |                   + 0.75 * CAST(cu.n1f AS DOUBLE) / cu.c1
         |                     * coalesce(CAST(n1b.nb AS DOUBLE) / tt.tt, 1.0 / (tt.tt + vv.v))
         |         END AS p
         |       FROM bi LEFT JOIN cb USING (w1, w2) LEFT JOIN cu USING (w1)
         |               LEFT JOIN n1b USING (w2) CROSS JOIN tt CROSS JOIN vv
         |       WHERE bi.doc_id % 5 = 4)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |       round(sum(-ln(p)) / count(*), 4) AS kn_nll
         |FROM ho GROUP BY 1""".stripMargin),
    // ---- per-source token-budget packing (data mixing under a fixed
    // token budget): longest-first greedy fill per source via a
    // windowed running token sum, cut at the budget. One shuffle keyed
    // by source; the window never sees more than one source's docs. ----
    Entry("text_token_budget", (s, dir) => {
      import s.implicits._
      val d = s.read.parquet(t(dir, "documents"))
        .select($"doc_id", $"source", size(ops.TextPrimitives.words($"text")).as("n_tok"))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy($"source").orderBy($"n_tok".desc, $"doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      d.withColumn("cum", sum($"n_tok").over(win))
        .where($"cum" <= 20000)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").cast("long").as("n_tokens"))
    },
      s"""WITH d AS (SELECT doc_id, source, len(${wordsSql("text")}) AS n_tok FROM documents),
         |c AS (SELECT source, n_tok,
         |             sum(n_tok) OVER (PARTITION BY source
         |                              ORDER BY n_tok DESC, doc_id
         |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |      FROM d)
         |SELECT source, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
         |FROM c WHERE cum <= 20000 GROUP BY 1""".stripMargin),
    // ---- Shannon-entropy quality signals: char-level (repetition /
    // garbage detector) and token-level (vocabulary collapse detector)
    // in one codegen kernel pass per row; map-only. ----
    // ---- distinct-n diversity (the distinct-1/2/3 corpus metric of
    // Li et al. 2016, the repetition complement of per-doc entropy):
    // unique n-grams / total n-gram occurrences per language. One
    // corpus pass: the three per-doc-DISTINCT shingle arrays ride one
    // explode tagged by n (union of per-doc distinct = corpus
    // distinct), totals are map-side length arithmetic — the only
    // shuffles are the (lang, n, gram) distinct and a 15-row join. ----
    Entry("text_distinct_ngrams", (s, dir) => {
      import s.implicits._
      val ns = Seq(1, 2, 3)
      val base = s.read.parquet(t(dir, "documents"))
        .select($"lang", size(ops.TextPrimitives.words($"text")).as("len"), $"text")
      val totals = base
        .select($"lang", explode(array(ns.map(lit): _*)).as("n"), $"len")
        .groupBy($"lang", $"n")
        .agg(sum(greatest($"len" - $"n" + 1, lit(0))).as("total"))
      val distincts = base
        .select($"lang", explode(concat(ns.map(n => transform(
          graft.functions.TextExprs.shingles($"text", n),
          g => struct(lit(n).as("n"), g.as("g")))): _*)).as("s"))
        .groupBy($"lang", $"s.n".as("n"))
        .agg(countDistinct($"s.g").as("n_distinct"))
      totals.join(distincts, Seq("lang", "n"))
        .select($"lang", $"n", $"total", $"n_distinct",
          RoundPortableExpr.r($"n_distinct".cast("double") / $"total", 6)
            .as("distinct_ratio"))
    },
      s"""WITH w AS (SELECT lang, ${wordsSql("text")} AS ws FROM documents),
         |t AS (
         |  SELECT lang, v.n AS n,
         |         CAST(sum(greatest(len(ws) - v.n + 1, 0)) AS BIGINT) AS total
         |  FROM w, (VALUES (1), (2), (3)) v(n) GROUP BY 1, 2),
         |g AS (
         |  SELECT lang, 1 AS n, unnest(${shinglesSql("ws", 1)}) AS g FROM w
         |  UNION ALL SELECT lang, 2, unnest(${shinglesSql("ws", 2)}) FROM w
         |  UNION ALL SELECT lang, 3, unnest(${shinglesSql("ws", 3)}) FROM w),
         |d AS (SELECT lang, n, CAST(count(DISTINCT g) AS BIGINT) AS n_distinct
         |      FROM g GROUP BY 1, 2)
         |SELECT t.lang, t.n, t.total, d.n_distinct,
         |       round(d.n_distinct::DOUBLE / t.total, 6) AS distinct_ratio
         |FROM t JOIN d USING (lang, n)""".stripMargin),
    Entry("text_entropy", (s, dir) => {
      import s.implicits._
      s.read.parquet(t(dir, "documents"))
        .select($"doc_id", graft.functions.TextEntropyExpr.col($"text").as("e"))
        .select($"doc_id", $"e.h_char", $"e.h_token")
    },
      s"""WITH ch AS (SELECT doc_id, unnest(string_split(lower(text), '')) AS c FROM documents),
         |cf AS (SELECT doc_id, c, count(*) AS n FROM ch GROUP BY 1, 2),
         |ct AS (SELECT doc_id, sum(n) AS nn FROM cf GROUP BY 1),
         |hc AS (SELECT cf.doc_id,
         |              round(-sum((n::DOUBLE / nn) * ln(n::DOUBLE / nn)), 4) AS h_char
         |       FROM cf JOIN ct USING (doc_id) GROUP BY 1),
         |tk AS (SELECT doc_id, unnest(${wordsSql("text")}) AS w FROM documents),
         |tf AS (SELECT doc_id, w, count(*) AS n FROM tk GROUP BY 1, 2),
         |tt AS (SELECT doc_id, sum(n) AS nn FROM tf GROUP BY 1),
         |ht AS (SELECT tf.doc_id,
         |              round(-sum((n::DOUBLE / nn) * ln(n::DOUBLE / nn)), 4) AS h_token
         |       FROM tf JOIN tt USING (doc_id) GROUP BY 1)
         |SELECT doc_id, h_char, h_token FROM hc JOIN ht USING (doc_id)""".stripMargin),
    // ---- length-bucketed batching audit: bucket docs by
    // floor(log2(token count)) — the dataloader bucketing that keeps
    // same-batch sequences similar length — and measure the padding
    // waste a bucket-upper-bound pad policy pays per bucket. Map-only
    // until one small aggregate. ----
    Entry("text_length_buckets", (s, dir) => {
      import s.implicits._
      val toks = s.read.parquet(t(dir, "documents"))
        .select($"doc_id",
          size(ops.TextPrimitives.words($"text")).cast("long").as("n_tokens"))
        .where($"n_tokens" > 0)
      val b = toks.withColumn("bucket",
        expr("cast(floor(log2(cast(n_tokens as double))) as bigint)"))
      b.groupBy($"bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_tokens").as("actual_tokens"),
          (count(lit(1)) *
            (expr("shiftleft(cast(1 as bigint), cast(bucket + 1 as int))") - 1))
            .as("padded_tokens"))
        .select($"bucket", $"n_docs", $"actual_tokens",
          graft.functions.RoundPortableExpr.r(
            ($"padded_tokens" - $"actual_tokens").cast("double") / $"padded_tokens", 4)
            .as("pad_waste"))
    },
      s"""WITH toks AS (
         |  SELECT doc_id, CAST(len(${wordsSql("text")}) AS BIGINT) AS n_tokens
         |  FROM documents),
         |b AS (SELECT doc_id, n_tokens,
         |             CAST(floor(log2(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS bucket
         |      FROM toks WHERE n_tokens > 0),
         |agg AS (
         |  SELECT bucket, count(*) AS n_docs,
         |         CAST(sum(n_tokens) AS BIGINT) AS actual_tokens,
         |         CAST(count(*) * ((1::BIGINT << (bucket + 1)) - 1) AS BIGINT) AS padded_tokens
         |  FROM b GROUP BY 1)
         |SELECT bucket, n_docs, actual_tokens,
         |       round((padded_tokens - actual_tokens)::DOUBLE / padded_tokens, 4) AS pad_waste
         |FROM agg""".stripMargin),
    // ---- weighted sampling without replacement (Efraimidis–Spirakis
    // A-ES): key_i = -ln(u_i)/w_i with u_i a DETERMINISTIC md5-uniform —
    // the k smallest keys are a weighted sample, computable as one
    // map pass + a TakeOrdered heap, no RNG state, reproducible across
    // engines/shards/reruns. Weight = document length (longer docs
    // proportionally likelier). ----
    Entry("text_weighted_sample", (s, dir) => {
      import s.implicits._
      val h = conv(substring(md5(concat(lit("samp2:"), $"doc_id".cast("string"))), 1, 15), 16, 10)
        .cast("long")
      s.read.parquet(t(dir, "documents"))
        .select($"doc_id", $"n_chars",
          (((h % 1000000L).cast("double") + 0.5) / lit(1000000.0)).as("u"))
        .select($"doc_id", $"n_chars",
          (-log(col("u")) / $"n_chars".cast("double")).as("k0"))
        .select($"doc_id", $"n_chars",
          graft.functions.RoundPortableExpr.r($"k0", 6).as("key"))
        .orderBy($"key".asc, $"doc_id".asc)
        .limit(40)
        .select($"doc_id", $"n_chars", graft.functions.RoundPortableExpr.r($"key", 4).as("skey"))
    },
      s"""WITH k AS (
         |  SELECT doc_id, n_chars,
         |         round(-ln((${hexLongSql("'samp2:' || CAST(doc_id AS VARCHAR)")} % 1000000 + 0.5) / 1000000.0)
         |               / n_chars, 6) AS key
         |  FROM documents)
         |SELECT doc_id, n_chars, round(key, 4) AS skey
         |FROM k ORDER BY key ASC, doc_id ASC LIMIT 40""".stripMargin),
    // ---- DSIR importance resampling (Xie et al. 2023): select the
    // top-k docs whose hashed-unigram distribution looks most like the
    // target domain (source = 'src1' here) relative to the raw corpus.
    // One explode pass, two 64-row count tables, broadcast log-weight
    // join, TakeOrderedAndProject — linear at 100 TB. ----
    Entry("text_dsir_select", (s, dir) => {
      import s.implicits._
      TextAnalysis.dsirScores(s.read.parquet(t(dir, "documents")),
        "doc_id", "text", isTarget = $"source" === "src1", buckets = 64, topK = 50)
    },
      s"""WITH bt AS (
         |  SELECT doc_id, source = 'src1' AS t,
         |         ${hexLongSql("w")} % 64 AS b
         |  FROM (SELECT doc_id, source, unnest(${wordsSql("text")}) AS w FROM documents)),
         |db AS (SELECT doc_id, b, count(*) AS n FROM bt GROUP BY 1, 2),
         |src AS (SELECT b, count(*) AS cs FROM bt GROUP BY 1),
         |tgt AS (SELECT b, count(*) AS ct FROM bt WHERE t GROUP BY 1),
         |lw AS (
         |  SELECT src.b,
         |         ln((coalesce(ct, 0) + 1)::DOUBLE / ((SELECT sum(coalesce(ct, 0)) FROM src LEFT JOIN tgt ON src.b = tgt.b) + 64))
         |       - ln((cs + 1)::DOUBLE / ((SELECT sum(cs) FROM src) + 64)) AS lw
         |  FROM src LEFT JOIN tgt ON src.b = tgt.b),
         |sc AS (SELECT doc_id, sum(n * lw) AS s FROM db JOIN lw USING (b) GROUP BY 1)
         |SELECT doc_id, round(s, 4) AS dsir_score
         |FROM sc ORDER BY round(s, 6) DESC, doc_id LIMIT 50""".stripMargin),
    // ---- Gopher quality rules (Rae et al. 2021): the published filter
    // battery as per-doc flags, audited per language — pass count plus
    // per-rule rejection counts (which rule fires is the actionable
    // signal when tuning a corpus filter). One kernel pass per row. ----
    Entry("text_quality_gopher", (s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(t(dir, "documents"))
      TextAnalysis.gopherQuality(docs.select($"doc_id", $"lang", $"text"), "doc_id", "text")
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"r_words" && $"r_wlen" && $"r_symbol" && $"r_alpha" && $"r_stop", 1L)
            .otherwise(0L)).as("n_pass"),
          sum(when($"r_words" && $"r_wlen" && $"r_symbol" && $"r_alpha", 1L)
            .otherwise(0L)).as("n_pass_core"),
          sum(when(!$"r_words", 1L).otherwise(0L)).as("n_fail_words"),
          sum(when(!$"r_wlen", 1L).otherwise(0L)).as("n_fail_wlen"),
          sum(when(!$"r_symbol", 1L).otherwise(0L)).as("n_fail_symbol"),
          sum(when(!$"r_alpha", 1L).otherwise(0L)).as("n_fail_alpha"),
          sum(when(!$"r_stop", 1L).otherwise(0L)).as("n_fail_stop"))
    },
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
         |          / len(ws), 4) AS alpha_frac,
         |    len(list_filter(['the','be','to','of','and','that','have','with'],
         |                    sw -> list_contains(ws, sw))) AS stop_hits
         |  FROM base),
         |r AS (
         |  SELECT lang,
         |    (n_words BETWEEN 50 AND 100000) AS r_words,
         |    (mean_word_len BETWEEN 3.0 AND 10.0) AS r_wlen,
         |    (symbol_ratio <= 0.1) AS r_symbol,
         |    (alpha_frac >= 0.8) AS r_alpha,
         |    (stop_hits >= 2) AS r_stop
         |  FROM m)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN r_words AND r_wlen AND r_symbol AND r_alpha AND r_stop
         |                THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
         |  CAST(sum(CASE WHEN r_words AND r_wlen AND r_symbol AND r_alpha
         |                THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_core,
         |  CAST(sum(CASE WHEN NOT r_words THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_words,
         |  CAST(sum(CASE WHEN NOT r_wlen THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_wlen,
         |  CAST(sum(CASE WHEN NOT r_symbol THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_symbol,
         |  CAST(sum(CASE WHEN NOT r_alpha THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_alpha,
         |  CAST(sum(CASE WHEN NOT r_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_stop
         |FROM r GROUP BY 1""".stripMargin),
    // ---- text analysis ----
    Entry("text_profile", (s, dir) =>
      TextAnalysis.profile(s.read.parquet(t(dir, "documents")), "doc_id", "text"),
      s"""SELECT doc_id,
         |       ${TextAnalysis.langIdSqlCase("ws")} AS pred_lang,
         |       ${TextAnalysis.fingerprintSql("ws")} AS fingerprint,
         |       ${TextAnalysis.qualitySqlSelect("ltext", "ws")},
         |       ${TextAnalysis.tokenSqlSelect("ltext", "ws")}
         |FROM (SELECT doc_id, lower(text) AS ltext, ${wordsSql("text")} AS ws FROM documents)""".stripMargin),
    Entry("text_winnow", (s, dir) => {
      import s.implicits._
      TextAnalysis.winnowFingerprints(
          s.read.parquet(t(dir, "documents")).where($"doc_id" < 500), "doc_id", "text")
        // checker-safe scalar (see agg_kmv_sketch)
        .select($"doc_id",
          array_join(transform($"fingerprints", _.cast("string")), ",").as("fingerprints"))
    },
      s"""WITH h AS (SELECT doc_id, ${winnowHashesSql("text", 8)} AS hs
         |           FROM documents WHERE doc_id < 500)
         |SELECT doc_id, array_to_string(list_transform(${winnowFromHashesSql("hs", 4)},
         |       x -> CAST(x AS VARCHAR)), ',') AS fingerprints FROM h""".stripMargin),
    // ---- Zipf's-law fit over the corpus token frequencies: ln(freq)
    // regressed on ln(rank) for the top-200 tokens (slope ≈ −1 on
    // natural text — a standard corpus-health diagnostic). One
    // explode→count shuffle linear in tokens, then the regression runs
    // on the bounded top-k via built-in regr_slope/regr_intercept. ----
    Entry("text_zipf", (s, dir) => {
      import s.implicits._
      val freq = s.read.parquet(t(dir, "documents"))
        .select(explode(words($"text")).as("tok"))
        .where(length($"tok") > 0)
        .groupBy($"tok").agg(count(lit(1)).as("f"))
      val ranked = freq
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy($"f".desc, $"tok".asc)))
        .where($"rank" <= 200)
      ranked.agg(
        count(lit(1)).as("n_tokens"),
        RoundPortableExpr.r(expr("regr_slope(ln(f), ln(rank))"), 4).as("slope"),
        RoundPortableExpr.r(expr("regr_intercept(ln(f), ln(rank))"), 4).as("intercept"))
    },
      s"""WITH toks AS (SELECT unnest(${wordsSql("text")}) AS tok FROM documents),
         |freq AS (SELECT tok, count(*) AS f FROM toks WHERE len(tok) > 0 GROUP BY 1),
         |ranked AS (SELECT f, row_number() OVER (ORDER BY f DESC, tok) AS rank FROM freq)
         |SELECT CAST(count(*) AS BIGINT) AS n_tokens,
         |       round(regr_slope(ln(f), ln(rank)), 4) AS slope,
         |       round(regr_intercept(ln(f), ln(rank)), 4) AS intercept
         |FROM ranked WHERE rank <= 200""".stripMargin),
    // ---- per-document keyword extraction: top-5 tokens by raw-tf ×
    // ln(N/df) TF-IDF — the tagging/indexing primitive next to the
    // fitted-vector tfidf embedder. Two token-keyed aggs (tf, df),
    // both map-side combined and linear in corpus tokens; the N census
    // broadcasts; top-k is a doc-keyed window. Score is IEEE-exact
    // from integer counts before the 6-decimal round. ----
    Entry("text_keywords_tfidf", (s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(t(dir, "documents"))
      val nRow = docs.agg(count(lit(1)).as("n"))
      val tf = docs.select($"doc_id", explode(words($"text")).as("tok"))
        .where(length($"tok") > 0)
        .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
      val dfTbl = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
      val scored = tf.join(dfTbl, "tok").crossJoin(broadcast(nRow))
        .select($"doc_id", $"tok",
          RoundPortableExpr.r(
            $"tf".cast("double") * log($"n".cast("double") / $"df"), 6)
            .as("tfidf"))
      val wtop = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id").orderBy($"tfidf".desc, $"tok".asc)
      scored.withColumn("rank", row_number().over(wtop).cast("long"))
        .where($"rank" <= 5)
        .select($"doc_id", $"rank", $"tok", $"tfidf")
    },
      s"""WITH tk AS MATERIALIZED (
         |  SELECT doc_id, tok FROM (
         |    SELECT doc_id, unnest(${wordsSql("text")}) AS tok FROM documents)
         |  WHERE len(tok) > 0),
         |tf AS MATERIALIZED (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
         |                    FROM tk GROUP BY 1, 2),
         |dfp AS MATERIALIZED (SELECT tok, CAST(count(*) AS BIGINT) AS df
         |                     FROM tf GROUP BY 1),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |sc AS (SELECT doc_id, tok,
         |              round(CAST(tf AS DOUBLE) * ln(CAST(n AS DOUBLE) / df), 6)
         |                AS tfidf
         |       FROM tf JOIN dfp USING (tok), nn)
         |SELECT doc_id, rank, tok, tfidf FROM (
         |  SELECT doc_id, tok, tfidf,
         |         row_number() OVER (PARTITION BY doc_id
         |                            ORDER BY tfidf DESC, tok) AS rank
         |  FROM sc) WHERE rank <= 5""".stripMargin),
    // ---- PMI bigram collocations (Church & Hanks 1990) — the
    // phrase-mining screen corpus curation runs before tokenizer
    // training. One posexplode + lead() bigram pass (persisted — four
    // consumers), pair/marginal censuses are map-side-combined aggs,
    // top-30 is a TakeOrderedAndProject. The ORDER key is the exact
    // rational c12·N/(c1·c2) (two exact int64 products, one IEEE
    // division — engine-independent), NOT the ln (libm vs StrictMath
    // could flip last-ulp near-ties); ln only decorates the output,
    // rounded. Floor c12 ≥ 5 keeps noise pairs out and bites at every
    // SF (916 → 900 pairs at sf0.01). ----
    Entry("text_collocations", (s, dir) => {
      import s.implicits._
      val tok = s.read.parquet(t(dir, "documents"))
        .select($"doc_id",
          posexplode(ops.TextPrimitives.words($"text")).as(Seq("pos", "w")))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id").orderBy($"pos")
      val bi = graft.core.PlanCache.persist(
        tok.withColumn("w2", lead($"w", 1).over(win))
          .where($"w2".isNotNull)
          .select($"w".as("w1"), $"w2"))
      val cb = bi.groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
        .where($"c12" >= 5)
      val c1 = bi.groupBy($"w1").agg(count(lit(1)).as("n1"))
      val c2 = bi.groupBy($"w2").agg(count(lit(1)).as("n2"))
      val nb = bi.agg(count(lit(1)).as("nb"))
      cb.join(c1, "w1").join(c2, "w2").crossJoin(broadcast(nb))
        .withColumn("ratio",
          ($"c12" * $"nb").cast("double") / ($"n1" * $"n2").cast("double"))
        .orderBy($"ratio".desc, $"w1", $"w2").limit(30)
        .select($"w1", $"w2", $"c12",
          RoundPortableExpr.r(log($"ratio"), 6).as("pmi"))
    },
      s"""WITH tw AS (SELECT doc_id, ${wordsSql("text")} AS ws FROM documents),
         |ix AS (SELECT doc_id, ws, unnest(range(len(ws) - 1)) AS i FROM tw WHERE len(ws) >= 2),
         |bi AS (SELECT ws[CAST(i + 1 AS INTEGER)] AS w1, ws[CAST(i + 2 AS INTEGER)] AS w2 FROM ix),
         |cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bi GROUP BY 1, 2
         |       HAVING count(*) >= 5),
         |m1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS n1 FROM bi GROUP BY 1),
         |m2 AS (SELECT w2, CAST(count(*) AS BIGINT) AS n2 FROM bi GROUP BY 1),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM bi),
         |sc AS (SELECT cb.w1, cb.w2, cb.c12,
         |              CAST(cb.c12 * nt.nb AS DOUBLE) / CAST(m1.n1 * m2.n2 AS DOUBLE) AS ratio
         |       FROM cb JOIN m1 USING (w1) JOIN m2 USING (w2) CROSS JOIN nt)
         |SELECT w1, w2, c12, round(ln(ratio), 6) AS pmi
         |FROM sc ORDER BY ratio DESC, w1, w2 LIMIT 30""".stripMargin),
    // ---- type-token ratio + hapax-legomena profile per source — the
    // lexical-diversity screen corpus curation reads next to Zipf/
    // entropy (template-generated or boilerplate-heavy sources show up
    // as low TTR, scraped natural text as high hapax mass). One token
    // explode persisted for its two consumers; the type census is
    // (source, word)-keyed — vocabulary-sized, never corpus-row-scale
    // after the map-side combine. ----
    Entry("text_ttr", (s, dir) => {
      import s.implicits._
      val tok = graft.core.PlanCache.persist(
        s.read.parquet(t(dir, "documents"))
          .select($"source", explode(ops.TextPrimitives.words($"text")).as("w"))
          .where($"w" =!= ""))
      val types = tok.groupBy($"source", $"w").agg(count(lit(1)).as("c"))
      val a1 = tok.groupBy($"source").agg(count(lit(1)).as("n_tokens"))
      val a2 = types.groupBy($"source").agg(count(lit(1)).as("n_types"),
        sum(when($"c" === 1L, 1L).otherwise(0L)).as("n_hapax"))
      a1.join(a2, "source")
        .select($"source", $"n_tokens", $"n_types", $"n_hapax",
          RoundPortableExpr.r(
            $"n_types".cast("double") / $"n_tokens".cast("double"), 6).as("ttr"),
          RoundPortableExpr.r(
            $"n_hapax".cast("double") / $"n_types".cast("double"), 6).as("hapax_rate"))
    },
      s"""WITH tok AS (SELECT source, unnest(${wordsSql("text")}) AS w FROM documents),
         |tk AS (SELECT source, w FROM tok WHERE w <> ''),
         |ty AS (SELECT source, w, count(*) AS c FROM tk GROUP BY 1, 2),
         |a1 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_tokens FROM tk GROUP BY 1),
         |a2 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_types,
         |              CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
         |       FROM ty GROUP BY 1)
         |SELECT source, n_tokens, n_types, n_hapax,
         |       round(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS ttr,
         |       round(CAST(n_hapax AS DOUBLE) / CAST(n_types AS DOUBLE), 6) AS hapax_rate
         |FROM a1 JOIN a2 USING (source)""".stripMargin),
    // ---- pairwise total-variation distance between source unigram
    // distributions — the corpus-mix drift matrix (a source whose
    // vocabulary distribution diverges from its siblings is a crawl or
    // template change). TV = 1 − Σ_w min(p1, p2) needs only the INNER
    // join on shared words, and min(c1/T1, c2/T2) =
    // min(c1·T2, c2·T1)/(T1·T2) keeps the whole sum in exact
    // decimal(38,0) cross-products (c·T passes int64 at 100×) — one
    // division per pair at the end. Vocab-keyed join, |sources|²
    // bounded output. ----
    Entry("text_source_tv", (s, dir) => {
      import s.implicits._
      val census = graft.core.PlanCache.persist(
        s.read.parquet(t(dir, "documents"))
          .select($"source", explode(ops.TextPrimitives.words($"text")).as("w"))
          .where($"w" =!= "")
          .groupBy($"source", $"w").agg(count(lit(1)).as("c")))
      val tot = census.groupBy($"source").agg(sum($"c").as("tt"))
      val a = census.join(tot, "source")
        .select($"source".as("s1"), $"w", $"c".as("c1"), $"tt".as("t1"))
      val b = census.join(tot, "source")
        .select($"source".as("s2"), $"w", $"c".as("c2"), $"tt".as("t2"))
      a.join(b, Seq("w")).where($"s1" < $"s2")
        .select($"s1", $"s2", $"t1", $"t2",
          least($"c1".cast("decimal(38,0)") * $"t2",
            $"c2".cast("decimal(38,0)") * $"t1").as("mn"))
        .groupBy($"s1", $"s2", $"t1", $"t2")
        .agg(sum($"mn").as("smin"))
        .select($"s1", $"s2",
          RoundPortableExpr.r(lit(1.0) - $"smin".cast("double") /
            ($"t1".cast("decimal(38,0)") * $"t2").cast("double"), 6).as("tv"))
    },
      s"""WITH census AS MATERIALIZED (
         |  SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM (
         |    SELECT source, unnest(${wordsSql("text")}) AS w FROM documents)
         |  WHERE w <> '' GROUP BY 1, 2),
         |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS tt FROM census GROUP BY 1),
         |a AS (SELECT source AS s1, w, c AS c1, tt AS t1 FROM census JOIN tot USING (source)),
         |b AS (SELECT source AS s2, w, c AS c2, tt AS t2 FROM census JOIN tot USING (source)),
         |j AS (SELECT s1, s2, t1, t2,
         |             least(CAST(c1 AS DECIMAL(38,0)) * t2,
         |                   CAST(c2 AS DECIMAL(38,0)) * t1) AS mn
         |      FROM a JOIN b USING (w) WHERE s1 < s2),
         |g AS (SELECT s1, s2, t1, t2, sum(mn) AS smin FROM j GROUP BY 1, 2, 3, 4)
         |SELECT s1, s2,
         |       round(1.0e0 - CAST(smin AS DOUBLE)
         |             / CAST(CAST(t1 AS DECIMAL(38,0)) * t2 AS DOUBLE), 6) AS tv
         |FROM g""".stripMargin)
  )
}
