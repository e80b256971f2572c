package graft
package registry

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.filters.Filters
import graft.functions.{RoundPortableExpr, VectorFunctions}
import graft.ops.TextPrimitives._
import graft.SparkEntry.t

/** The vector-table surface: k-NN, JSON filters, the gvdb source and
  * catalog, row-level DML and the `VectorDB` facade (`vdb_*`). */
object VdbEntries {
  def all: Seq[Entry] = Seq(
    // ---- reference parity: filtered k-NN (P1, F1, T1-T3, D1) ----
    Entry("vdb_knn", (s, dir) => {
      import s.implicits._
      val emb = s.read.parquet(t(dir, "embeddings"))
      val q = emb.filter($"vec_id" === 0).select($"embedding".as("qvec"))
      emb.crossJoin(broadcast(q))
        .select($"vec_id",
          RoundPortableExpr.r(VectorFunctions.cosineDistance($"embedding", $"qvec"), 4).as("distance"))
        .orderBy($"distance".asc, $"vec_id".asc)
        .limit(10)
    },
      """SELECT e.vec_id,
        |       round(1 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                        CAST(q.embedding AS DOUBLE[])), 4) AS distance
        |FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |ORDER BY distance, vec_id LIMIT 10""".stripMargin),
    Entry("vdb_knn_filtered", (s, dir) => {
      import s.implicits._
      val emb = s.read.parquet(t(dir, "embeddings"))
      val q = emb.filter($"vec_id" === 0).select($"embedding".as("qvec"))
      emb.where($"label" === 2)
        .crossJoin(broadcast(q))
        .select($"vec_id",
          RoundPortableExpr.r(VectorFunctions.cosineDistance($"embedding", $"qvec"), 4).as("distance"))
        .orderBy($"distance".asc, $"vec_id".asc)
        .limit(5)
    },
      """SELECT e.vec_id,
        |       round(1 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                        CAST(q.embedding AS DOUBLE[])), 4) AS distance
        |FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |WHERE e.label = 2
        |ORDER BY distance, vec_id LIMIT 5""".stripMargin),
    // ---- reference lifecycle §3.1 END-TO-END: embed corpus text
    // partition-parallel (U3), embed the query string driver-side (U4,
    // vector enters the plan as a literal), brute-force cosine top-k.
    // The md5-based hashing embedder has an exact DuckDB SQL twin, so
    // even the embedding fabric is differentially checked. ----
    Entry("vdb_embed_knn", (s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(t(dir, "documents")).select($"doc_id", $"text")
      val embedded = graft.embed.EmbedOps.withEmbedding(docs, "text", "hashing")
      val qvec = graft.embed.Embedders.forName("hashing").embed("distributed query engine")
      embedded.select($"doc_id",
          RoundPortableExpr.r(VectorFunctions.cosineDistance($"embedding", typedlit(qvec)), 4).as("distance"))
        .orderBy($"distance".asc, $"doc_id".asc)
        .limit(10)
    },
      s"""WITH acc AS (SELECT doc_id, ${hashingEmbedAccSql("text", 64)} AS a FROM documents),
         |     e AS (SELECT doc_id, ${hashingEmbedNormSql("a")} AS emb FROM acc),
         |     qacc AS (SELECT ${hashingEmbedAccSql("'distributed query engine'", 64)} AS a),
         |     q AS (SELECT ${hashingEmbedNormSql("a")} AS qv FROM qacc)
         |SELECT e.doc_id,
         |       round(1 - list_cosine_similarity(CAST(e.emb AS DOUBLE[]),
         |                                        CAST(q.qv AS DOUBLE[])), 4) AS distance
         |FROM e, q
         |ORDER BY distance, doc_id LIMIT 10""".stripMargin),
    // ---- reference parity: JSON-path filter compiler (P2-P4, P7) ----
    Entry("vdb_filter_json", (s, dir) => {
      // Variant fast path: one try_parse_json per row + typed variant_get
      // per predicate — the get_json_object path re-parses the JSON text
      // per predicate (and was the round-1 bench outlier). String-path
      // parity (P2) stays covered by vdb_filter_rich.
      val ev = s.read.parquet(t(dir, "events"))
      ev.where(Filters.compileVariant(Seq(
          Filters.Cmp("k", Filters.CmpOp.Gt, 50),
          Filters.ColCmp("event_type", Filters.CmpOp.Eq, "click")), col("props")))
        .select(col("event_id"))
    },
      """SELECT event_id FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
        |  AND event_type = 'click'""".stripMargin),
    // ---- reference parity: FULL filter mini-language over schemaless
    // JSON metadata — nested path (P2), numeric cmp (P3), scalar-eq
    // shorthand (P4), whole-array equality (P5), contains (P6), all
    // AND-joined (P7). The metadata doc is built from documents columns
    // so the oracle can construct its own JSON independently. ----
    Entry("vdb_filter_rich", (s, dir) => {
      import s.implicits._
      s.read.parquet(t(dir, "documents"))
        .withColumn("metadata", to_json(struct($"lang", $"source",
          struct($"n_chars".as("len")).as("base"),
          array($"lang", $"source").as("tags"))))
        .where(Filters.compile(Seq(
            Filters.Cmp("base.len", Filters.CmpOp.Gt, 200),
            Filters.Eq("lang", "en"),
            Filters.Contains("tags", "src7"),
            Filters.EqList("tags", Seq("en", "src7"))),
          $"metadata"))
        .select($"doc_id")
    },
      """WITH m AS (
        |  SELECT doc_id, to_json(struct_pack(lang := lang, source := source,
        |         base := struct_pack(len := n_chars), tags := [lang, source])) AS metadata
        |  FROM documents)
        |SELECT doc_id FROM m
        |WHERE CAST(json_extract_string(metadata, '$.base.len') AS BIGINT) > 200
        |  AND json_extract_string(metadata, '$.lang') = 'en'
        |  AND list_contains(CAST(json_extract(metadata, '$.tags') AS VARCHAR[]), 'src7')
        |  AND CAST(json_extract(metadata, '$.tags') AS VARCHAR[]) = ['en', 'src7']""".stripMargin),
    // ---- same predicates through the Spark 4 Variant fast path:
    // parse_json once per row, typed variant_get per predicate ----
    Entry("vdb_filter_variant", (s, dir) => {
      import s.implicits._
      s.read.parquet(t(dir, "documents"))
        .withColumn("metadata", to_json(struct($"lang", $"source",
          struct($"n_chars".as("len")).as("base"),
          array($"lang", $"source").as("tags"))))
        .where(Filters.compileVariant(Seq(
            Filters.Cmp("base.len", Filters.CmpOp.Gt, 200),
            Filters.Eq("lang", "en"),
            Filters.Contains("tags", "src7"),
            Filters.EqList("tags", Seq("en", "src7"))),
          $"metadata"))
        .select($"doc_id")
    },
      """WITH m AS (
        |  SELECT doc_id, to_json(struct_pack(lang := lang, source := source,
        |         base := struct_pack(len := n_chars), tags := [lang, source])) AS metadata
        |  FROM documents)
        |SELECT doc_id FROM m
        |WHERE CAST(json_extract_string(metadata, '$.base.len') AS BIGINT) > 200
        |  AND json_extract_string(metadata, '$.lang') = 'en'
        |  AND list_contains(CAST(json_extract(metadata, '$.tags') AS VARCHAR[]), 'src7')
        |  AND CAST(json_extract(metadata, '$.tags') AS VARCHAR[]) = ['en', 'src7']""".stripMargin),
    // ---- file-skipping for JSON-path filters: the reference's
    // flagship filtered-query shape (duckvdb.py:110-116) over a table
    // written with MATERIALIZED extract columns (extractPaths write
    // option → real range-clustered parquet columns recomputed by
    // every write site). The get_json_object predicate is rewritten
    // onto the stored column by GvdbJsonFilterRule: footer min/max
    // prunes FILES at plan time, the inner parquet scan prunes row
    // groups, and the entry gates the plan shape itself (a silent
    // fall-back to post-scan evaluation fails the oracle run). Same
    // answers as evaluating the JSON per row — the column is derived
    // state. ----
    Entry("vdb_filter_pruned", (s, dir) => {
      import s.implicits._
      val wh = core.Scratch.dir(s, "graft-xprune")
      val root = s"$wh/docs"
      s.read.parquet(t(dir, "documents"))
        .select($"doc_id".cast("string").as("id"),
          to_json(struct($"lang", $"n_chars")).as("metadata"),
          array($"n_chars".cast("float")).as("embedding"))
        .write.format("gvdb").option("dim", "1")
        .option("extractPaths", "$.lang").mode("overwrite").save(root)
      val q = s.read.format("gvdb").load(root)
        .where(get_json_object($"metadata", "$.lang") === "fr")
        .select($"id".cast("long").as("doc_id"),
          get_json_object($"metadata", "$.n_chars").cast("long").as("n_chars"))
      val plan = q.queryExecution.executedPlan.toString
      require(plan.contains("PushedJsonFilters") && plan.contains("__x_lang"),
        "gvdb: the JSON-path predicate must map onto the extract column " +
          "(file-skipping scan), not evaluate post-scan")
      q
    },
      // extract-column file-skipping: same rows as evaluating the JSON
      // path per document
      """SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
        |FROM documents WHERE lang = 'fr'""".stripMargin),
    // ---- reference parity: dedup insert as anti-join + first-wins (J1, X2) ----
    Entry("vdb_insert_dedup", (s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(t(dir, "documents"))
      val existing = docs.where($"doc_id" < 250)
        .select(md5($"text").as("h")).distinct()
      docs.select(md5($"text").as("h"), $"doc_id")
        .join(existing, Seq("h"), "left_anti")
        .groupBy($"h").agg(min($"doc_id").as("doc_id"))
    },
      """SELECT md5(d.text) AS h, min(d.doc_id) AS doc_id
        |FROM documents d
        |WHERE NOT EXISTS (SELECT 1 FROM documents e
        |                  WHERE e.doc_id < 250 AND md5(e.text) = md5(d.text))
        |GROUP BY 1""".stripMargin),
    // ---- merge-on-read delete lifecycle: tombstone side table (the
    // Iceberg/Delta delete-file pattern — O(matched) delete cost, no
    // data rewrite), reads anti-join the broadcast tombstones, vacuum
    // makes it physical. The census pins the contract: delete hides
    // rows; a tombstoned id cannot resurrect until vacuum. ----
    Entry("vdb_delete", (s, dir) => {
      import s.implicits._
      val wh = core.Scratch.dir(s, "graft-del")
      val tbl = new graft.table.VectorTable(s, s"$wh/docs", 64).create()
      val docs = s.read.parquet(t(dir, "documents")).where($"doc_id" < 400)
      val rows = graft.embed.EmbedOps.withEmbedding(
          docs.select($"doc_id", $"text", $"lang"), "text", "hashing", Map("dim" -> "64"))
        .select($"doc_id".cast("string").as("id"),
          to_json(struct($"lang")).as("metadata"), $"embedding")
      tbl.insert(rows)
      val before = tbl.numRows
      tbl.delete(get_json_object(col("metadata"), "$.lang") === "de")
      val afterDelete = tbl.numRows
      tbl.insert(rows.where(get_json_object($"metadata", "$.lang") === "de"))
      val afterReinsert = tbl.numRows // unchanged: tombstoned ids stay occupied
      tbl.vacuum()
      val afterVacuum = tbl.numRows
      val xor = tbl.df.agg(expr("bit_xor(cast(id as bigint))")).head().getLong(0)
      val out = Seq((before, afterDelete, afterReinsert, afterVacuum, xor))
        .toDF("n_before", "n_after_delete", "n_after_reinsert", "n_after_vacuum", "id_xor")
      tbl.drop()
      out
    },
      """WITH base AS (SELECT doc_id, lang FROM documents WHERE doc_id < 400),
        |vis AS (SELECT * FROM base WHERE lang <> 'de')
        |SELECT (SELECT count(*) FROM base) AS n_before,
        |       (SELECT count(*) FROM vis) AS n_after_delete,
        |       (SELECT count(*) FROM vis) AS n_after_reinsert,
        |       (SELECT count(*) FROM vis) AS n_after_vacuum,
        |       (SELECT bit_xor(doc_id) FROM vis) AS id_xor""".stripMargin),
    // ---- `gvdb` DataSource surface (sources/GvdbSource.scala): the
    // warehouse as a Spark FORMAT NAME — the reference's "open the db
    // file and query it" (duckvdb.py:17-45) recast as
    // spark.read.format("gvdb"). Read path: DataSource V2 — the
    // merge-on-read view (base minus tombstones) as a BatchScan with
    // column pruning and HANDLED predicate pushdown (evaluated once,
    // inside the scan's codegen) — the id prefix below reaches the
    // scan as StringStartsWith (plan-asserted in GvdbSourceSpec /
    // PlanShapeSpec); the lang predicate is NOT pushable (it's inside
    // the metadata JSON) and runs in a Filter above the scan. Census:
    // per-lang survivors of a tombstone delete, read through the
    // format, so the oracle checks MoR semantics end to end through
    // the V2 path. ----
    Entry("vdb_source_read", (s, dir) => {
      import s.implicits._
      val wh = core.Scratch.dir(s, "graft-gvdb-r")
      val root = s"$wh/docs"
      val rows = s.read.parquet(t(dir, "documents"))
        .select($"doc_id".cast("string").as("id"),
          to_json(struct($"lang", $"n_chars")).as("metadata"),
          array($"n_chars".cast("float")).as("embedding"))
      rows.write.format("gvdb").option("dim", "1").mode("overwrite").save(root)
      val tbl = new graft.table.VectorTable(s, root, 1)
      tbl.delete(get_json_object(col("metadata"), "$.lang") === "de")
      val back = s.read.format("gvdb").load(root)
        .where($"id".startsWith("1"))
        .groupBy(get_json_object($"metadata", "$.lang").as("lang"))
        .agg(count(lit(1)).as("cnt"),
          sum(element_at($"embedding", 1).cast("long")).as("sum_chars"))
      val got = back.collect().toSeq
      tbl.drop()
      s.createDataFrame(s.sparkContext.parallelize(got, 1), back.schema)
    },
      // gvdb DataSource read: overwrite-load all docs, tombstone 'de',
      // read back through the format with an id-prefix pushdown filter.
      """SELECT lang, count(*) AS cnt, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE CAST(doc_id AS VARCHAR) LIKE '1%' AND lang <> 'de'
        |GROUP BY lang""".stripMargin),
    // ---- gvdb write path: all host-language write surfaces hit the
    // same dedup insert (duckvdb.py:56-61's ON CONFLICT DO NOTHING) —
    // df.write mode("append") twice proves first-wins (second write is
    // a no-op), SQL DDL (CREATE TEMPORARY VIEW ... USING gvdb) + INSERT
    // INTO route through InsertableRelation, and the final census is
    // read back via plain SQL over the view. ----
    Entry("vdb_source_write", (s, dir) => {
      import s.implicits._
      val wh = core.Scratch.dir(s, "graft-gvdb-w")
      val root = s"$wh/docs"
      val docs = s.read.parquet(t(dir, "documents"))
      val rows = docs.where($"doc_id" < 500)
        .select($"doc_id".cast("string").as("id"),
          to_json(struct($"lang", $"n_chars")).as("metadata"),
          array($"n_chars".cast("float")).as("embedding"))
      rows.write.format("gvdb").option("dim", "1").mode("overwrite").save(root)
      rows.write.format("gvdb").mode("append").save(root) // dedup: no-op
      s.sql(s"CREATE OR REPLACE TEMPORARY VIEW gvdb_w USING gvdb OPTIONS (path '$root', dim '1')")
      // SQL INSERT routes through InsertableRelation → the same anti-join
      docs.where($"doc_id" >= 500 && $"doc_id" < 600)
        .select($"doc_id".cast("string").as("id"),
          to_json(struct($"lang", $"n_chars")).as("metadata"),
          array($"n_chars".cast("float")).as("embedding"))
        .createOrReplaceTempView("gvdb_delta")
      s.sql("INSERT INTO gvdb_w SELECT id, metadata, embedding FROM gvdb_delta")
      val back = s.sql(
        """SELECT get_json_object(metadata, '$.lang') AS lang, count(*) AS cnt,
          |       sum(cast(get_json_object(metadata, '$.n_chars') AS bigint)) AS sum_chars
          |FROM gvdb_w GROUP BY 1""".stripMargin)
      val got = back.collect().toSeq
      new graft.table.VectorTable(s, root, 1).drop()
      s.catalog.dropTempView("gvdb_w"); s.catalog.dropTempView("gvdb_delta")
      s.createDataFrame(s.sparkContext.parallelize(got, 1), back.schema)
    },
      // gvdb write surfaces: overwrite + redundant append (dedup no-op)
      // of doc_id<500, then SQL INSERT INTO of [500,600) via the view.
      """SELECT lang, count(*) AS cnt, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id < 600
        |GROUP BY lang""".stripMargin),
    // ---- gvdb time travel through the format: `versionAsOf` pins a
    // manifest snapshot (Delta's option, over VectorTable.snapshot's
    // file-list manifests) — v1 must be immune to the insert AND the
    // delete that happen after it; v2 and the live view agree. One
    // census row per view, all three through spark.read.format. ----
    Entry("vdb_source_timetravel", (s, dir) => {
      import s.implicits._
      val wh = core.Scratch.dir(s, "graft-gvdb-tt")
      val root = s"$wh/docs"
      val docs = s.read.parquet(t(dir, "documents"))
      def slice(lo: Long, hi: Long) = docs.where($"doc_id" >= lo && $"doc_id" < hi)
        .select($"doc_id".cast("string").as("id"),
          to_json(struct($"lang", $"n_chars")).as("metadata"),
          array($"n_chars".cast("float")).as("embedding"))
      slice(0, 300).write.format("gvdb").option("dim", "1").mode("overwrite").save(root)
      val tbl = new graft.table.VectorTable(s, root, 1)
      val v1 = tbl.snapshot()
      slice(300, 400).write.format("gvdb").mode("append").save(root)
      tbl.delete(get_json_object(col("metadata"), "$.lang") === "de")
      val v2 = tbl.snapshot()
      def census(df: DataFrame, tag: String) = df
        .agg(count(lit(1)).as("cnt"),
          sum(get_json_object($"metadata", "$.n_chars").cast("long")).as("sum_chars"))
        .withColumn("ver", lit(tag))
      val out = census(s.read.format("gvdb").option("versionAsOf", v1).load(root), "v1")
        .unionByName(census(s.read.format("gvdb").option("versionAsOf", v2).load(root), "v2"))
        .unionByName(census(s.read.format("gvdb").load(root), "live"))
      val got = out.collect().toSeq
      tbl.drop()
      s.createDataFrame(s.sparkContext.parallelize(got, 1), out.schema)
    },
      // gvdb time travel: v1 = first 300 docs (pre-insert, pre-delete);
      // v2 and live both = docs < 400 minus 'de'
      """SELECT count(*) AS cnt, CAST(sum(n_chars) AS BIGINT) AS sum_chars, 'v1' AS ver
        |FROM documents WHERE doc_id < 300
        |UNION ALL
        |SELECT count(*), CAST(sum(n_chars) AS BIGINT), 'v2'
        |FROM documents WHERE doc_id < 400 AND lang <> 'de'
        |UNION ALL
        |SELECT count(*), CAST(sum(n_chars) AS BIGINT), 'live'
        |FROM documents WHERE doc_id < 400 AND lang <> 'de'""".stripMargin),
    // ---- gvdb snapshot CDC through SQL: gvdb_changes(path, v1, v2)
    // (the table_changes analogue over VectorTable.diffSnapshots — two
    // id-only anti-joins between pinned manifests, payload never
    // shuffled). added = the insert between the snapshots minus its
    // later-deleted rows; deleted = the delete's rows present at v1. ----
    Entry("vdb_source_changes", (s, dir) => {
      import s.implicits._
      graft.plans.GvdbTableFunctions.register(s)
      val wh = core.Scratch.dir(s, "graft-gvdb-cdc")
      val root = s"$wh/docs"
      val docs = s.read.parquet(t(dir, "documents"))
      def slice(lo: Long, hi: Long) = docs.where($"doc_id" >= lo && $"doc_id" < hi)
        .select($"doc_id".cast("string").as("id"),
          to_json(struct($"lang")).as("metadata"),
          array($"n_chars".cast("float")).as("embedding"))
      slice(0, 300).write.format("gvdb").option("dim", "1").mode("overwrite").save(root)
      val tbl = new graft.table.VectorTable(s, root, 1)
      val v1 = tbl.snapshot()
      slice(300, 350).write.format("gvdb").mode("append").save(root)
      tbl.delete(get_json_object(col("metadata"), "$.lang") === "de")
      val v2 = tbl.snapshot()
      val out = s.sql(s"""
        SELECT change, count(*) AS cnt, CAST(sum(CAST(id AS BIGINT)) AS BIGINT) AS id_sum
        FROM gvdb_changes('$root', $v1, $v2)
        GROUP BY change""")
      val got = out.collect().toSeq
      tbl.drop()
      s.createDataFrame(s.sparkContext.parallelize(got, 1), out.schema)
    },
      // gvdb snapshot CDC: added = the [300,350) insert minus its 'de'
      // rows (deleted before v2); deleted = 'de' rows present at v1
      """SELECT 'added' AS change, count(*) AS cnt, CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM documents WHERE doc_id >= 300 AND doc_id < 350 AND lang <> 'de'
        |UNION ALL
        |SELECT 'deleted', count(*), CAST(sum(doc_id) AS BIGINT)
        |FROM documents WHERE doc_id < 300 AND lang = 'de'""".stripMargin),
    // ---- gvdb TABLE-VALUED FUNCTIONS (plans/GvdbTableFunctions): the
    // reference's SQL-query-against-the-open-database surface
    // (duckvdb.py:101-116) as Spark TVFs — `gvdb_knn(path, qvec, k)`
    // top-k through pure SQL and `gvdb_scan(path)` for the MoR view,
    // both resolving to the SAME logical plan as the DataFrame facade
    // (pruned scan, portable-rounded distance, (distance, id)-ordered
    // TakeOrdered top-k — asserted in ExtensionsSpec). Probes the
    // memoized read-only rewrite warehouse; the query vector enters the
    // SQL text as an array literal (X3: bound value, never spliced
    // filter strings). ----
    Entry("vdb_tvf", (s, dir) => {
      import s.implicits._
      graft.plans.GvdbTableFunctions.register(s)
      val wh = SparkEntry.rewriteWarehouse(s, dir, "hnsw")
      val q = s.read.parquet(t(dir, "embeddings")).where($"vec_id" === 0)
        .select($"embedding").head.getSeq[Float](0)
      // Float.toString is shortest-round-trip, so the SQL literal parses
      // back (via decimal/double) to the exact stored float
      val vecSql = q.map(_.toString).mkString("array(", ", ", ")")
      s.sql(s"""
        SELECT k.id, k.distance, t.n_rows
        FROM gvdb_knn('$wh/table', $vecSql, 10) k
        CROSS JOIN (SELECT count(*) AS n_rows FROM gvdb_scan('$wh/table')) t""")
    },
      // gvdb TVFs probe the rewrite warehouse (= embeddings with
      // v%05d ids); knn semantics identical to vdb_knn's oracle
      """SELECT 'v' || lpad(CAST(e.vec_id AS VARCHAR), 5, '0') AS id,
        |       round(1 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                        CAST(q.embedding AS DOUBLE[])), 4) AS distance,
        |       (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_rows
        |FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |ORDER BY distance, id LIMIT 10""".stripMargin),
    // ---- gvdb CATALOG PLUGIN (sources/GvdbCatalog): the reference's
    // one-name-one-database contract (vdb.py:15-16) at Spark's catalog
    // level — CREATE NAMESPACE/TABLE under a warehouse dir, INSERT INTO
    // through the dedup anti-join (overlapping second insert is
    // first-wins), a facade tombstone delete on the table's PATH
    // visible through the catalog NAME (catalog tables are warehouse
    // paths — every surface interoperates), census via plain SELECT
    // over the MoR BatchScan. The catalog name is unique per run: Spark
    // caches catalog instances per name with their init-time warehouse
    // option, and this entry's warehouse is a scratch dir. ----
    Entry("vdb_catalog", (s, dir) => {
      import s.implicits._
      val wh = core.Scratch.dir(s, "graft-cat")
      val cat = "gcat" + java.lang.Long.toHexString(System.nanoTime())
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GvdbCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"CREATE NAMESPACE $cat.prod")
      s.sql(s"CREATE TABLE $cat.prod.docs " +
        "(id string, metadata string, embedding array<float>) USING gvdb")
      val docs = s.read.parquet(t(dir, "documents"))
      def slice(lo: Long, hi: Long) = docs.where($"doc_id" >= lo && $"doc_id" < hi)
        .select($"doc_id".cast("string").as("id"),
          to_json(struct($"lang", $"n_chars")).as("metadata"),
          array($"n_chars".cast("float")).as("embedding"))
      slice(0, 600).createOrReplaceTempView("cat_delta1")
      s.sql(s"INSERT INTO $cat.prod.docs SELECT id, metadata, embedding FROM cat_delta1")
      // overlapping insert: [300,600) already present → deduped by id
      slice(300, 700).createOrReplaceTempView("cat_delta2")
      s.sql(s"INSERT INTO $cat.prod.docs SELECT id, metadata, embedding FROM cat_delta2")
      new graft.table.VectorTable(s, s"$wh/prod/docs", 1)
        .delete(get_json_object(col("metadata"), "$.lang") === "de")
      // SQL DELETE (SupportsDelete → the same merge-on-read tombstone
      // path): a translatable id-prefix predicate through the catalog
      // name — '69' and '690'..'699'
      s.sql(s"DELETE FROM $cat.prod.docs WHERE id LIKE '69%'")
      val back = s.sql(s"""
        SELECT get_json_object(metadata, '$$.lang') AS lang, count(*) AS cnt,
               sum(cast(get_json_object(metadata, '$$.n_chars') AS bigint)) AS sum_chars
        FROM $cat.prod.docs GROUP BY 1""")
      val got = back.collect().toSeq
      s.sql(s"DROP TABLE $cat.prod.docs")
      s.sql(s"DROP NAMESPACE $cat.prod")
      s.catalog.dropTempView("cat_delta1"); s.catalog.dropTempView("cat_delta2")
      s.createDataFrame(s.sparkContext.parallelize(got, 1), back.schema)
    },
      // gvdb catalog plugin: [0,600) ∪ [300,700) dedups to [0,700), the
      // 'de' facade delete and the SQL DELETE of the '69'-prefixed ids
      // both apply through the catalog name
      """SELECT lang, count(*) AS cnt, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id < 700 AND lang <> 'de'
        |  AND NOT (CAST(doc_id AS VARCHAR) LIKE '69%')
        |GROUP BY lang""".stripMargin),
    // ---- MERGE INTO through the catalog: the CDC-apply-by-SQL shape
    // (GvdbMergeRule → tombstone-delete + dedup-insert). The changes
    // batch spans matched deletes (doc_id%10==0), matched updates
    // (payload shifted by +1000 chars) and unmatched inserts, plus
    // no-op delete rows for absent ids; the post-merge census must
    // hash-match DuckDB applying the same delta relationally. ----
    Entry("vdb_catalog_merge", (s, dir) => {
      import s.implicits._
      val wh = core.Scratch.dir(s, "graft-cat-mrg")
      val cat = "gcmg" + java.lang.Long.toHexString(System.nanoTime())
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GvdbCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"CREATE NAMESPACE $cat.m")
      s.sql(s"CREATE TABLE $cat.m.docs " +
        "(id string, metadata string, embedding array<float>) USING gvdb")
      val docs = s.read.parquet(t(dir, "documents"))
      docs.where($"doc_id" < 500)
        .select($"doc_id".cast("string").as("id"),
          to_json(struct($"lang", $"n_chars")).as("metadata"),
          array($"n_chars".cast("float")).as("embedding"))
        .createOrReplaceTempView("cat_mrg_base")
      s.sql(s"INSERT INTO $cat.m.docs SELECT * FROM cat_mrg_base")
      docs.where($"doc_id" >= 300 && $"doc_id" < 700)
        .select($"doc_id".cast("string").as("id"),
          to_json(struct($"lang", ($"n_chars" + 1000).as("n_chars"))).as("metadata"),
          array(($"n_chars" + 1000).cast("float")).as("embedding"),
          when($"doc_id" % 10 === 0, "d").otherwise("x").as("op"))
        .createOrReplaceTempView("cat_mrg_changes")
      s.sql(s"""
        MERGE INTO $cat.m.docs AS t USING cat_mrg_changes AS c ON t.id = c.id
        WHEN MATCHED AND c.op = 'd' THEN DELETE
        WHEN MATCHED THEN UPDATE SET metadata = c.metadata, embedding = c.embedding
        WHEN NOT MATCHED AND c.op <> 'd' THEN
          INSERT (id, metadata, embedding) VALUES (c.id, c.metadata, c.embedding)""")
      val back = s.sql(s"""
        SELECT get_json_object(metadata, '$$.lang') AS lang, count(*) AS cnt,
               sum(cast(get_json_object(metadata, '$$.n_chars') AS bigint)) AS sum_chars
        FROM $cat.m.docs GROUP BY 1""")
      val got = back.collect().toSeq
      s.sql(s"DROP TABLE $cat.m.docs")
      s.sql(s"DROP NAMESPACE $cat.m")
      s.catalog.dropTempView("cat_mrg_base"); s.catalog.dropTempView("cat_mrg_changes")
      s.createDataFrame(s.sparkContext.parallelize(got, 1), back.schema)
    },
      // catalog MERGE: survivors = untouched [0,300) at original chars,
      // plus updated/inserted [300,700) at chars+1000 minus the %10==0
      // deletes (which also never insert)
      """SELECT lang, count(*) AS cnt, CAST(sum(chars) AS BIGINT) AS sum_chars
        |FROM (
        |  SELECT lang, n_chars AS chars FROM documents WHERE doc_id < 300
        |  UNION ALL
        |  SELECT lang, n_chars + 1000 FROM documents
        |  WHERE doc_id >= 300 AND doc_id < 700 AND doc_id % 10 <> 0
        |) GROUP BY lang""".stripMargin),
    // ---- the same MERGE lifecycle under CONTENT-HASH ids — the layout
    // where footer id min/max can never prune (every file's range
    // spans the hex keyspace, the reference's UUIDv5 contract). The
    // bloom manifest builds LAZILY from each merge's own candidate
    // scan (sources/IdBlooms.scala): merge #2's lookup blooms the
    // non-victim fresh-insert file it had to read anyway. Gated
    // in-entry: after merge #2 the manifest exists, a probe for an id
    // LIVING in the bloomed file finds it (a false negative would lose
    // rows from a future merge), and a probe for an id NOT in it
    // excludes it (the pruning that makes a 100 TB uuid-keyed CDC
    // merge read candidates, not the corpus). ----
    Entry("vdb_catalog_merge_hashid", (s, dir) => {
      import s.implicits._
      val wh = core.Scratch.dir(s, "graft-cat-mgh")
      val cat = "gcmh" + java.lang.Long.toHexString(System.nanoTime())
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GvdbCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"CREATE NAMESPACE $cat.h")
      s.sql(s"CREATE TABLE $cat.h.docs " +
        "(id string, metadata string, embedding array<float>) USING gvdb")
      val docs = s.read.parquet(t(dir, "documents"))
      val hid = md5($"doc_id".cast("string"))
      docs.where($"doc_id" < 500)
        .select(hid.as("id"), to_json(struct($"lang", $"n_chars")).as("metadata"),
          array($"n_chars".cast("float")).as("embedding"))
        .createOrReplaceTempView("cat_mgh_base")
      s.sql(s"INSERT INTO $cat.h.docs SELECT * FROM cat_mgh_base")
      docs.where($"doc_id" >= 300 && $"doc_id" < 700)
        .select(hid.as("id"),
          to_json(struct($"lang", ($"n_chars" + 1000).as("n_chars"))).as("metadata"),
          array(($"n_chars" + 1000).cast("float")).as("embedding"),
          when($"doc_id" % 10 === 0, "d").otherwise("x").as("op"))
        .createOrReplaceTempView("cat_mgh_c1")
      s.sql(s"""
        MERGE INTO $cat.h.docs AS t USING cat_mgh_c1 AS c ON t.id = c.id
        WHEN MATCHED AND c.op = 'd' THEN DELETE
        WHEN MATCHED THEN UPDATE SET metadata = c.metadata, embedding = c.embedding
        WHEN NOT MATCHED AND c.op <> 'd' THEN
          INSERT (id, metadata, embedding) VALUES (c.id, c.metadata, c.embedding)""")
      // fresh rows under DIFFERENT hash ids (md5('x…')): merge #2
      // doesn't touch them, so their file is the non-victim candidate
      // its lookup blooms
      docs.where($"doc_id" < 100)
        .select(md5(concat(lit("x"), $"doc_id".cast("string"))).as("id"),
          to_json(struct($"lang", $"n_chars")).as("metadata"),
          array($"n_chars".cast("float")).as("embedding"))
        .createOrReplaceTempView("cat_mgh_fresh")
      s.sql(s"INSERT INTO $cat.h.docs SELECT * FROM cat_mgh_fresh")
      docs.where($"doc_id" >= 100 && $"doc_id" < 200)
        .select(hid.as("id"),
          to_json(struct($"lang", ($"n_chars" + 5000).as("n_chars"))).as("metadata"),
          array(($"n_chars" + 5000).cast("float")).as("embedding"))
        .createOrReplaceTempView("cat_mgh_c2")
      s.sql(s"""
        MERGE INTO $cat.h.docs AS t USING cat_mgh_c2 AS c ON t.id = c.id
        WHEN MATCHED THEN UPDATE SET metadata = c.metadata, embedding = c.embedding""")
      val root = s"$wh/h/docs"
      val hfs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val bootstrapped = graft.sources.IdBlooms.enabled(hfs, root)
      // no-false-negative probe: md5('x42') lives in the bloomed fresh
      // file — the probe must keep that file
      val inId = s.range(1).select(md5(lit("x42"))).head.getString(0)
      val holder = new org.apache.hadoop.fs.Path(s.read.parquet(root)
        .where($"id" === inId).select(input_file_name()).head.getString(0)).getName
      val inHit = graft.sources.IdBlooms.probe(s, hfs, root, Array(inId)).contains(holder)
      // pruning probe: md5('42') (a base id) is NOT in the fresh file —
      // at fpp 1e-9 the probe must exclude it
      val outId = s.range(1).select(md5(lit("42"))).head.getString(0)
      val outMiss = !graft.sources.IdBlooms.probe(s, hfs, root, Array(outId))
        .contains(holder)
      val back = s.sql(s"""
        SELECT get_json_object(metadata, '$$.lang') AS lang, count(*) AS cnt,
               sum(cast(get_json_object(metadata, '$$.n_chars') AS bigint)) AS sum_chars,
               ${if (bootstrapped && inHit && outMiss) 1 else 0} AS bloom_ok
        FROM $cat.h.docs GROUP BY 1""")
      val got = back.collect().toSeq
      s.sql(s"DROP TABLE $cat.h.docs")
      s.sql(s"DROP NAMESPACE $cat.h")
      Seq("cat_mgh_base", "cat_mgh_c1", "cat_mgh_fresh", "cat_mgh_c2")
        .foreach(s.catalog.dropTempView)
      s.createDataFrame(s.sparkContext.parallelize(got, 1), back.schema)
    },
      // hash-id MERGE ×2 with a fresh insert between (the bloom-lazily-
      // built file): base < 500, first change set
      // updates/deletes/inserts [300,700), fresh re-insert of [0,100)
      // under new ids, second merge re-updates base [100,200) +5000; ids
      // are md5 so the oracle's relational replay is the same census the
      // engine must reach through the bloom-pruned path
      """SELECT lang, count(*) AS cnt, CAST(sum(chars) AS BIGINT) AS sum_chars,
        |       1 AS bloom_ok
        |FROM (
        |  SELECT lang, n_chars
        |    + CASE WHEN doc_id >= 100 AND doc_id < 200 THEN 5000 ELSE 0 END AS chars
        |  FROM documents WHERE doc_id < 300
        |  UNION ALL
        |  SELECT lang, n_chars + 1000 FROM documents
        |  WHERE doc_id >= 300 AND doc_id < 700 AND doc_id % 10 <> 0
        |  UNION ALL
        |  SELECT lang, n_chars FROM documents WHERE doc_id < 100
        |) GROUP BY lang""".stripMargin),
    // ---- SQL UPDATE + untranslatable DELETE through the catalog:
    // UPDATE lowers to the copy-on-write rewrite (GvdbUpdateCommand);
    // the JSON-path DELETE can't translate to the source-filter
    // algebra, so it lowers to the Column-evaluated TOMBSTONE delete
    // (GvdbDeleteCommand — still merge-on-read). Census after both
    // must match DuckDB applying the same mutations relationally. ----
    Entry("vdb_catalog_update", (s, dir) => {
      import s.implicits._
      val wh = core.Scratch.dir(s, "graft-cat-upd")
      val cat = "gcup" + java.lang.Long.toHexString(System.nanoTime())
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GvdbCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"CREATE NAMESPACE $cat.u")
      s.sql(s"CREATE TABLE $cat.u.docs " +
        "(id string, metadata string, embedding array<float>) USING gvdb")
      s.read.parquet(t(dir, "documents")).where($"doc_id" < 500)
        .select($"doc_id".cast("string").as("id"),
          to_json(struct($"lang", $"n_chars")).as("metadata"),
          array($"n_chars".cast("float")).as("embedding"))
        .createOrReplaceTempView("cat_upd_base")
      s.sql(s"INSERT INTO $cat.u.docs SELECT * FROM cat_upd_base")
      // UPDATE: French docs get their char count shifted by +1000 (a
      // JSON rewrite — partial assignment, embedding untouched)
      s.sql(s"""
        UPDATE $cat.u.docs
        SET metadata = to_json(named_struct(
          'lang', get_json_object(metadata, '$$.lang'),
          'n_chars', cast(get_json_object(metadata, '$$.n_chars') AS bigint) + 1000))
        WHERE get_json_object(metadata, '$$.lang') = 'fr'""")
      // DELETE with a JSON-path predicate: tombstones, not a rewrite
      s.sql(s"DELETE FROM $cat.u.docs WHERE get_json_object(metadata, '$$.lang') = 'de'")
      val back = s.sql(s"""
        SELECT get_json_object(metadata, '$$.lang') AS lang, count(*) AS cnt,
               sum(cast(get_json_object(metadata, '$$.n_chars') AS bigint)) AS sum_chars,
               CAST(sum(embedding[0]) AS bigint) AS sum_emb
        FROM $cat.u.docs GROUP BY 1""")
      val got = back.collect().toSeq
      s.sql(s"DROP TABLE $cat.u.docs")
      s.sql(s"DROP NAMESPACE $cat.u")
      s.catalog.dropTempView("cat_upd_base")
      s.createDataFrame(s.sparkContext.parallelize(got, 1), back.schema)
    },
      // catalog UPDATE/DELETE: fr docs carry +1000 chars (embedding
      // keeps the ORIGINAL n_chars — the partial-assignment proof), de
      // docs are gone
      """SELECT lang, count(*) AS cnt,
        |  CAST(sum(n_chars + CASE WHEN lang = 'fr' THEN 1000 ELSE 0 END) AS BIGINT) AS sum_chars,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_emb
        |FROM documents WHERE doc_id < 500 AND lang <> 'de'
        |GROUP BY lang""".stripMargin),
    // ---- SQL time travel through the CATALOG: `VERSION AS OF` /
    // `TIMESTAMP AS OF` on a catalog NAME resolve through
    // GvdbCatalog.loadTable(ident, version/timestamp) to the same
    // pinned-manifest read as the versionAsOf option — the v1 census
    // is immune to the later insert AND delete, and the timestamp
    // resolves to the last snapshot at or before it (Delta's rule).
    // Same zero-copy manifest machinery; the timestamp arrives as
    // epoch micros per the TableCatalog contract. ----
    Entry("vdb_catalog_timetravel", (s, dir) => {
      import s.implicits._
      val wh = core.Scratch.dir(s, "graft-cat-tt")
      val cat = "gctt" + java.lang.Long.toHexString(System.nanoTime())
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GvdbCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"CREATE NAMESPACE $cat.tt")
      s.sql(s"CREATE TABLE $cat.tt.docs " +
        "(id string, metadata string, embedding array<float>) USING gvdb")
      val docs = s.read.parquet(t(dir, "documents"))
      def slice(lo: Long, hi: Long) = docs.where($"doc_id" >= lo && $"doc_id" < hi)
        .select($"doc_id".cast("string").as("id"),
          to_json(struct($"lang", $"n_chars")).as("metadata"),
          array($"n_chars".cast("float")).as("embedding"))
      slice(0, 300).createOrReplaceTempView("cat_tt_d1")
      s.sql(s"INSERT INTO $cat.tt.docs SELECT * FROM cat_tt_d1")
      val tbl = new graft.table.VectorTable(s, s"$wh/tt/docs", 1)
      val v1 = tbl.snapshot()
      Thread.sleep(5)
      val midTs = System.currentTimeMillis()
      Thread.sleep(5)
      slice(300, 400).createOrReplaceTempView("cat_tt_d2")
      s.sql(s"INSERT INTO $cat.tt.docs SELECT * FROM cat_tt_d2")
      tbl.delete(get_json_object(col("metadata"), "$.lang") === "de")
      val v2 = tbl.snapshot()
      // format midTs in the SESSION time zone — TIMESTAMP AS OF parses
      // its literal there
      val zone = java.time.ZoneId.of(s.conf.get("spark.sql.session.timeZone"))
      val iso = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(zone)
        .format(java.time.Instant.ofEpochMilli(midTs))
      def census(suffix: String, ver: String) = s.sql(
        s"""SELECT '$ver' AS ver, count(*) AS cnt,
           |  sum(cast(get_json_object(metadata, '$$.n_chars') AS bigint)) AS sum_chars
           |FROM $cat.tt.docs $suffix""".stripMargin)
      // SELECTIVE snapshot expiry under a file-group CoW: an UPDATE
      // touching only the SECOND insert's file group (embedding only —
      // the census reads metadata, so 'live' is unchanged) rewrites
      // those files. v1's manifest references only the first group →
      // survives and still serves VERSION AS OF; v2 referenced a
      // victim → expired. Both pinned hard (a wrong expiry fails the
      // oracle run, not just a unit test).
      s.sql(s"UPDATE $cat.tt.docs SET embedding = array(cast(0.0 AS float)) " +
        "WHERE id = '350'")
      require(tbl.snapshotVersions.contains(v1),
        "selective expiry must keep v1 (its files survived the group CoW)")
      require(!tbl.snapshotVersions.contains(v2),
        "selective expiry must drop v2 (its manifest references a rewritten file)")
      val back = census(s"VERSION AS OF $v1", "v1")
        .unionByName(census(s"TIMESTAMP AS OF '$iso'", "ts"))
        .unionByName(census("", "live"))
        .unionByName(census(s"VERSION AS OF $v1", "v1_after_cow"))
      val got = back.collect().toSeq
      s.sql(s"DROP TABLE $cat.tt.docs")
      s.sql(s"DROP NAMESPACE $cat.tt")
      s.catalog.dropTempView("cat_tt_d1"); s.catalog.dropTempView("cat_tt_d2")
      s.createDataFrame(s.sparkContext.parallelize(got, 1), back.schema)
    },
      // catalog time travel: v1/ts pin the first 300 docs (pre-insert,
      // pre-delete); live = docs < 400 minus 'de'; v1_after_cow = v1
      // re-read after a later file-group rewrite (selective expiry kept
      // it — identical census)
      """SELECT 'v1' AS ver, count(*) AS cnt, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id < 300
        |UNION ALL
        |SELECT 'ts', count(*), CAST(sum(n_chars) AS BIGINT)
        |FROM documents WHERE doc_id < 300
        |UNION ALL
        |SELECT 'live', count(*), CAST(sum(n_chars) AS BIGINT)
        |FROM documents WHERE doc_id < 400 AND lang <> 'de'
        |UNION ALL
        |SELECT 'v1_after_cow', count(*), CAST(sum(n_chars) AS BIGINT)
        |FROM documents WHERE doc_id < 300""".stripMargin),
    // ---- COUNT(*) aggregate pushdown: a bare ungrouped count over
    // the format is answered from parquet FOOTERS minus the tombstone
    // count (GvdbFooters) — zero rows scanned, complete pushdown. The
    // entry gates the plan shape itself (PushedAggregates must be in
    // the scan description) so a silent fallback to a full scan fails
    // the oracle run, not just a unit test. At 100 TB this is the
    // difference between a metadata read and a table scan. ----
    Entry("vdb_source_count", (s, dir) => {
      import s.implicits._
      val wh = core.Scratch.dir(s, "graft-gvdb-cnt")
      val root = s"$wh/docs"
      s.read.parquet(t(dir, "documents"))
        .select($"doc_id".cast("string").as("id"),
          to_json(struct($"lang", $"n_chars")).as("metadata"),
          array($"n_chars".cast("float")).as("embedding"))
        .write.format("gvdb").option("dim", "1").mode("overwrite").save(root)
      val tbl = new graft.table.VectorTable(s, root, 1)
      tbl.delete(get_json_object(col("metadata"), "$.lang") === "de")
      val q = s.read.format("gvdb").load(root).groupBy().count()
      require(q.queryExecution.executedPlan.toString
          .contains("PushedAggregates: [COUNT(*)]"),
        "gvdb COUNT(*) must push to the scan (footer + tombstone arithmetic)")
      val n = q.head().getLong(0)
      tbl.drop()
      Seq(n).toDF("cnt")
    },
      // pushed COUNT(*): footers minus tombstones must equal the live census
      "SELECT CAST(count(*) AS BIGINT) AS cnt FROM documents WHERE lang <> 'de'"),
    // ---- manifest snapshots / time travel: snapshot = the data-file
    // list (append-only under insert — zero copy) + the tombstone ids
    // at snapshot time. Reading v1 after later inserts AND deletes
    // reproduces the v1 rows exactly; vacuum/reindex expire snapshots
    // (Delta/Iceberg retention semantics). The census pins isolation:
    // v1 is immune to everything that happened after it. ----
    Entry("vdb_snapshot", (s, dir) => {
      import s.implicits._
      val wh = core.Scratch.dir(s, "graft-snap")
      val tbl = new graft.table.VectorTable(s, s"$wh/docs", 64).create()
      val docs = s.read.parquet(t(dir, "documents"))
      def rows(lo: Long, hi: Long) = graft.embed.EmbedOps.withEmbedding(
          docs.where($"doc_id" >= lo && $"doc_id" < hi)
            .select($"doc_id", $"text", $"lang"), "text", "hashing", Map("dim" -> "64"))
        .select($"doc_id".cast("string").as("id"),
          to_json(struct($"lang")).as("metadata"), $"embedding")
      tbl.insert(rows(0, 200))
      val v1 = tbl.snapshot()
      tbl.insert(rows(200, 350))
      tbl.delete(get_json_object(col("metadata"), "$.lang") === "de")
      val v2 = tbl.snapshot()
      tbl.insert(rows(350, 400))
      def census(d: org.apache.spark.sql.DataFrame) = {
        val r = d.agg(count(lit(1)), coalesce(expr("bit_xor(cast(id as bigint))"), lit(0L))).head()
        (r.getLong(0), r.getLong(1))
      }
      val (n1, x1) = census(tbl.asOf(v1))
      val (n2, x2) = census(tbl.asOf(v2))
      val (nc, xc) = census(tbl.df)
      val out = Seq((n1, x1, n2, x2, nc, xc)).toDF(
        "n_v1", "xor_v1", "n_v2", "xor_v2", "n_current", "xor_current")
      tbl.drop()
      out
    },
      """WITH v1 AS (SELECT doc_id FROM documents WHERE doc_id < 200),
        |v2 AS (SELECT doc_id FROM documents WHERE doc_id < 350 AND lang <> 'de'),
        |cur AS (SELECT doc_id FROM documents
        |        WHERE (doc_id < 350 AND lang <> 'de')
        |           OR (doc_id >= 350 AND doc_id < 400))
        |SELECT (SELECT count(*) FROM v1) AS n_v1,
        |       (SELECT coalesce(bit_xor(doc_id), 0) FROM v1) AS xor_v1,
        |       (SELECT count(*) FROM v2) AS n_v2,
        |       (SELECT coalesce(bit_xor(doc_id), 0) FROM v2) AS xor_v2,
        |       (SELECT count(*) FROM cur) AS n_current,
        |       (SELECT coalesce(bit_xor(doc_id), 0) FROM cur) AS xor_current""".stripMargin),
    // ---- snapshot CDC: the delta between two manifest snapshots as
    // (id, added|deleted) rows — the incremental-reprocessing contract
    // (re-embed/re-index exactly the delta, never rescan the table).
    // Two id-only anti-joins; census pins both populations' values. ----
    Entry("vdb_snapshot_diff", (s, dir) => {
      import s.implicits._
      val wh = core.Scratch.dir(s, "graft-snapdiff")
      val tbl = new graft.table.VectorTable(s, s"$wh/docs", 64).create()
      val docs = s.read.parquet(t(dir, "documents"))
      def rows(lo: Long, hi: Long) = graft.embed.EmbedOps.withEmbedding(
          docs.where($"doc_id" >= lo && $"doc_id" < hi)
            .select($"doc_id", $"text", $"lang"), "text", "hashing", Map("dim" -> "64"))
        .select($"doc_id".cast("string").as("id"),
          to_json(struct($"lang")).as("metadata"), $"embedding")
      tbl.insert(rows(0, 200))
      val v1 = tbl.snapshot()
      tbl.insert(rows(200, 350))
      tbl.delete(get_json_object(col("metadata"), "$.lang") === "de")
      val v2 = tbl.snapshot()
      val diff = tbl.diffSnapshots(v1, v2)
      val out = diff.groupBy($"change")
        .agg(count(lit(1)).as("n"),
          coalesce(expr("bit_xor(cast(id as bigint))"), lit(0L)).as("id_xor"))
      val r = out.collect().map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
      tbl.drop()
      val (na, xa) = r.getOrElse("added", (0L, 0L))
      val (nd, xd) = r.getOrElse("deleted", (0L, 0L))
      Seq((na, xa, nd, xd)).toDF("n_added", "xor_added", "n_deleted", "xor_deleted")
    },
      """WITH added AS (SELECT doc_id FROM documents
        |               WHERE doc_id >= 200 AND doc_id < 350 AND lang <> 'de'),
        |deleted AS (SELECT doc_id FROM documents WHERE doc_id < 200 AND lang = 'de')
        |SELECT (SELECT count(*) FROM added) AS n_added,
        |       (SELECT coalesce(bit_xor(doc_id), 0) FROM added) AS xor_added,
        |       (SELECT count(*) FROM deleted) AS n_deleted,
        |       (SELECT coalesce(bit_xor(doc_id), 0) FROM deleted) AS xor_deleted""".stripMargin),
    // ---- Bloom-prefiltered dedup insert: the 100 TB form of the
    // reference's skip-duplicates write — "definitely new" rows bypass
    // the anti-join entirely (Bloom has no false negatives), only the
    // maybe-duplicate sliver pays the shuffle. Result exact. ----
    Entry("vdb_insert_bloom", (s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(t(dir, "documents"))
      def keyed(df: DataFrame) = df
        .groupBy(md5($"text").as("id")).agg(min($"doc_id").as("doc_id"))
      val existing = keyed(docs.where($"doc_id" < 250))
      val batch = keyed(docs.where($"doc_id" >= 150))
      ops.BloomDedup.insertDedup(batch, existing, "id", expectedKeys = 10000L)
    },
      """WITH keyed AS (
        |  SELECT md5(text) AS id, min(doc_id) AS doc_id FROM documents
        |  WHERE doc_id >= 150 GROUP BY 1
        |), existing AS (
        |  SELECT DISTINCT md5(text) AS id FROM documents WHERE doc_id < 250
        |)
        |SELECT k.id, k.doc_id FROM keyed k
        |WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.id = k.id)""".stripMargin),
    // ---- MERGE INTO / upsert: batch rows replace same-key table rows,
    // new keys insert — the other half of the reference's conflict
    // lifecycle (it only skips). Keyed full-outer join, ownership by
    // key presence. ----
    Entry("vdb_upsert", (s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(t(dir, "documents"))
      val table = docs.where($"doc_id" < 400).select($"doc_id", $"text", $"n_chars")
      val batch = docs.where($"doc_id".between(300, 499))
        .select($"doc_id", concat(lit("v2:"), $"text").as("text"),
          ($"n_chars" + 3).as("n_chars"))
      ops.Incremental.upsert(table, batch, "doc_id")
        .select($"doc_id", md5($"text").as("text_md5"), $"n_chars")
    },
      """SELECT doc_id,
        |       md5(CASE WHEN doc_id >= 300 THEN 'v2:' || text ELSE text END) AS text_md5,
        |       CASE WHEN doc_id >= 300 THEN n_chars + 3 ELSE n_chars END AS n_chars
        |FROM documents WHERE doc_id < 500""".stripMargin),
    // ---- embedding backfill: fill ONLY the rows missing a vector
    // (here: a modulo-carved 25% gap), keep existing vectors untouched
    // — the incremental-embed operational pattern (re-embedding 100 TB
    // because 2% is new is the classic pipeline mistake). The census
    // pins both populations' VALUES via a per-source component sum. ----
    Entry("vdb_embed_backfill", (s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(t(dir, "documents")).select($"doc_id", $"source", $"text")
      val existing = s.read.parquet(t(dir, "embeddings"))
        .where(pmod($"vec_id", lit(4)) =!= 0)
        .select($"vec_id".as("doc_id"), $"embedding".as("existing"))
      val joined = docs.join(existing, Seq("doc_id"), "left")
      val filled = graft.embed.EmbedOps
        .withEmbedding(joined.where($"existing".isNull).select($"doc_id", $"source", $"text"),
          "text", "hashing")
        .select($"doc_id", $"source", $"embedding", lit(true).as("backfilled"))
      val kept = joined.where($"existing".isNotNull)
        .select($"doc_id", $"source", $"existing".as("embedding"), lit(false).as("backfilled"))
      kept.unionByName(filled)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_total"),
          sum(when($"backfilled", 1L).otherwise(0L)).as("n_backfilled"),
          RoundPortableExpr.r(sum(element_at($"embedding", 1).cast("double")), 4).as("dim0_sum"))
    },
      s"""WITH ex AS (SELECT vec_id AS doc_id, embedding FROM embeddings WHERE vec_id % 4 <> 0),
         |miss AS (SELECT d.doc_id, d.source, d.text FROM documents d
         |         LEFT JOIN ex USING (doc_id) WHERE ex.doc_id IS NULL),
         |acc AS (SELECT doc_id, source, ${hashingEmbedAccSql("text", 64)} AS a FROM miss),
         |fill AS (SELECT doc_id, source, ${hashingEmbedNormSql("a")} AS embedding,
         |                true AS backfilled FROM acc),
         |kept AS (SELECT d.doc_id, d.source, ex.embedding, false AS backfilled
         |         FROM documents d JOIN ex USING (doc_id)),
         |allr AS (SELECT * FROM kept UNION ALL SELECT * FROM fill)
         |SELECT source, count(*) AS n_total,
         |       CAST(sum(CASE WHEN backfilled THEN 1 ELSE 0 END) AS BIGINT) AS n_backfilled,
         |       round(sum(CAST(embedding[1] AS DOUBLE)), 4) AS dim0_sum
         |FROM allr GROUP BY 1""".stripMargin),
    // ---- the persisted index under MERGE-ON-READ DELETES: the graph
    // still contains tombstoned rows until a rebuild, so the probe
    // widens to k + tombstones — without it the facade silently
    // returned k − deleted rows (caught by a spec this round). The
    // query deletes the CURRENT top-3 then asserts k live rows, zero
    // dead ids, and recall vs the exact post-delete truth. ----
    Entry("vdb_knn_indexed_delete", (s, dir) => {
      import s.implicits._
      // mutating lifecycle: run against a throwaway COPY of the
      // once-per-session full-table graph fixture (the
      // vdb_knn_capped_widen pattern) — the per-run contract is the
      // delete + widened probe, not the identical insert+build
      val wh = SparkEntry.copyFixture(s, SparkEntry.fullHnswFixture(s, dir))
      val emb = s.read.parquet(t(dir, "embeddings"))
      val db = new VectorDB(s, "items", wh, "hashing", Map("dim" -> "64"), dim = 64)
      val qvec = emb.where($"vec_id" === 0).select($"embedding").head.getSeq[Float](0).toArray
      val top = db.queryByVector(qvec, k = 3, useIndex = false).collect().map(_.id).toSet
      db.table.delete(col(graft.core.VectorSchema.ID).isin(top.toSeq: _*))
      val (got, exactRows) = graft.core.Par.pair(
        db.queryByVector(qvec, k = 10).collect(),
        db.queryByVector(qvec, k = 10, useIndex = false).collect())
      val gotIds = got.map(_.id).toSet
      val exact = exactRows.map(_.id).toSet
      Seq((0L,
        if (got.length == 10) 1 else 0,
        if ((gotIds intersect top).isEmpty) 1 else 0,
        if ((exact intersect gotIds).size.toDouble / exact.size >= 0.9) 1 else 0))
        .toDF("query_id", "k_ok", "no_dead_ok", "recall_ok")
    },
      "SELECT CAST(0 AS BIGINT) AS query_id, 1 AS k_ok, 1 AS no_dead_ok, 1 AS recall_ok"),
    // ---- the FILTERED query through the persisted-index facade —
    // opt-in (indexFilteredProbe): the predicate's survivors become
    // the eligible surrogate set, Hnsw.probeGraphFiltered widens the
    // search by 1/selectivity, and the metadata join runs against the
    // FILTERED table view so every output row satisfies the predicate
    // even under surrogate collisions. Default facade behavior stays
    // exact (vdb_knn_indexed pins filtered==exact); this entry gates
    // the opt-in approximate path on both a moderate and a tight
    // predicate. ----
    Entry("vdb_knn_filtered_indexed", (s, dir) => {
      import s.implicits._
      // read-only probes against the once-per-session full-table graph
      // fixture (the tierFixture pattern) — the per-run contract is the
      // filtered probe + gates
      val wh = SparkEntry.fullHnswFixture(s, dir)
      val emb = s.read.parquet(t(dir, "embeddings"))
      val db = new VectorDB(s, "items", wh, "hashing", Map("dim" -> "64"), dim = 64)
      val qvec = emb.where($"vec_id" === 0).select($"embedding").head.getSeq[Float](0).toArray
      def recallOf(f: Seq[Filters.Pred]): Double = {
        val (approx, exact) = graft.core.Par.pair(
          db.queryByVector(qvec, k = 10, filters = f,
            indexFilteredProbe = true).collect().map(_.id).toSet,
          db.queryByVector(qvec, k = 10, filters = f,
            useIndex = false).collect().map(_.id).toSet)
        if (exact.isEmpty) 1.0 else (exact intersect approx).size.toDouble / exact.size
      }
      val Seq(moderate, tight) = graft.core.Par.run(Seq(
        () => recallOf(Seq(Filters.Cmp("label", Filters.CmpOp.Gte, 5))),
        () => recallOf(Seq(Filters.Cmp("label", Filters.CmpOp.Eq, 3)))))
      Seq((0L, if (moderate >= 0.8) 1 else 0, if (tight >= 0.8) 1 else 0))
        .toDF("query_id", "recall_ok", "tight_ok")
    },
      "SELECT CAST(0 AS BIGINT) AS query_id, 1 AS recall_ok, 1 AS tight_ok"),
    // ---- reference parity: utils.py suffix-operator filter surface (P8) ----
    Entry("vdb_filter_suffix", (s, dir) => {
      val p = s.read.parquet(t(dir, "part"))
      p.where(Filters.compile(Seq(
          Filters.ColIn("p_brand", Seq("Brand#1", "Brand#7", "Brand#13")),
          Filters.ColBetween("p_size", 10, 30),
          Filters.ColCmp("p_name", Filters.CmpOp.Like, "%a%")), lit(null)))
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
    },
      """SELECT p_partkey, p_brand, p_size FROM part
        |WHERE p_brand IN ('Brand#1', 'Brand#7', 'Brand#13')
        |  AND p_size BETWEEN 10 AND 30
        |  AND p_name LIKE '%a%'""".stripMargin),
    // ---- U2 registry with non-default params: 384-dim embedder through
    // the distributed embed map, oracle-checked end to end ----
    Entry("vdb_embed_knn_384", (s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(t(dir, "documents")).where($"doc_id" < 150)
        .select($"doc_id", substring($"text", 1, 200).as("text"))
      val embedded = graft.embed.EmbedOps.withEmbedding(docs, "text", "hashing", Map("dim" -> "384"))
      val qvec = graft.embed.Embedders.forName("hashing", Map("dim" -> "384"))
        .embed("distributed query engine")
      embedded.select($"doc_id",
          RoundPortableExpr.r(VectorFunctions.cosineDistance($"embedding", typedlit(qvec)), 4).as("distance"))
        .orderBy($"distance".asc, $"doc_id".asc)
        .limit(10)
    },
      s"""WITH d AS (SELECT doc_id, substr(text, 1, 200) AS text FROM documents WHERE doc_id < 150),
         |     acc AS (SELECT doc_id, ${hashingEmbedAccSql("text", 384)} AS a FROM d),
         |     e AS (SELECT doc_id, ${hashingEmbedNormSql("a")} AS emb FROM acc),
         |     qacc AS (SELECT ${hashingEmbedAccSql("'distributed query engine'", 384)} AS a),
         |     q AS (SELECT ${hashingEmbedNormSql("a")} AS qv FROM qacc)
         |SELECT e.doc_id,
         |       round(1 - list_cosine_similarity(CAST(e.emb AS DOUBLE[]),
         |                                        CAST(q.qv AS DOUBLE[])), 4) AS distance
         |FROM e, q
         |ORDER BY distance, doc_id LIMIT 10""".stripMargin),
    // ---- U6 second embedder family end to end (char-n-gram hashing) ----
    Entry("vdb_embed_ngram", (s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(t(dir, "documents")).where($"doc_id" < 150)
        .select($"doc_id", substring($"text", 1, 200).as("text"))
      val embedded = graft.embed.EmbedOps.withEmbedding(docs, "text", "ngram_hashing")
      val qvec = graft.embed.Embedders.forName("ngram_hashing").embed("distributed query engine")
      embedded.select($"doc_id",
          RoundPortableExpr.r(VectorFunctions.cosineDistance($"embedding", typedlit(qvec)), 4).as("distance"))
        .orderBy($"distance".asc, $"doc_id".asc)
        .limit(10)
    },
      s"""WITH d AS (SELECT doc_id, substr(text, 1, 200) AS text FROM documents WHERE doc_id < 150),
         |     acc AS (SELECT doc_id, ${ngramEmbedAccSql("text", 64, 3)} AS a FROM d),
         |     e AS (SELECT doc_id, ${hashingEmbedNormSql("a")} AS emb FROM acc),
         |     qacc AS (SELECT ${ngramEmbedAccSql("'distributed query engine'", 64, 3)} AS a),
         |     q AS (SELECT ${hashingEmbedNormSql("a")} AS qv FROM qacc)
         |SELECT e.doc_id,
         |       round(1 - list_cosine_similarity(CAST(e.emb AS DOUBLE[]),
         |                                        CAST(q.qv AS DOUBLE[])), 4) AS distance
         |FROM e, q
         |ORDER BY distance, doc_id LIMIT 10""".stripMargin),
    // ---- THE FACADE ITSELF ON THE ORACLE: this entry routes through
    // VectorDB — table on disk in a temp warehouse, UUIDv5 ids, dedup
    // insert (run twice: the second must no-op), registry embedder,
    // filter mini-language, and VectorDB.query's scan→filter→distance→
    // distinct→sort→limit plan — so a regression anywhere in the
    // facade lifecycle (not just the inline plan fragments) flips this
    // row red. Texts are uniquified with the doc_id so distances are
    // tie-free (the facade breaks ties by UUID, the oracle by doc_id —
    // only distinct distances make the two orders comparable). ----
    Entry("vdb_facade", (s, dir) => {
      import s.implicits._
      val wh = core.Scratch.dir(s, "graft-facade")
      val db = new VectorDB(s, "documents", wh, "hashing", Map("dim" -> "64"),
        dim = 64, newTable = true)
      val docs = s.read.parquet(t(dir, "documents"))
        .select(to_json(struct($"doc_id",
          concat($"text", lit(" #"), $"doc_id").as("text"),
          $"lang", $"n_chars")).as("metadata")).as[String]
      db.insert(docs, embedField = Some("text"))
      db.insert(docs, embedField = Some("text")) // dedup: second insert no-ops
      db.query("distributed query engine", k = 10,
          filters = Seq(Filters.Cmp("n_chars", Filters.CmpOp.Gt, 200),
            Filters.Cmp("lang", Filters.CmpOp.Eq, "en")))
        .toDF()
        .select(get_json_object($"metadata", "$.doc_id").cast("long").as("doc_id"),
          RoundPortableExpr.r($"distance", 4).as("distance"))
    },
      // the full facade lifecycle twin: filter → hashing-embed the
      // uniquified text → cosine top-k (same fragment builders as
      // vdb_embed_knn, plus the WHERE the facade compiles from its
      // filter mini-language)
      s"""WITH d AS (SELECT doc_id, text || ' #' || CAST(doc_id AS VARCHAR) AS text
         |           FROM documents WHERE n_chars > 200 AND lang = 'en'),
         |     acc AS (SELECT doc_id, ${hashingEmbedAccSql("text", 64)} AS a FROM d),
         |     e AS (SELECT doc_id, ${hashingEmbedNormSql("a")} AS emb FROM acc),
         |     qacc AS (SELECT ${hashingEmbedAccSql("'distributed query engine'", 64)} AS a),
         |     q AS (SELECT ${hashingEmbedNormSql("a")} AS qv FROM qacc)
         |SELECT e.doc_id,
         |       round(1 - list_cosine_similarity(CAST(e.emb AS DOUBLE[]),
         |                                        CAST(q.qv AS DOUBLE[])), 4) AS distance
         |FROM e, q
         |ORDER BY distance, doc_id LIMIT 10""".stripMargin),
    // ---- THE REFERENCE'S FULL INDEX LIFECYCLE THROUGH THE FACADE
    // (duckvdb.py:43-45, 110-116: load → create_index → query): a
    // VectorTable carries a PERSISTED segmented-HNSW graph; the
    // unfiltered facade query probes it (map-only graph pass + k-row
    // metadata join — no corpus distance scan), an insert AFTER the
    // build appends delta segments that must be immediately searchable
    // (the query vector IS a delta row — its hit proves the append),
    // and a filtered query falls back to the exact brute path, the
    // same filtered-queries-bypass-the-index contract the reference
    // has. recall gated ≥ 0.9 vs the exact facade leg. ----
    Entry("vdb_knn_indexed", (s, dir) => {
      import s.implicits._
      // built fixture memoized per (session, dir): the per-run contract
      // is the probe + gates; appendedOk was recorded at fixture build
      // (graph rows grew across the delta insert — new segments)
      val (wh, appendedOk) = SparkEntry.tierFixture(s, dir, "hnsw")
      val db = new VectorDB(s, "items", wh, "hashing", Map("dim" -> "64"), dim = 64)
      val emb = s.read.parquet(t(dir, "embeddings"))
      val qvec = emb.where($"vec_id" === 0).select($"embedding").head.getSeq[Float](0).toArray
      // 4 independent read-only probes overlapped (guide §2.6) — same
      // serving routes, same results
      val probes = graft.core.Par.run[Seq[graft.core.Result]](Seq(
        () => db.queryByVector(qvec, k = 10).collect().toSeq,
        () => db.queryByVector(qvec, k = 10, useIndex = false).collect().toSeq,
        () => db.queryByVector(qvec, k = 5,
          filters = Seq(Filters.Cmp("label", Filters.CmpOp.Eq, 3))).collect().toSeq,
        () => db.queryByVector(qvec, k = 5,
          filters = Seq(Filters.Cmp("label", Filters.CmpOp.Eq, 3)),
          useIndex = false).collect().toSeq))
      val approx = probes(0).map(_.id).toSet
      val exact = probes(1).map(_.id).toSet
      val recall = (exact intersect approx).size.toDouble / exact.size
      val (filteredIdx, filteredExact) = (probes(2), probes(3))
      Seq((0L, if (recall >= 0.9) 1 else 0, if (appendedOk) 1 else 0,
        if (filteredIdx == filteredExact && filteredIdx.nonEmpty) 1 else 0))
        .toDF("query_id", "recall_ok", "appended_ok", "filtered_ok")
    },
      """SELECT CAST(0 AS BIGINT) AS query_id, 1 AS recall_ok,
        |       1 AS appended_ok, 1 AS filtered_ok""".stripMargin),
    // ---- the persisted index slot GENERALIZED beyond HNSW: IVF-PQ and
    // BQ tiers with the identical build-at-load → probe → append →
    // delete-widen → vacuum-rebuild lifecycle (single slot per table,
    // duckvdb.py:37-45 generalized to three storage shapes). Each entry
    // builds over an 80% base, appends a 20% delta (code rows — frozen
    // codebooks for IVF-PQ, stateless sign codes for BQ), probes a
    // 5-query panel through the facade route, and pins filtered ==
    // exact (filters bypass the index, the reference's own scope).
    // Gates vs measured recall: IVF-PQ probes query-ADAPTIVELY (floor
    // nProbe 8, up to 16 cells within a 1.5× centroid-distance band —
    // boundary queries widen, interior queries stay cheap), measured
    // mean 0.90 (sf0.01 panel) / 0.88 (sf0.1) and 0.89/0.87 on a
    // 50-query panel → floor 0.85 (raised from 0.7; fixed-8 probing
    // measured 0.82/0.74). BQ mean 0.97 (sf0.01) / 0.95 (sf0.1) →
    // floor 0.85 (raised from the launch-conservative 0.8 to match the
    // IVF-PQ tier; >0.09 of slack remains at both SFs). ----
    Entry("vdb_knn_indexed_ivfpq", (s, dir) =>
      SparkEntry.indexedTierLifecycle(s, dir, "ivfpq", meanFloor = 0.85),
      """SELECT CAST(0 AS BIGINT) AS query_id, 1 AS recall_ok,
        |       1 AS appended_ok, 1 AS filtered_ok""".stripMargin),
    Entry("vdb_knn_indexed_bq", (s, dir) =>
      SparkEntry.indexedTierLifecycle(s, dir, "bq", meanFloor = 0.85),
      """SELECT CAST(0 AS BIGINT) AS query_id, 1 AS recall_ok,
        |       1 AS appended_ok, 1 AS filtered_ok""".stripMargin),
    // ---- BOUNDED tombstone probe-widening, all three persisted tiers:
    // merge-on-read deletes widen the indexed probe (k + tombstones) so
    // k LIVE rows survive, but the widening is CAPPED at WidenCap·k —
    // past the cap the facade routes down the exact path (correct at
    // any debt) instead of asking the index for a debt-proportional
    // candidate set (a 10%-deleted 1B-row table would otherwise probe
    // for 100M). Per tier, against a throwaway COPY of the built
    // fixture: (1) moderate debt (20 deletes ≤ 3k) keeps the widened
    // INDEXED route — width arithmetic pinned per tier, and for the
    // flagship graph tier the route runs end-to-end (k live rows, zero
    // dead ids, recall vs the post-delete exact truth); (2) heavy debt
    // (~30% deleted) trips the cap on ALL tiers — probeWidth None on
    // each, the graph tier's query EQUALS the exact leg
    // value-for-value end-to-end (the cap decision and exact fallback
    // are one shared facade path, so the other tiers pin engagement
    // only), and indexDeleteDebt surfaces the rebuild signal. ----
    // ---- OPT-IN auto-vacuum (spark.graft.vacuum.debtThreshold): a
    // delete whose debt ratio crosses the threshold folds its own
    // tombstones — data rewritten, the active index tier rebuilt over
    // the survivors — exactly when the capped probe-widening is about
    // to stop paying. Driven on a copy of the BQ-tier fixture (the
    // cheapest rebuild: map-only sign encode; the graph-tier rebuild
    // is spec-covered). Gates: tombstones folded to zero, the row
    // count dropped by the deleted share, and the post-vacuum indexed
    // route returns k rows with ZERO vacuumed ids (a stale code table
    // would surface dead surrogates). ----
    Entry("vdb_auto_vacuum", (s, dir) => {
      import s.implicits._
      val (src, _) = SparkEntry.tierFixture(s, dir, "bq")
      s.conf.set("spark.graft.vacuum.debtThreshold", "0.25")
      try {
        val db = new VectorDB(s, "items", SparkEntry.copyFixture(s, src),
          "hashing", Map("dim" -> "64"), dim = 64)
        val total = db.numRows
        val mdId = get_json_object(col(graft.core.VectorSchema.METADATA), "$.vec_id").cast("long")
        db.table.delete(mdId % 10 < 3) // ~30% ≥ threshold → the delete vacuums
        val vacuumedOk = db.table.tombstoneCount == 0L && db.numRows < total
        val qvec = s.read.parquet(t(dir, "embeddings"))
          .where($"vec_id" === 1).select($"embedding").head.getSeq[Float](0).toArray
        val got = db.queryByVector(qvec, k = 10).collect()
        // the entry gates VACUUM semantics (BQ recall has its own
        // gates): the post-vacuum indexed route must return k rows and
        // none of them a vacuumed id — a stale code table would
        // surface dead surrogates here
        val deadReturned = got.exists { r =>
          """"vec_id":(\d+)""".r.findFirstMatchIn(r.metadata)
            .map(_.group(1).toLong).exists(_ % 10 < 3)
        }
        Seq((0L, if (vacuumedOk) 1 else 0,
          if (got.length == 10 && !deadReturned) 1 else 0))
          .toDF("query_id", "vacuumed_ok", "live_ok")
      } finally s.conf.unset("spark.graft.vacuum.debtThreshold")
    },
      "SELECT CAST(0 AS BIGINT) AS query_id, 1 AS vacuumed_ok, 1 AS live_ok"),
    Entry("vdb_knn_capped_widen", (s, dir) => {
      import s.implicits._
      val emb = s.read.parquet(t(dir, "embeddings"))
      val qvec = emb.where($"vec_id" === 0).select($"embedding").head.getSeq[Float](0).toArray
      // The full two-phase delete lifecycle runs END-TO-END on the
      // flagship graph tier; the widen/cap decision (probeWidth), the
      // exact fallback routing and the debt signal are ONE
      // tier-agnostic facade path (spec-pinned for k=1..40 in
      // VectorDBSpec), so the code tiers assert the width arithmetic
      // and cap engagement against the SAME deleted table instead of
      // re-paying a fixture copy, two delete jobs and a tombstone
      // distinct-count each — the per-tier PROBE behavior they'd
      // otherwise re-prove is covered by their own lifecycle/filtered
      // entries (vdb_knn_indexed_*, ann_filtered_*, vdb_knn_bulk_*).
      val (src, _) = SparkEntry.tierFixture(s, dir, "hnsw")
      val db = new VectorDB(s, "items", SparkEntry.copyFixture(s, src),
        "hashing", Map("dim" -> "64"), dim = 64)
      val mdId = get_json_object(col(graft.core.VectorSchema.METADATA), "$.vec_id").cast("long")
      // phase 1 — moderate debt: 20 tombstones, within (WidenCap−1)·k:
      // the widened INDEXED route must return k live rows at graph
      // recall vs the post-delete exact truth
      db.table.delete(mdId >= 100 && mdId < 120)
      val widened = db.probeWidth(10)
      val widenRouteOk = widened.contains(10 + 20) && 30 <= VectorDB.WidenCap * 10
      val widenOkHnsw = widenRouteOk && {
        val (got, exact1Rows) = graft.core.Par.pair(
          db.queryByVector(qvec, k = 10).collect(),
          db.queryByVector(qvec, k = 10, useIndex = false).collect())
        val exact1 = exact1Rows.map(_.id).toSet
        // a returned row is DEAD iff its metadata vec_id was
        // tombstoned above — parsed client-side, no jobs
        val deadReturned = got.exists { r =>
          """"vec_id":(\d+)""".r.findFirstMatchIn(r.metadata)
            .map(_.group(1).toLong).exists(v => v >= 100 && v < 120)
        }
        got.length == 10 && !deadReturned &&
          (exact1 intersect got.map(_.id).toSet).size.toDouble / exact1.size >= 0.9
      }
      // phase 2 — heavy debt: ~30% deleted, the cap trips and the
      // route falls back to the exact path: results EQUAL the exact
      // leg value-for-value (same plan, raw kernel doubles and all)
      db.table.delete(mdId % 10 < 3)
      val cappedEngaged = db.probeWidth(10).isEmpty
      val cappedOkHnsw = cappedEngaged && {
        val (viaFacade, viaExact) = graft.core.Par.pair(
          db.queryByVector(qvec, k = 10).collect().toSeq,
          db.queryByVector(qvec, k = 10, useIndex = false).collect().toSeq)
        viaFacade == viaExact && viaFacade.length == 10
      }
      val debtOk = db.indexDeleteDebt > 0.2
      val rows = Seq("hnsw", "ivfpq", "bq").map { tier =>
        if (tier == "hnsw")
          (tier, if (widenOkHnsw) 1 else 0, if (cappedOkHnsw) 1 else 0,
            if (debtOk) 1 else 0)
        else // width arithmetic + cap + debt pinned on the shared state
          (tier, if (widenRouteOk) 1 else 0, if (cappedEngaged) 1 else 0,
            if (debtOk) 1 else 0)
      }
      rows.toDF("tier", "widen_ok", "capped_exact_ok", "debt_ok")
    },
      """SELECT tier, 1 AS widen_ok, 1 AS capped_exact_ok, 1 AS debt_ok
        |FROM (VALUES ('hnsw'), ('ivfpq'), ('bq')) t(tier)""".stripMargin),
    // ---- facade BULK retrieval (queryByVectors): a 100-query batch
    // routed through the persisted graph's distributed (query ×
    // segment) cogroup probe — no driver-side panel, linear in batch
    // size (ScaleStress vdb_bulk) — vs the exact facade twin. Gates:
    // every query returns exactly k rows and ≥ 0.9 of the exact
    // top-k. ----
    Entry("vdb_knn_bulk", (s, dir) => {
      import s.implicits._
      // read-only bulk probe against the once-per-session full-table
      // graph fixture — the per-run contract is the 100-query batch
      // through the distributed cogroup probe + the exact twin
      val wh = SparkEntry.fullHnswFixture(s, dir)
      val emb = s.read.parquet(t(dir, "embeddings"))
      val db = new VectorDB(s, "items", wh, "hashing", Map("dim" -> "64"), dim = 64)
      val q = emb.where($"vec_id" < 100).select($"vec_id".as("query_id"), $"embedding")
      val approx = db.queryByVectors(q, k = 10)
      val exact = db.queryByVectors(q, k = 10, useIndex = false)
      val matched = approx.select($"query_id", $"id")
        .join(exact.select($"query_id", $"id"), Seq("query_id", "id"))
        .groupBy($"query_id").agg(count(lit(1)).as("hits"))
      exact.groupBy($"query_id").agg(count(lit(1)).as("n"))
        .join(approx.groupBy($"query_id").agg(count(lit(1)).as("ka")), Seq("query_id"))
        .join(matched, Seq("query_id"), "left")
        .select($"query_id",
          when($"ka" === $"n", 1).otherwise(0).as("k_ok"),
          when(coalesce($"hits", lit(0)) >= $"n" * 0.9, 1).otherwise(0).as("recall_ok"))
    },
      "SELECT vec_id AS query_id, 1 AS k_ok, 1 AS recall_ok FROM embeddings WHERE vec_id < 100"),
    // ---- BULK retrieval through the NON-GRAPH tiers (bulk tier
    // parity): the IVF-PQ probe is distributed in both dimensions
    // (probe rows equi-join the cell-pruned codes — no driver panel),
    // the BQ cascade broadcasts the batch over the code scan. Gates:
    // all 100 queries return exactly k rows; batch MEAN recall vs the
    // exact bulk twin ≥ the tier floor (measured 0.90/0.88 ivfpq,
    // 0.97/0.95 bq at sf0.01/sf0.1 — same index shapes as the serving
    // lifecycle entries; bq floor 0.85 to match the serving gate). ----
    Entry("vdb_knn_bulk_ivfpq", (s, dir) =>
      SparkEntry.bulkTierProbe(s, dir, "ivfpq", floor = 0.85),
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, 1 AS k_ok, 1 AS recall_ok
        |FROM embeddings WHERE vec_id < 100""".stripMargin),
    Entry("vdb_knn_bulk_bq", (s, dir) =>
      SparkEntry.bulkTierProbe(s, dir, "bq", floor = 0.85),
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, 1 AS k_ok, 1 AS recall_ok
        |FROM embeddings WHERE vec_id < 100""".stripMargin),
    // ---- MLlib-Transformer embedder (third registry family): IDF
    // weights fitted with the real Tokenizer→HashingTF→IDF stages; the
    // corpus embeds through the REGISTRY path (mapPartitions, weights
    // in params) and again through the Transformer pipeline, and the
    // two top-10s must agree rank-for-rank — the per-row embedder is
    // contractually the pipeline. murmur3 term hashing has no SQL
    // twin, so the oracle asserts the agreement gate. ----
    Entry("vdb_embed_tfidf", (s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(t(dir, "documents")).select($"doc_id", $"text")
      val fitted = graft.embed.TfIdfEmbedder.fitOn(docs, "text", 64)
      val params = Map("dim" -> "64", "idf" -> fitted.idf.mkString(","))
      val qvec = graft.embed.Embedders.forName("tfidf", params)
        .embed("distributed query engine")
      def top10(embedded: DataFrame) = embedded
        .select($"doc_id",
          RoundPortableExpr.r(VectorFunctions.cosineDistance($"embedding", typedlit(qvec)), 4)
            .as("distance"))
        .orderBy($"distance".asc, $"doc_id".asc).limit(10)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy($"distance".asc, $"doc_id".asc)))
      val viaRegistry = top10(graft.embed.EmbedOps.withEmbedding(docs, "text", "tfidf", params))
      val viaPipeline = top10(graft.embed.TfIdfEmbedder.transformMl(docs, "text", 64))
      viaRegistry.as("a").join(viaPipeline.as("b"), Seq("rank"), "full_outer")
        .select($"rank",
          when($"a.doc_id" === $"b.doc_id" && $"a.distance" === $"b.distance", 1)
            .otherwise(0).as("ok"))
    },
      "SELECT CAST(t.j + 1 AS INTEGER) AS rank, 1 AS ok FROM range(10) t(j)"),
    // ---- small-file compaction: the operational fix for the classic
    // many-tiny-files failure mode of streaming/partitioned ingest.
    // Correctness oracle = content preservation (count + order-free
    // bit_xor checksum equals the source table's); the file-count
    // collapse (64 → 4) is asserted in ZOrderSpec. ----
    // ---- the maintenance lifecycle through SQL procedures (CALL
    // cat.system.snapshot/compact/vacuum — the DSv2 ProcedureCatalog
    // surface): fragmented catalog inserts, SQL DELETE tombstones,
    // then the three CALLs; the post-maintenance census must match the
    // relational oracle and proc_ok pins that compaction removed
    // files and vacuum folded exactly the deleted rows. ----
    Entry("vdb_catalog_proc", (s, dir) => {
      import s.implicits._
      val wh = core.Scratch.dir(s, "graft-cat-proc")
      val cat = "gcpr" + java.lang.Long.toHexString(System.nanoTime())
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GvdbCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"CREATE NAMESPACE $cat.p")
      s.sql(s"CREATE TABLE $cat.p.docs " +
        "(id string, metadata string, embedding array<float>) USING gvdb")
      val docs = s.read.parquet(t(dir, "documents")).where($"doc_id" < 300)
      for (b <- 0 until 12) {
        docs.where($"doc_id" % 12 === b)
          .select($"doc_id".cast("string").as("id"),
            to_json(struct($"lang", $"n_chars")).as("metadata"),
            array($"n_chars".cast("float")).as("embedding"))
          .coalesce(1).createOrReplaceTempView("cat_proc_b")
        s.sql(s"INSERT INTO $cat.p.docs SELECT * FROM cat_proc_b")
      }
      val nDe = docs.where($"lang" === "de").count()
      s.sql(s"DELETE FROM $cat.p.docs WHERE " +
        s"get_json_object(metadata, '$$.lang') = 'de'")
      s.sql(s"CALL $cat.system.snapshot('p.docs')").head.getInt(0)
      val removed = s.sql(s"CALL $cat.system.compact('p.docs', 1000)").head.getInt(0)
      val folded = s.sql(s"CALL $cat.system.vacuum('p.docs')").head.getLong(0)
      val ok = removed >= 2 && folded == nDe
      val back = s.sql(s"""
        SELECT get_json_object(metadata, '$$.lang') AS lang, count(*) AS cnt,
               sum(cast(get_json_object(metadata, '$$.n_chars') AS bigint)) AS sum_chars,
               ${if (ok) 1 else 0} AS proc_ok
        FROM $cat.p.docs GROUP BY 1""")
      val got = back.collect().toSeq
      s.sql(s"DROP TABLE $cat.p.docs")
      s.sql(s"DROP NAMESPACE $cat.p")
      s.catalog.dropTempView("cat_proc_b")
      s.createDataFrame(s.sparkContext.parallelize(got, 1), back.schema)
    },
      // SQL maintenance procedures: census after DELETE + CALL
      // snapshot/compact/vacuum = the relational survivors
      """SELECT lang, count(*) AS cnt, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       1 AS proc_ok
        |FROM documents WHERE doc_id < 300 AND lang <> 'de'
        |GROUP BY lang""".stripMargin),
    // ---- IN-PLACE gvdb small-file compaction (the CDC-tail
    // maintenance op): 12 fragmented inserts + a tombstone delete,
    // then compactSmallFiles rewrites the small-file tail ONLY —
    // raw rows (dead ones included) preserved bit-identical, so the
    // merge-on-read census is unchanged while the file count drops.
    // compact_ok pins that files were actually removed and the count
    // shrank; the census is the DuckDB-checked invariant. ----
    Entry("vdb_compact", (s, dir) => {
      import s.implicits._
      val wh = core.Scratch.dir(s, "graft-vcompact")
      val table = new graft.table.VectorTable(s, s"$wh/docs", 1).create()
      val docs = s.read.parquet(t(dir, "documents")).where($"doc_id" < 300)
      for (b <- 0 until 12)
        table.insert(docs.where($"doc_id" % 12 === b)
          .select($"doc_id".cast("string").as("id"),
            to_json(struct($"lang", $"n_chars")).as("metadata"),
            array($"n_chars".cast("float")).as("embedding")))
      table.delete(get_json_object(col("metadata"), "$.lang") === "de")
      def dataFiles = graft.sources.GvdbFooters
        .idStats(s, s"$wh/docs").size
      val before = dataFiles
      val removed = table.compactSmallFiles(targetFileRows = 1000)
      val after = dataFiles
      val ok = removed >= 2 && after < before
      table.df
        .select(get_json_object($"metadata", "$.lang").as("lang"),
          get_json_object($"metadata", "$.n_chars").cast("bigint").as("chars"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("cnt"), sum($"chars").as("sum_chars"))
        .withColumn("compact_ok", lit(if (ok) 1 else 0))
    },
      // in-place gvdb compaction: MoR census unchanged across the
      // small-file rewrite (de rows tombstoned pre-compaction, raw rows
      // preserved bit-identical through it)
      """SELECT lang, count(*) AS cnt, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       1 AS compact_ok
        |FROM documents WHERE doc_id < 300 AND lang <> 'de'
        |GROUP BY lang""".stripMargin),
    // ---- S6 source parity as a registered query: JSONL docs written
    // and read back through the JSON source (the reference's native doc
    // format), then aggregated — result must equal the same aggregation
    // straight off parquet ----
    Entry("vdb_json_source", (s, dir) => {
      import s.implicits._
      val tmp = core.Scratch.dir(s, "graft-jsonl")
      val docs = s.read.parquet(t(dir, "documents"))
      docs.select(to_json(struct($"doc_id", $"text", $"lang", $"source", $"n_chars")).as("value"))
        .write.mode("overwrite").text(tmp)
      s.read.schema(docs.schema).json(tmp)
        .where($"lang" === "en")
        .groupBy($"source")
        .agg(count(lit(1)).as("cnt"), sum($"n_chars").as("sum_chars"))
    },
      """SELECT source, count(*) AS cnt, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE lang = 'en' GROUP BY 1""".stripMargin)
  )
}
