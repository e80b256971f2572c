package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.table.VectorTable

/** The gvdb catalog plugin (sources/GvdbCatalog.scala): the reference's
  * one-name-one-database contract (vdb.py:15-16) at Spark's catalog
  * level — CREATE/DROP NAMESPACE and TABLE, INSERT INTO through the
  * dedup anti-join, plain SELECT through the merge-on-read BatchScan,
  * external LOCATION tables adopting existing warehouse roots. */
class GvdbCatalogSpec extends SparkSpec with Matchers {

  private lazy val warehouse = tempDir("graft-catalog")

  private def init(): Unit = {
    spark.conf.set("spark.sql.catalog.vdbcat", "graft.sources.GvdbCatalog")
    spark.conf.set("spark.sql.catalog.vdbcat.warehouse", warehouse)
  }

  test("managed table lifecycle: DDL, dedup insert, MoR select, drop") {
    init()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS vdbcat.prod")
    spark.sql("""CREATE TABLE vdbcat.prod.docs
                 (id string, metadata string, embedding array<float>) USING gvdb""")
    import spark.implicits._
    (0 until 20).map(i => (i.toString, s"""{"grp":${i % 2}}""", Seq(i.toFloat, 1f)))
      .toDF("id", "metadata", "embedding").createOrReplaceTempView("cat_delta")
    spark.sql("INSERT INTO vdbcat.prod.docs SELECT id, metadata, embedding FROM cat_delta")
    // overlapping re-insert: first-wins by id (duckvdb.py:56-61)
    spark.sql("INSERT INTO vdbcat.prod.docs SELECT id, metadata, embedding FROM cat_delta")
    spark.sql("SELECT count(*) AS n FROM vdbcat.prod.docs").head().getLong(0) shouldBe 20L
    // the catalog read is the V2 BatchScan over the merge-on-read view:
    // a facade delete on the SAME path (catalog tables ARE warehouse
    // paths) is visible through the catalog name
    new VectorTable(spark, s"$warehouse/prod/docs", 2)
      .delete(get_json_object(col("metadata"), "$.grp") === "1")
    spark.sql("SELECT count(*) AS n FROM vdbcat.prod.docs").head().getLong(0) shouldBe 10L
    spark.sql("SELECT * FROM vdbcat.prod.docs").queryExecution.executedPlan
      .toString should include("BatchScan")
    spark.sql("SHOW TABLES IN vdbcat.prod").collect()
      .map(_.getString(1)) should contain("docs")
    spark.sql("DROP TABLE vdbcat.prod.docs")
    spark.catalog.tableExists("vdbcat.prod.docs") shouldBe false
    // managed drop removed data and sidecars
    new java.io.File(s"$warehouse/prod/docs").exists() shouldBe false
    new java.io.File(s"$warehouse/prod/docs.tombstones").exists() shouldBe false
  }

  test("external LOCATION table adopts an existing gvdb root; DROP unlinks only") {
    init()
    import spark.implicits._
    val external = tempDir("graft-catalog-ext") + "/tbl"
    (0 until 7).map(i => (i.toString, "{}", Seq(i.toFloat)))
      .toDF("id", "metadata", "embedding")
      .write.format("gvdb").option("dim", "1").mode("overwrite").save(external)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS vdbcat.ext")
    spark.sql(s"CREATE TABLE vdbcat.ext.adopted USING gvdb LOCATION '$external'")
    spark.sql("SELECT count(*) AS n FROM vdbcat.ext.adopted").head().getLong(0) shouldBe 7L
    // external tables are listed by their pointer (no managed dir)
    spark.sql("SHOW TABLES IN vdbcat.ext").collect()
      .map(_.getString(1)) should contain("adopted")
    spark.sql("INSERT INTO vdbcat.ext.adopted VALUES ('x', '{}', array(9.0f))")
    spark.sql("DROP TABLE vdbcat.ext.adopted")
    // the external root survives the unlink, with the inserted row
    spark.read.format("gvdb").load(external).count() shouldBe 8L
    new VectorTable(spark, external, 1).drop()
  }

  test("ANN planner rewrite consults the index through a catalog table name") {
    import spark.implicits._
    init()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS vdbcat.ann")
    spark.sql("""CREATE TABLE vdbcat.ann.vecs
                 (id string, metadata string, embedding array<float>) USING gvdb""")
    (0 until 200).map { i =>
      val a = i * 0.01
      (f"d$i%03d", "{}", Seq(math.cos(a).toFloat, math.sin(a).toFloat, 0f, 0f))
    }.toDF("id", "metadata", "embedding").createOrReplaceTempView("ann_delta")
    spark.sql("INSERT INTO vdbcat.ann.vecs SELECT id, metadata, embedding FROM ann_delta")
    new VectorTable(spark, s"$warehouse/ann/vecs", 4).buildHnswIndex()
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.vdbcat", "graft.sources.GvdbCatalog")
    s2.conf.set("spark.sql.catalog.vdbcat.warehouse", warehouse)
    s2.experimental.extraOptimizations = Seq(new graft.plans.AnnRewriteRule(s2))
    s2.conf.set("spark.graft.ann.autoRewrite", "true")
    val knnSql =
      """SELECT id FROM (
        |  SELECT id, cosine_distance(embedding,
        |    array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT),
        |          CAST(0.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS d
        |  FROM vdbcat.ann.vecs) ORDER BY d LIMIT 5""".stripMargin
    Seq(s2, spark).foreach(_.sessionState.functionRegistry
      .createOrReplaceTempFunction("cosine_distance",
        exprs => graft.functions.CosineDistance(exprs(0), exprs(1)), "built-in"))
    val accelerated = s2.sql(knnSql)
    // the planning-time graph consult planted its candidate IN-filter
    accelerated.queryExecution.optimizedPlan.toString should include("xxhash64")
    val approx = accelerated.collect().map(_.getString(0)).toSet
    val exact = spark.sql(knnSql).collect().map(_.getString(0)).toSet
    (exact intersect approx).size.toDouble / exact.size should be >= 0.8
    spark.sql("DROP TABLE vdbcat.ann.vecs")
  }

  test("fixed-schema contract is enforced at CREATE TABLE") {
    init()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS vdbcat.bad")
    an[Exception] should be thrownBy
      spark.sql("CREATE TABLE vdbcat.bad.wrong (a int, b string) USING gvdb")
    an[Exception] should be thrownBy
      spark.sql("""CREATE TABLE vdbcat.bad.wrongemb
                   (id string, metadata string, embedding array<double>) USING gvdb""")
  }

  test("VectorDB.forName opens the facade over a catalog name (shared files with SQL)") {
    init()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS vdbcat.fac")
    spark.sql("""CREATE TABLE vdbcat.fac.items
                 (id string, metadata string, embedding array<float>) USING gvdb""")
    val db = graft.VectorDB.forName(spark, "vdbcat.fac.items", dim = 64)
    import spark.implicits._
    db.insertEmbedded(Seq(("""{"k":"a"}""")).toDF("metadata")
      .select(col("metadata"),
        typedlit(graft.embed.Embedders.forName("hashing", Map("dim" -> "64"))
          .embed("hello world").toSeq).as("embedding")))
    // the SQL surface sees the facade's insert through the catalog name
    spark.sql("SELECT count(*) AS n FROM vdbcat.fac.items").head().getLong(0) shouldBe 1L
    db.numRows shouldBe 1L
    an[IllegalArgumentException] should be thrownBy
      graft.VectorDB.forName(spark, "justonename")
    // the gvdb TVFs accept the catalog NAME in place of a path too
    graft.plans.GvdbTableFunctions.register(spark)
    spark.sql("SELECT count(*) AS n FROM gvdb_scan('vdbcat.fac.items')")
      .head().getLong(0) shouldBe 1L
    spark.sql("DROP TABLE vdbcat.fac.items")
  }

  test("SQL DELETE FROM / TRUNCATE map onto the merge-on-read tombstone delete") {
    init()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS vdbcat.del")
    spark.sql("""CREATE TABLE vdbcat.del.t
                 (id string, metadata string, embedding array<float>) USING gvdb""")
    import spark.implicits._
    (0 until 30).map(i => (i.toString, "{}", Seq(i.toFloat)))
      .toDF("id", "metadata", "embedding").createOrReplaceTempView("del_src")
    spark.sql("INSERT INTO vdbcat.del.t SELECT * FROM del_src")
    spark.sql("DELETE FROM vdbcat.del.t WHERE id LIKE '1%'") // 1, 10..19 → 11 rows
    spark.sql("SELECT count(*) AS n FROM vdbcat.del.t").head().getLong(0) shouldBe 19L
    // the delete is merge-on-read: data files untouched, tombstones appended
    new java.io.File(s"$warehouse/del/t.tombstones").exists() shouldBe true
    new VectorTable(spark, s"$warehouse/del/t", 1).tombstoneCount shouldBe 11L
    // an UNTRANSLATABLE predicate (JSON path) lowers to the
    // Column-evaluated tombstone delete (GvdbDeleteCommand) — still
    // merge-on-read, not an error and not a rewrite
    spark.sql("INSERT INTO vdbcat.del.t VALUES ('x1','{\"k\":\"v\"}',array(9.0f))")
    spark.sql("DELETE FROM vdbcat.del.t WHERE get_json_object(metadata, '$.k') = 'v'")
    spark.sql("SELECT count(*) AS n FROM vdbcat.del.t").head().getLong(0) shouldBe 19L
    new VectorTable(spark, s"$warehouse/del/t", 1).tombstoneCount shouldBe 12L
    spark.sql("TRUNCATE TABLE vdbcat.del.t")
    spark.sql("SELECT count(*) AS n FROM vdbcat.del.t").head().getLong(0) shouldBe 0L
    spark.sql("DROP TABLE vdbcat.del.t")
  }

  test("readStream.table over a catalog name: the V2 insert feed by table identity") {
    init()
    import org.apache.spark.sql.DataFrame
    spark.sql("CREATE NAMESPACE IF NOT EXISTS vdbcat.str")
    spark.sql("""CREATE TABLE vdbcat.str.feed
                 (id string, metadata string, embedding array<float>) USING gvdb""")
    spark.sql("INSERT INTO vdbcat.str.feed VALUES ('a','{}',array(1.0f)), ('b','{}',array(2.0f))")
    val out = tempDir("graft-catstream-out")
    val cp = tempDir("graft-catstream-cp")
    val q = spark.readStream.table("vdbcat.str.feed")
      .writeStream.foreachBatch { (b: DataFrame, _: Long) =>
        b.write.mode("append").parquet(out); ()
      }
      .option("checkpointLocation", cp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.read.parquet(out).select("id").collect()
      .map(_.getString(0)).sorted shouldBe Array("a", "b")
    spark.sql("DROP TABLE vdbcat.str.feed")
  }

  test("writeStream.toTable over a catalog name: V2 STREAMING_WRITE by table identity") {
    init()
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    spark.sql("CREATE NAMESPACE IF NOT EXISTS vdbcat.strw")
    spark.sql("""CREATE TABLE vdbcat.strw.sink
                 (id string, metadata string, embedding array<float>) USING gvdb""")
    val cp = tempDir("graft-catstreamw-cp")
    val src = MemoryStream[(String, String, Seq[Float])]
    def start() = src.toDF().toDF("id", "metadata", "embedding")
      .writeStream.option("checkpointLocation", cp).toTable("vdbcat.strw.sink")
    val q = start()
    src.addData(("a", "{}", Seq(1f)), ("b", "{}", Seq(2f)))
    q.processAllAvailable()
    q.stop()
    spark.sql("SELECT count(*) AS n FROM vdbcat.strw.sink").head().getLong(0) shouldBe 2L
    // restart from the SAME checkpoint: the epoch ledger is scoped by
    // the (checkpoint-stable) query id, so exactly one ledger file
    // exists and the overlap dedups
    val q2 = start()
    src.addData(("b", "{}", Seq(2f)), ("c", "{}", Seq(3f)))
    q2.processAllAvailable()
    q2.stop()
    spark.sql("SELECT id FROM vdbcat.strw.sink ORDER BY id").collect()
      .map(_.getString(0)) shouldBe Array("a", "b", "c")
    new java.io.File(s"$warehouse/strw/sink.sink_commits")
      .listFiles().count(f => !f.getName.startsWith(".") &&
        !f.getName.endsWith(".tmp")) shouldBe 1
    // no staged leftovers after commits
    val staging = new java.io.File(s"$warehouse/strw/sink.staging")
    (!staging.exists() ||
      staging.listFiles().forall(_.listFiles().isEmpty)) shouldBe true
    spark.sql("DROP TABLE vdbcat.strw.sink")
  }

  test("SQL time travel through the catalog: VERSION AS OF / TIMESTAMP AS OF") {
    init()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS vdbcat.tt")
    spark.sql("""CREATE TABLE vdbcat.tt.t
                 (id string, metadata string, embedding array<float>) USING gvdb""")
    spark.sql("INSERT INTO vdbcat.tt.t VALUES ('a','{}',array(1.0f)), ('b','{}',array(2.0f))")
    val tbl = new VectorTable(spark, s"$warehouse/tt/t", 1)
    val v1 = tbl.snapshot()
    Thread.sleep(5)
    val midTs = System.currentTimeMillis()
    Thread.sleep(5)
    spark.sql("INSERT INTO vdbcat.tt.t VALUES ('c','{}',array(3.0f))")
    spark.sql("DELETE FROM vdbcat.tt.t WHERE id = 'a'")
    tbl.snapshot() // v2
    spark.sql("SELECT count(*) AS n FROM vdbcat.tt.t").head().getLong(0) shouldBe 2L
    // VERSION AS OF pins the v1 manifest: immune to the later insert AND delete
    spark.sql(s"SELECT id FROM vdbcat.tt.t VERSION AS OF $v1").collect()
      .map(_.getString(0)).sorted shouldBe Array("a", "b")
    // TIMESTAMP AS OF resolves to the last snapshot at or before it (v1)
    val iso = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.ofEpochMilli(midTs))
    spark.sql(s"SELECT count(*) AS n FROM vdbcat.tt.t TIMESTAMP AS OF '$iso'")
      .head().getLong(0) shouldBe 2L
    spark.sql(s"SELECT id FROM vdbcat.tt.t TIMESTAMP AS OF '$iso'").collect()
      .map(_.getString(0)) should contain("a")
    // before every snapshot: no version resolves
    an[Exception] should be thrownBy
      spark.sql("SELECT * FROM vdbcat.tt.t TIMESTAMP AS OF '1999-01-01 00:00:00'").collect()
    spark.sql("DROP TABLE vdbcat.tt.t")
  }

  test("rename keeps time travel alive: manifests resolve against the new root") {
    init()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS vdbcat.mv")
    spark.sql("""CREATE TABLE vdbcat.mv.t
                 (id string, metadata string, embedding array<float>) USING gvdb""")
    spark.sql("INSERT INTO vdbcat.mv.t VALUES ('a','{}',array(1.0f)), ('b','{}',array(2.0f))")
    val v1 = new VectorTable(spark, s"$warehouse/mv/t", 1).snapshot()
    spark.sql("INSERT INTO vdbcat.mv.t VALUES ('c','{}',array(3.0f))")
    spark.sql("DELETE FROM vdbcat.mv.t WHERE id = 'b'")
    val v2 = new VectorTable(spark, s"$warehouse/mv/t", 1).snapshot()
    spark.sql("ALTER TABLE vdbcat.mv.t RENAME TO vdbcat.mv.t2")
    // every snapshot surface works through the RENAMED root: asOf,
    // VERSION AS OF by catalog name, and the CDC diff
    new VectorTable(spark, s"$warehouse/mv/t2", 1).asOf(v1)
      .select("id").collect().map(_.getString(0)).sorted shouldBe Array("a", "b")
    spark.sql(s"SELECT id FROM vdbcat.mv.t2 VERSION AS OF $v1").collect()
      .map(_.getString(0)).sorted shouldBe Array("a", "b")
    graft.plans.GvdbTableFunctions.register(spark)
    val changes = spark.sql(
        s"SELECT id, change FROM gvdb_changes('$warehouse/mv/t2', $v1, $v2)")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    changes shouldBe Set(("c", "added"), ("b", "deleted"))
    spark.sql("DROP TABLE vdbcat.mv.t2")
  }

  test("a namespace holding only external tables is a namespace, not a table") {
    init()
    import spark.implicits._
    val external = tempDir("graft-catalog-extns") + "/tbl"
    (0 until 3).map(i => (i.toString, "{}", Seq(i.toFloat)))
      .toDF("id", "metadata", "embedding")
      .write.format("gvdb").option("dim", "1").mode("overwrite").save(external)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS vdbcat.extonly")
    spark.sql(s"CREATE TABLE vdbcat.extonly.ptr USING gvdb LOCATION '$external'")
    // the namespace dir now holds only a .location pointer FILE — it
    // must still list as a namespace, never as a table of its parent
    spark.sql("SHOW TABLES IN vdbcat").collect()
      .map(_.getString(1)) should not contain "extonly"
    spark.catalog.tableExists("vdbcat.extonly") shouldBe false
    spark.sql("SHOW TABLES IN vdbcat.extonly").collect()
      .map(_.getString(1)) should contain("ptr")
    spark.sql("DROP TABLE vdbcat.extonly.ptr")
    new VectorTable(spark, external, 1).drop()
  }

  test("a failing external CREATE leaves no phantom pointer") {
    init()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS vdbcat.phantom")
    // LOCATION under a plain FILE: the root create fails before the
    // pointer is written, so the table must not exist afterwards
    val blocker = Files.createFile(
      java.nio.file.Paths.get(tempDir("graft-catalog-blocker"), "blocker.dat"))
    an[Exception] should be thrownBy
      spark.sql(s"CREATE TABLE vdbcat.phantom.bad USING gvdb LOCATION '$blocker/sub/tbl'")
    spark.catalog.tableExists("vdbcat.phantom.bad") shouldBe false
    spark.sql("SHOW TABLES IN vdbcat.phantom").collect()
      .map(_.getString(1)) should not contain "bad"
  }

  test("MERGE INTO: CDC apply by SQL — update/delete/insert, star actions, MoR deletes") {
    init()
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS vdbcat.mrg")
    spark.sql("""CREATE TABLE vdbcat.mrg.t
                 (id string, metadata string, embedding array<float>) USING gvdb""")
    spark.sql("""INSERT INTO vdbcat.mrg.t VALUES
      ('a','{"v":1}',array(1.0f)), ('b','{"v":1}',array(2.0f)), ('c','{"v":1}',array(3.0f))""")
    Seq(("a", """{"v":2}""", Seq(10f), "u"), ("b", """{"v":2}""", Seq(0f), "d"),
        ("d", """{"v":2}""", Seq(4f), "i"), ("e", """{"v":2}""", Seq(0f), "d"))
      .toDF("id", "metadata", "embedding", "op").createOrReplaceTempView("mrg_changes")
    // the full CDC-apply shape: conditional matched delete + update,
    // conditional insert, and a NOT MATCHED BY SOURCE retraction
    spark.sql("""
      MERGE INTO vdbcat.mrg.t AS t USING mrg_changes AS c ON t.id = c.id
      WHEN MATCHED AND c.op = 'd' THEN DELETE
      WHEN MATCHED THEN UPDATE SET metadata = c.metadata, embedding = c.embedding
      WHEN NOT MATCHED AND c.op <> 'd' THEN
        INSERT (id, metadata, embedding) VALUES (c.id, c.metadata, c.embedding)
      WHEN NOT MATCHED BY SOURCE AND t.id = 'c' THEN DELETE""")
    val after = spark.sql("SELECT id, metadata FROM vdbcat.mrg.t ORDER BY id")
      .collect().map(r => (r.getString(0), r.getString(1)))
    // a updated, b deleted, c retracted by the BY SOURCE clause,
    // d inserted, e's delete matched nothing
    after shouldBe Array(("a", """{"v":2}"""), ("d", """{"v":2}"""))
    spark.sql("SELECT embedding[0] AS e0 FROM vdbcat.mrg.t WHERE id='a'")
      .head().getFloat(0) shouldBe 10f
    // star actions: UPDATE SET * / INSERT * expand by target-column name
    Seq(("d", """{"v":3}""", Seq(9f), "u"), ("f", """{"v":3}""", Seq(5f), "i"))
      .toDF("id", "metadata", "embedding", "op").createOrReplaceTempView("mrg_star")
    spark.sql("""
      MERGE INTO vdbcat.mrg.t t USING mrg_star c ON t.id = c.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    spark.sql("SELECT id, get_json_object(metadata,'$.v') AS v FROM vdbcat.mrg.t ORDER BY id")
      .collect().map(r => (r.getString(0), r.getString(1))) shouldBe
      Array(("a", "2"), ("d", "3"), ("f", "3"))
    // a DELETES-ONLY merge stays merge-on-read: tombstones appear, no rewrite
    spark.sql("""
      MERGE INTO vdbcat.mrg.t t USING mrg_star c ON t.id = c.id
      WHEN MATCHED AND c.op = 'u' THEN DELETE""")
    spark.sql("SELECT id FROM vdbcat.mrg.t ORDER BY id").collect()
      .map(_.getString(0)) shouldBe Array("a", "f")
    new java.io.File(s"$warehouse/mrg/t.tombstones").exists() shouldBe true
    new VectorTable(spark, s"$warehouse/mrg/t", 1).tombstoneCount shouldBe 1L
    spark.catalog.dropTempView("mrg_changes"); spark.catalog.dropTempView("mrg_star")
    spark.sql("DROP TABLE vdbcat.mrg.t")
  }

  test("SQL UPDATE: copy-on-write assignments by catalog name") {
    init()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS vdbcat.upd")
    spark.sql("""CREATE TABLE vdbcat.upd.t
                 (id string, metadata string, embedding array<float>) USING gvdb""")
    spark.sql("""INSERT INTO vdbcat.upd.t VALUES
      ('a','{"v":1}',array(1.0f)), ('b','{"v":1}',array(2.0f)), ('c','{"v":9}',array(3.0f))""")
    // partial assignment + arbitrary (untranslatable) predicate
    spark.sql("""UPDATE vdbcat.upd.t SET metadata = '{"v":2}'
                 WHERE get_json_object(metadata, '$.v') = '1'""")
    spark.sql("SELECT id, metadata FROM vdbcat.upd.t ORDER BY id").collect()
      .map(r => (r.getString(0), r.getString(1))) shouldBe
      Array(("a", """{"v":2}"""), ("b", """{"v":2}"""), ("c", """{"v":9}"""))
    // unassigned columns keep their values
    spark.sql("SELECT embedding[0] AS e0 FROM vdbcat.upd.t WHERE id='b'")
      .head().getFloat(0) shouldBe 2f
    // unconditional UPDATE touches every row
    spark.sql("UPDATE vdbcat.upd.t SET embedding = array(0.5f)")
    spark.sql("SELECT sum(embedding[0]) AS s FROM vdbcat.upd.t")
      .head().getDouble(0) shouldBe 1.5 +- 1e-6
    // SUBQUERY predicates resolve through the lowered commands too
    // (the deferred Column evaluation re-plans them like any Dataset)
    import spark.implicits._
    Seq("a").toDF("kid").createOrReplaceTempView("upd_kill")
    spark.sql("UPDATE vdbcat.upd.t SET metadata = '{\"sub\":1}' " +
      "WHERE id IN (SELECT kid FROM upd_kill)")
    spark.sql("SELECT metadata FROM vdbcat.upd.t WHERE id = 'a'")
      .head().getString(0) shouldBe """{"sub":1}"""
    spark.sql("DELETE FROM vdbcat.upd.t " +
      "WHERE get_json_object(metadata, '$.sub') = '1' AND id IN (SELECT kid FROM upd_kill)")
    spark.sql("SELECT id FROM vdbcat.upd.t ORDER BY id").collect()
      .map(_.getString(0)) shouldBe Array("b", "c")
    spark.catalog.dropTempView("upd_kill")
    spark.sql("DROP TABLE vdbcat.upd.t")
  }

  test("row-level CoW rebuilds the active index tier at the DATA's dimension") {
    init()
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS vdbcat.idx")
    spark.sql("""CREATE TABLE vdbcat.idx.t
                 (id string, metadata string, embedding array<float>) USING gvdb""")
    (0 until 40).map(i => (f"r$i%03d", "{}",
        Seq(i.toFloat, (i % 7).toFloat, (i % 3).toFloat, 1f)))
      .toDF("id", "metadata", "embedding").createOrReplaceTempView("idx_rows")
    spark.sql("INSERT INTO vdbcat.idx.t SELECT * FROM idx_rows")
    new VectorTable(spark, s"$warehouse/idx/t", 4)
      .buildIvfPqIndex(nCells = 4, m = 2, pqK = 16)
    // a CoW merge through the SQL surface (the command opens the table
    // with a dummy dim — the rebuild must resolve dim 4 from the data)
    spark.sql("""MERGE INTO vdbcat.idx.t t
      USING (SELECT 'r000' AS id, '{"u":1}' AS metadata,
             array(9.0f, 9.0f, 9.0f, 9.0f) AS embedding) c ON t.id = c.id
      WHEN MATCHED THEN UPDATE SET *""")
    val vt = new VectorTable(spark, s"$warehouse/idx/t", 4)
    vt.ivfPqIndexMeta.isDefined shouldBe true
    val db = new graft.VectorDB(spark, "t", s"$warehouse/idx", "hashing",
      Map("dim" -> "4"), dim = 4)
    val q = Array(5f, 2f, 1f, 1f)
    val approx = db.queryByVector(q, k = 5).collect().map(_.id).toSet
    val exact = db.queryByVector(q, k = 5, useIndex = false).collect().map(_.id).toSet
    (exact intersect approx).size should be >= 4
    spark.sql("DROP TABLE vdbcat.idx.t")
  }

  test("CTAS / REPLACE TABLE AS SELECT create through the dedup insert") {
    init()
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS vdbcat.ctas")
    // duplicate id in the source: the CTAS write IS the dedup insert
    Seq(("a", "{}", Seq(1f)), ("b", "{}", Seq(2f)), ("a", "{}", Seq(1f)))
      .toDF("id", "metadata", "embedding").createOrReplaceTempView("ctas_src")
    spark.sql("CREATE TABLE vdbcat.ctas.t USING gvdb AS SELECT * FROM ctas_src")
    spark.sql("SELECT count(*) AS n FROM vdbcat.ctas.t").head().getLong(0) shouldBe 2L
    spark.sql("REPLACE TABLE vdbcat.ctas.t USING gvdb " +
      "AS SELECT * FROM ctas_src WHERE id = 'b'")
    spark.sql("SELECT id FROM vdbcat.ctas.t").collect()
      .map(_.getString(0)) shouldBe Array("b")
    spark.catalog.dropTempView("ctas_src")
    // the DataFrameWriterV2 API routes through the same dedup insert
    Seq(("b", "{}", Seq(2f)), ("d", "{}", Seq(4f)))
      .toDF("id", "metadata", "embedding").writeTo("vdbcat.ctas.t").append()
    spark.sql("SELECT id FROM vdbcat.ctas.t ORDER BY id").collect()
      .map(_.getString(0)) shouldBe Array("b", "d") // b deduped
    spark.sql("INSERT OVERWRITE vdbcat.ctas.t VALUES ('z','{}',array(9.0f))")
    spark.sql("SELECT id FROM vdbcat.ctas.t").collect()
      .map(_.getString(0)) shouldBe Array("z")
    spark.sql("DROP TABLE vdbcat.ctas.t")
  }

  test("group CoW: a merge rewrites ONLY the part files holding touched rows") {
    init()
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS vdbcat.grp")
    spark.sql("""CREATE TABLE vdbcat.grp.t
                 (id string, metadata string, embedding array<float>) USING gvdb""")
    // three separate inserts → three distinct part-file groups
    def batch(ids: Range) = ids.map(i => (f"r$i%03d", "{}", Seq(i.toFloat)))
      .toDF("id", "metadata", "embedding")
    Seq(0 until 10, 10 until 20, 20 until 30).foreach { r =>
      batch(r).createOrReplaceTempView("grp_src")
      spark.sql("INSERT INTO vdbcat.grp.t SELECT * FROM grp_src")
    }
    val dir = new java.io.File(s"$warehouse/grp/t")
    def parts() = dir.listFiles().filter(f => f.getName.startsWith("part-") &&
      f.length > 600).map(_.getName).toSet // data-carrying parts (create()'s empty part is ~small)
    val before = parts()
    before.size should be >= 3
    // a tombstone in an untouched group + one in a touched group
    new VectorTable(spark, s"$warehouse/grp/t", 1)
      .delete(col("id").isin("r005", "r025"))
    // merge touches ONLY ids in the r02x group (update r020, delete r021)
    Seq(("r020", """{"u":1}""", Seq(99f), "u"), ("r021", "{}", Seq(0f), "d"))
      .toDF("id", "metadata", "embedding", "op").createOrReplaceTempView("grp_changes")
    spark.sql("""MERGE INTO vdbcat.grp.t t USING grp_changes c ON t.id = c.id
      WHEN MATCHED AND c.op = 'd' THEN DELETE
      WHEN MATCHED THEN UPDATE SET metadata = c.metadata, embedding = c.embedding""")
    val after = parts()
    // untouched groups survive byte-identical (same file names); the
    // touched group's file is gone, replaced by fresh part files
    val survivors = before intersect after
    survivors.size should be >= 2
    (before -- after).size should be >= 1
    // semantics: r021 gone, r020 updated, r005/r025 stay deleted,
    // everything else intact
    spark.sql("SELECT count(*) AS n FROM vdbcat.grp.t").head().getLong(0) shouldBe 27L
    spark.sql("SELECT metadata FROM vdbcat.grp.t WHERE id='r020'")
      .head().getString(0) shouldBe """{"u":1}"""
    spark.sql("SELECT count(*) AS n FROM vdbcat.grp.t WHERE id IN ('r005','r021','r025')")
      .head().getLong(0) shouldBe 0L
    // the victim group's tombstone (r025) left the tombstone table with
    // its file, so the footer COUNT(*) arithmetic stays exact
    val cnt = spark.read.format("gvdb").load(s"$warehouse/grp/t").groupBy().count()
    cnt.queryExecution.executedPlan.toString should include("PushedAggregates")
    cnt.head().getLong(0) shouldBe 27L
    spark.catalog.dropTempView("grp_changes"); spark.catalog.dropTempView("grp_src")
    spark.sql("DROP TABLE vdbcat.grp.t")
  }

  test("selective snapshot expiry: a group CoW keeps snapshots whose files survive") {
    init()
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS vdbcat.sel")
    spark.sql("""CREATE TABLE vdbcat.sel.t
                 (id string, metadata string, embedding array<float>) USING gvdb""")
    def batch(ids: Range) = ids.map(i => (f"r$i%03d", "{}", Seq(i.toFloat)))
      .toDF("id", "metadata", "embedding")
    batch(0 until 10).createOrReplaceTempView("sel_src")
    spark.sql("INSERT INTO vdbcat.sel.t SELECT * FROM sel_src")
    val vt = new VectorTable(spark, s"$warehouse/sel/t", 1)
    val v1 = vt.snapshot() // references ONLY the first file group
    Seq(10 until 20, 20 until 30).foreach { r =>
      batch(r).createOrReplaceTempView("sel_src")
      spark.sql("INSERT INTO vdbcat.sel.t SELECT * FROM sel_src")
    }
    val v2 = vt.snapshot() // references every group, incl. the victim
    // update-carrying merge touching ONLY the r02x group
    Seq(("r025", """{"u":1}""", Seq(99f)))
      .toDF("id", "metadata", "embedding").createOrReplaceTempView("sel_chg")
    spark.sql("""MERGE INTO vdbcat.sel.t t USING sel_chg c ON t.id = c.id
      WHEN MATCHED THEN UPDATE SET metadata = c.metadata, embedding = c.embedding""")
    // v1's files all survived the group rewrite → still readable,
    // through the API and through SQL time travel by catalog name
    vt.snapshotVersions should contain(v1)
    vt.asOf(v1).count() shouldBe 10L
    spark.sql(s"SELECT count(*) AS n FROM vdbcat.sel.t VERSION AS OF $v1")
      .head().getLong(0) shouldBe 10L
    // v2 referenced the rewritten victim file → expired
    vt.snapshotVersions should not contain v2
    an[Exception] should be thrownBy vt.asOf(v2).count()
    // the live table reflects the merge
    spark.sql("SELECT metadata FROM vdbcat.sel.t WHERE id='r025'")
      .head().getString(0) shouldBe """{"u":1}"""
    spark.sql("SELECT count(*) AS n FROM vdbcat.sel.t").head().getLong(0) shouldBe 30L
    spark.catalog.dropTempView("sel_src"); spark.catalog.dropTempView("sel_chg")
    spark.sql("DROP TABLE vdbcat.sel.t")
  }

  test("MERGE cardinality violation and insert first-wins dedup") {
    init()
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS vdbcat.card")
    spark.sql("""CREATE TABLE vdbcat.card.t
                 (id string, metadata string, embedding array<float>) USING gvdb""")
    spark.sql("""INSERT INTO vdbcat.card.t VALUES
      ('a','tagA',array(1.0f)), ('b','tagB',array(2.0f))""")
    // a target row matched by TWO source rows: an update merge must
    // fail fast (the MergeRows / Delta cardinality contract), not
    // silently write the id twice
    Seq(("a", "x"), ("a", "y")).toDF("id", "m").createOrReplaceTempView("card_dup")
    val exU = intercept[Exception] {
      spark.sql("""MERGE INTO vdbcat.card.t t USING card_dup c ON t.id = c.id
        WHEN MATCHED THEN UPDATE SET metadata = c.m""")
    }
    exU.getMessage should include("MERGE_CARDINALITY_VIOLATION")
    // ... and a deletes-only multi-match raises too (still ambiguous)
    val exD = intercept[Exception] {
      spark.sql("""MERGE INTO vdbcat.card.t t USING card_dup c ON t.id = c.id
        WHEN MATCHED THEN DELETE""")
    }
    exD.getMessage should include("MERGE_CARDINALITY_VIOLATION")
    spark.sql("SELECT id, metadata FROM vdbcat.card.t ORDER BY id").collect()
      .map(r => (r.getString(0), r.getString(1))) shouldBe
      Array(("a", "tagA"), ("b", "tagB")) // table untouched by the failed merges
    // NOT MATCHED INSERT under a non-id ON clause: an id that already
    // exists re-enters the first-wins contract (skipped), and in-batch
    // duplicates collapse — never a duplicate id in the table
    Seq(("a", "nomatch1", Seq(9f)), ("z", "nomatch2", Seq(5f)), ("z", "nomatch2", Seq(6f)))
      .toDF("id", "metadata", "embedding").createOrReplaceTempView("card_ins")
    spark.sql("""MERGE INTO vdbcat.card.t t USING card_ins c ON t.metadata = c.metadata
      WHEN NOT MATCHED THEN INSERT (id, metadata, embedding)
        VALUES (c.id, c.metadata, c.embedding)""")
    spark.sql("SELECT count(*) AS n FROM vdbcat.card.t WHERE id='a'")
      .head().getLong(0) shouldBe 1L
    spark.sql("SELECT metadata FROM vdbcat.card.t WHERE id='a'")
      .head().getString(0) shouldBe "tagA" // first-wins: existing row kept
    spark.sql("SELECT count(*) AS n FROM vdbcat.card.t WHERE id='z'")
      .head().getLong(0) shouldBe 1L
    // an id DELETED by the same merge is legitimately re-insertable:
    // the insert dedup joins against the rows that SURVIVE the merge,
    // not the raw table ids — one statement deletes b (matched via its
    // metadata) and inserts a fresh row that reuses id b
    Seq(("b", "tagB", Seq(0f), "d"), ("b", "tagB2", Seq(7f), "i"))
      .toDF("id", "metadata", "embedding", "op").createOrReplaceTempView("card_reins")
    spark.sql("""MERGE INTO vdbcat.card.t t USING card_reins c ON t.metadata = c.metadata
      WHEN MATCHED AND c.op = 'd' THEN DELETE
      WHEN NOT MATCHED AND c.op = 'i' THEN INSERT (id, metadata, embedding)
        VALUES (c.id, c.metadata, c.embedding)""")
    spark.sql("SELECT count(*) AS n FROM vdbcat.card.t WHERE id='b'")
      .head().getLong(0) shouldBe 1L
    spark.sql("SELECT metadata FROM vdbcat.card.t WHERE id='b'")
      .head().getString(0) shouldBe "tagB2"
    spark.catalog.dropTempView("card_dup"); spark.catalog.dropTempView("card_ins")
    spark.catalog.dropTempView("card_reins")
    spark.sql("DROP TABLE vdbcat.card.t")
  }

  test("MERGE re-inserting a deleted id resurrects it (dead raw twin purged)") {
    init()
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS vdbcat.res")
    spark.sql("""CREATE TABLE vdbcat.res.t
                 (id string, metadata string, embedding array<float>) USING gvdb""")
    spark.sql("""INSERT INTO vdbcat.res.t VALUES
      ('a','{}',array(1.0f)), ('b','{}',array(2.0f)), ('c','{}',array(3.0f))""")
    spark.sql("DELETE FROM vdbcat.res.t WHERE id = 'b' AND length(metadata) >= 0")
    spark.sql("SELECT count(*) AS n FROM vdbcat.res.t").head().getLong(0) shouldBe 2L
    // NOT MATCHED against the MoR view → INSERT of the tombstoned id:
    // the dead raw twin's file is a victim (post-image contract), so
    // the stale tombstone leaves with it and the new row is VISIBLE
    Seq(("b", """{"back":1}""", Seq(9f)))
      .toDF("id", "metadata", "embedding").createOrReplaceTempView("res_chg")
    spark.sql("""MERGE INTO vdbcat.res.t t USING res_chg c ON t.id = c.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    spark.sql("SELECT metadata FROM vdbcat.res.t WHERE id='b'")
      .head().getString(0) shouldBe """{"back":1}"""
    spark.sql("SELECT count(*) AS n FROM vdbcat.res.t").head().getLong(0) shouldBe 3L
    // raw table carries b exactly once, and the footer COUNT(*)
    // arithmetic agrees with the anti-join view
    spark.read.parquet(s"$warehouse/res/t").where($"id" === "b").count() shouldBe 1L
    val cnt = spark.read.format("gvdb").load(s"$warehouse/res/t").groupBy().count()
    cnt.queryExecution.executedPlan.toString should include("PushedAggregates")
    cnt.head().getLong(0) shouldBe 3L
    new VectorTable(spark, s"$warehouse/res/t", 1).tombstoneCount shouldBe 0L
    spark.catalog.dropTempView("res_chg")
    spark.sql("DROP TABLE vdbcat.res.t")
  }

  test("namespace lifecycle and rename carry sidecars") {
    init()
    spark.sql("CREATE NAMESPACE vdbcat.life")
    spark.sql("""CREATE TABLE vdbcat.life.t
                 (id string, metadata string, embedding array<float>) USING gvdb""")
    spark.sql("INSERT INTO vdbcat.life.t VALUES ('a', '{}', array(1.0f, 0.0f))")
    // a tombstone sidecar must follow the rename
    new VectorTable(spark, s"$warehouse/life/t", 2).delete(col("id") === "zzz")
    spark.sql("ALTER TABLE vdbcat.life.t RENAME TO vdbcat.life.t2")
    spark.sql("SELECT count(*) AS n FROM vdbcat.life.t2").head().getLong(0) shouldBe 1L
    new java.io.File(s"$warehouse/life/t2.tombstones").exists() shouldBe true
    spark.sql("DROP TABLE vdbcat.life.t2")
    spark.sql("DROP NAMESPACE vdbcat.life")
    spark.sql("SHOW NAMESPACES IN vdbcat").collect()
      .map(_.getString(0)) should not contain "life"
    // a namespace directory is never mistaken for a table
    spark.sql("CREATE NAMESPACE IF NOT EXISTS vdbcat.onlyns")
    spark.sql("SHOW TABLES IN vdbcat").collect()
      .map(_.getString(1)) should not contain "onlyns"
    spark.catalog.tableExists("vdbcat.onlyns") shouldBe false
  }

  test("a failed table rename throws and the table keeps its name and sidecars") {
    // a catalog over the rename-failing filesystem: the table directory
    // (its name ends in a failing suffix) cannot move, its sidecars can
    val wh = SwapRenameFailingFs.on(spark,
      tempDir("graft-catalog-renamefail"))
    spark.conf.set("spark.sql.catalog.failcat", "graft.sources.GvdbCatalog")
    spark.conf.set("spark.sql.catalog.failcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS failcat.r")
    spark.sql("""CREATE TABLE failcat.r.t__rewrite
                 (id string, metadata string, embedding array<float>) USING gvdb""")
    spark.sql("INSERT INTO failcat.r.t__rewrite VALUES ('a', '{}', array(1.0f)), " +
      "('b', '{}', array(2.0f))")
    spark.sql("DELETE FROM failcat.r.t__rewrite WHERE id = 'b'")
    intercept[Exception](spark.sql("ALTER TABLE failcat.r.t__rewrite RENAME TO failcat.r.t2"))
      .getMessage should include("could not rename")
    val local = wh.stripPrefix(s"${SwapRenameFailingFs.Scheme}://") + "/r"
    new java.io.File(s"$local/t__rewrite.tombstones").exists() shouldBe true
    new java.io.File(local).list().filter(_.startsWith("t2")) shouldBe empty
    spark.sql("SELECT id FROM failcat.r.t__rewrite").collect().map(_.getString(0)) shouldBe
      Array("a")
  }

  test("maintenance procedures: CALL system.snapshot / compact / vacuum") {
    init()
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS vdbcat.proc")
    spark.sql("""CREATE TABLE vdbcat.proc.t
                 (id string, metadata string, embedding array<float>) USING gvdb""")
    // fragmented ingest: 8 single-file batches
    for (b <- 0 until 8) {
      (b * 10 until b * 10 + 10)
        .map(i => (i.toString, s"""{"grp":${i % 2}}""", Seq(i.toFloat)))
        .toDF("id", "metadata", "embedding").coalesce(1)
        .createOrReplaceTempView("proc_batch")
      spark.sql("INSERT INTO vdbcat.proc.t SELECT * FROM proc_batch")
    }
    val v = spark.sql("CALL vdbcat.system.snapshot('proc.t')").head().getInt(0)
    val removed = spark.sql("CALL vdbcat.system.compact('proc.t', 200)")
      .head().getInt(0)
    removed should be >= 2
    // the pre-compaction snapshot referenced the folded files → expired
    new VectorTable(spark, s"$warehouse/proc/t", 1)
      .snapshotVersions should not contain v
    spark.sql("DELETE FROM vdbcat.proc.t WHERE id IN ('1', '3')")
    val folded = spark.sql("CALL vdbcat.system.vacuum('proc.t')").head().getLong(0)
    folded shouldBe 2L
    spark.sql("SELECT count(*) AS n FROM vdbcat.proc.t").head().getLong(0) shouldBe 78L
    // named args bind too (Spark's by-name procedure invocation)
    spark.sql("CALL vdbcat.system.compact(table => 'proc.t', target_rows => 200)")
      .head().getInt(0) shouldBe 0 // already compacted: nothing left
    // Spark wraps the catalog's IllegalArgumentException into its
    // FAILED_TO_LOAD_ROUTINE error class — assert the wrapper, the
    // specific "available: …" detail rides in the cause chain
    val err = intercept[Exception](spark.sql("CALL vdbcat.system.nope('proc.t')"))
    err.getMessage should include("FAILED_TO_LOAD_ROUTINE")
    spark.sql("DROP TABLE vdbcat.proc.t")
  }
}
