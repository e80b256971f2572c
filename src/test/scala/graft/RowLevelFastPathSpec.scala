package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.plans.GvdbRowLevel
import graft.table.VectorTable

/** The touched-first row-level rewrite (GvdbMergeRule): MERGE /
  * UPDATE / upsert feed the group CoW only MUTATED rows, with
  * untouched victim-file rows riding along from the victim files
  * themselves — on every table, indexed or not. A MERGE whose target
  * can be key-pruned evaluates the source↔target id join ONCE against
  * the pruned target; the other shapes join the whole target and run
  * the commit's key steps on the cluster. */
class RowLevelFastPathSpec extends SparkSpec with Matchers {

  private lazy val warehouse = tempDir("graft-fastpath")

  private def init(): Unit = {
    spark.conf.set("spark.sql.catalog.fpc", "graft.sources.GvdbCatalog")
    spark.conf.set("spark.sql.catalog.fpc.warehouse", warehouse)
  }

  private def census(table: String): Map[String, Long] =
    spark.sql(s"SELECT id, CAST(embedding[0] AS bigint) AS v FROM $table")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("fast-path MERGE with an extra ON conjunct: matched-but-filtered rows copy") {
    init()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS fpc.m1")
    spark.sql("""CREATE TABLE fpc.m1.t
                 (id string, metadata string, embedding array<float>) USING gvdb""")
    import spark.implicits._
    (0 until 10).map(i => (i.toString, "{}", Seq(i.toFloat)))
      .toDF("id", "metadata", "embedding").createOrReplaceTempView("fp_base")
    spark.sql("INSERT INTO fpc.m1.t SELECT * FROM fp_base")
    // changes for ids 5..14, but the extra conjunct drops odd ids from
    // MATCHING (they become both an unmatched target copy AND an
    // unmatched source row → the insert-dedup anti-join must kill the
    // insert: the live copy wins, exactly the legacy semantics)
    (5 until 15).map(i => (i.toString, "{}", Seq((i + 100).toFloat)))
      .toDF("id", "metadata", "embedding").createOrReplaceTempView("fp_chg")
    spark.sql("""MERGE INTO fpc.m1.t t USING fp_chg c
      ON t.id = c.id AND CAST(c.embedding[0] AS int) % 2 = 1
      WHEN MATCHED THEN UPDATE SET embedding = c.embedding
      WHEN NOT MATCHED THEN INSERT (id, metadata, embedding)
        VALUES (c.id, c.metadata, c.embedding)""")
    val got = census("fpc.m1.t")
    // ids 0..4: untouched; 5,7,9: matched+odd → updated (+100);
    // 6,8: matched target but conjunct false → target copy stays, the
    // colliding insert is deduped away; 10..14: true inserts (+100)
    val want = (0 until 5).map(i => i.toString -> i.toLong).toMap ++
      Seq("5", "7", "9").map(s => s -> (s.toLong + 100)).toMap ++
      Seq("6", "8").map(s => s -> s.toLong).toMap ++
      (10 until 15).map(i => i.toString -> (i + 100).toLong).toMap
    got shouldBe want
    spark.sql("DROP TABLE fpc.m1.t")
  }

  test("fast-path MERGE purges a dead raw twin on re-insert (tombstone fold)") {
    init()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS fpc.m2")
    spark.sql("""CREATE TABLE fpc.m2.t
                 (id string, metadata string, embedding array<float>) USING gvdb""")
    import spark.implicits._
    (0 until 6).map(i => (i.toString, "{}", Seq(i.toFloat)))
      .toDF("id", "metadata", "embedding").createOrReplaceTempView("fp2_base")
    spark.sql("INSERT INTO fpc.m2.t SELECT * FROM fp2_base")
    val tbl = new VectorTable(spark, s"$warehouse/m2/t", 1)
    tbl.delete(col("id") === "3")
    tbl.tombstoneCount shouldBe 1L
    Seq(("3", "{}", Seq(300f)))
      .toDF("id", "metadata", "embedding").createOrReplaceTempView("fp2_chg")
    spark.sql("""MERGE INTO fpc.m2.t t USING fp2_chg c ON t.id = c.id
      WHEN MATCHED THEN UPDATE SET embedding = c.embedding
      WHEN NOT MATCHED THEN INSERT (id, metadata, embedding)
        VALUES (c.id, c.metadata, c.embedding)""")
    // the dead raw '3' was purged with its victim file, its tombstone
    // folded, and the fresh '3' is live
    census("fpc.m2.t") shouldBe Map("0" -> 0L, "1" -> 1L, "2" -> 2L,
      "3" -> 300L, "4" -> 4L, "5" -> 5L)
    tbl.tombstoneCount shouldBe 0L
    spark.sql("SELECT count(*) FROM fpc.m2.t").head.getLong(0) shouldBe 6L
    spark.sql("DROP TABLE fpc.m2.t")
  }

  test("INSERT reassigning ids away from the join key dedups against the whole target") {
    init()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS fpc.m3")
    spark.sql("""CREATE TABLE fpc.m3.t
                 (id string, metadata string, embedding array<float>) USING gvdb""")
    import spark.implicits._
    Seq(("a", "{}", Seq(1f)), ("xb", "{}", Seq(2f)))
      .toDF("id", "metadata", "embedding").createOrReplaceTempView("fp3_base")
    spark.sql("INSERT INTO fpc.m3.t SELECT * FROM fp3_base")
    // source key 'b' is unmatched; the INSERT writes id 'xb', which
    // collides with a LIVE row whose id is NOT among the source keys —
    // only the dedup against the whole (unpruned) target can see that
    // collision, so the merge must not be key-pruned: first-wins, 'xb'
    // keeps its original value
    Seq(("b", "{}", Seq(99f)))
      .toDF("id", "metadata", "embedding").createOrReplaceTempView("fp3_chg")
    spark.sql("""MERGE INTO fpc.m3.t t USING fp3_chg c ON t.id = c.id
      WHEN NOT MATCHED THEN INSERT (id, metadata, embedding)
        VALUES (concat('x', c.id), c.metadata, c.embedding)""")
    census("fpc.m3.t") shouldBe Map("a" -> 1L, "xb" -> 2L)
    spark.sql("DROP TABLE fpc.m3.t")
  }

  test("fast-path UPDATE: victim ride-alongs survive, untouched snapshots kept") {
    init()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS fpc.u1")
    spark.sql("""CREATE TABLE fpc.u1.t
                 (id string, metadata string, embedding array<float>) USING gvdb""")
    import spark.implicits._
    // two insert batches → two file groups
    (0 until 6).map(i => (i.toString, "{}", Seq(i.toFloat)))
      .toDF("id", "metadata", "embedding").createOrReplaceTempView("fpu_b1")
    spark.sql("INSERT INTO fpc.u1.t SELECT * FROM fpu_b1")
    val tbl = new VectorTable(spark, s"$warehouse/u1/t", 1)
    val v1 = tbl.snapshot()
    (6 until 12).map(i => (i.toString, "{}", Seq(i.toFloat)))
      .toDF("id", "metadata", "embedding").createOrReplaceTempView("fpu_b2")
    spark.sql("INSERT INTO fpc.u1.t SELECT * FROM fpu_b2")
    // update touches only batch-2 rows → batch-1 files are no victims →
    // v1 must survive the group CoW (selective expiry)
    spark.sql("UPDATE fpc.u1.t SET embedding = array(CAST(embedding[0] + 100 AS float)) " +
      "WHERE CAST(embedding[0] AS int) >= 8")
    val got = census("fpc.u1.t")
    val want = (0 until 8).map(i => i.toString -> i.toLong).toMap ++
      (8 until 12).map(i => i.toString -> (i + 100).toLong).toMap
    got shouldBe want
    tbl.snapshotVersions should contain(v1)
    spark.sql("DROP TABLE fpc.u1.t")
  }

  test("fast-path upsert: update + insert + deleted-id resurrection in one batch") {
    init()
    import spark.implicits._
    val root = s"$warehouse/up1/t"
    (0 until 5).map(i => (i.toString, "{}", Seq(i.toFloat)))
      .toDF("id", "metadata", "embedding")
      .write.format("gvdb").option("dim", "1").mode("overwrite").save(root)
    val tbl = new VectorTable(spark, root, 1)
    tbl.delete(col("id") === "2")
    // batch: replace 1, resurrect 2, insert 9 — GvdbUpsert.apply is the
    // unit the streaming UPDATE-mode sink calls per epoch (a PATH-based
    // batch `.option("upsert")` write resolves to the V1 provider's
    // plain insert and never reaches it)
    graft.sources.GvdbUpsert(spark, root,
      Seq(("1", "{}", Seq(101f)), ("2", "{}", Seq(202f)), ("9", "{}", Seq(9f)))
        .toDF("id", "metadata", "embedding"), Some(1))
    spark.read.format("gvdb").load(root)
      .select(col("id"), col("embedding")(0).cast("long").as("v"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap shouldBe
      Map("0" -> 0L, "1" -> 101L, "2" -> 202L, "3" -> 3L, "4" -> 4L, "9" -> 9L)
    tbl.tombstoneCount shouldBe 0L
  }

  // Spark jobs per touched-first commit on the fixture below: the key
  // steps (gate, range and Bloom probes, victim scan, ride-along
  // filter) run from one driver-side key collect, and the MERGE target
  // prune, the victim scan and the ride-along filter by a broadcast
  // variable of those keys, which ships with no job. Measured 12 / 9 /
  // 11 that way; 17 / 12 / 14 when each of those three joined a
  // broadcast local relation (one job each) and the commit read the
  // embedding dimension with a head job; 30 / 21 / 23 when each key
  // step ran its own Spark action over the pinned frame. The bounds
  // leave two jobs of slack for adaptive-execution stage splits.
  private val MergeJobs = 14
  private val UpdateJobs = 11
  private val UpsertJobs = 13

  private def rows(ids: Seq[Int], v: Int => Float) = {
    import spark.implicits._
    ids.map(i => (f"r$i%03d", "{}", Seq(v(i)))).toDF("id", "metadata", "embedding")
  }

  test("touched-first MERGE, UPDATE and upsert run their commit from one key collect") {
    init()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS fpc.j1")
    spark.sql("""CREATE TABLE fpc.j1.t
                 (id string, metadata string, embedding array<float>) USING gvdb""")
    Seq(0 until 20, 20 until 40, 40 until 60).foreach { r =>
      rows(r, _.toFloat).createOrReplaceTempView("fpj_b")
      spark.sql("INSERT INTO fpc.j1.t SELECT * FROM fpj_b")
    }
    val root = s"$warehouse/j1/t"
    new VectorTable(spark, root, 1).delete(col("id") === "r003") // the fold runs too
    rows((5 until 9) ++ (60 until 62), i => (i + 100).toFloat)
      .createOrReplaceTempView("fpj_chg")
    // each commit also writes at most one part file per file it
    // retires (one when it retires none)
    def parts() = new java.io.File(root).list().filter(_.startsWith("part-")).toSet
    def commit(op: String)(body: => Unit): Int = {
      val before = parts()
      val jobs = jobsOf(body)
      val after = parts()
      withClue(s"$op files: ") {
        (after -- before).size should be <= math.max(1, (before -- after).size)
      }
      jobs
    }
    val merge = commit("MERGE")(spark.sql("""MERGE INTO fpc.j1.t t USING fpj_chg c ON t.id = c.id
      WHEN MATCHED THEN UPDATE SET embedding = c.embedding
      WHEN NOT MATCHED THEN INSERT (id, metadata, embedding)
        VALUES (c.id, c.metadata, c.embedding)"""))
    val update = commit("UPDATE")(spark.sql(
      "UPDATE fpc.j1.t SET embedding = array(CAST(embedding[0] + 1000 AS float)) " +
        "WHERE id IN ('r025', 'r026')"))
    val upsert = commit("upsert")(graft.sources.GvdbUpsert(spark, root,
      rows((45 until 48) ++ (70 until 72), i => (i + 2000).toFloat), Some(1)))
    val want = ((0 until 62) ++ (70 until 72)).filter(_ != 3).map { i =>
      f"r$i%03d" -> (i match {
        case x if x >= 5 && x < 9 || x >= 60 && x < 62 => x + 100
        case x if x == 25 || x == 26 => x + 1000
        case x if x >= 45 && x < 48 || x >= 70 => x + 2000
        case x => x
      }).toLong
    }.toMap
    census("fpc.j1.t") shouldBe want
    info(s"jobs: merge $merge, update $update, upsert $upsert")
    merge should be <= MergeJobs
    update should be <= UpdateJobs
    upsert should be <= UpsertJobs
    spark.sql("DROP TABLE fpc.j1.t")
  }

  test("a collected-key MERGE loop keeps the table's file count down") {
    // four insert batches, then 16 CDC-sized MERGEs (two updates and
    // one insert each): every commit writes one file per victim, so the
    // table keeps its four files (writing one file per input partition
    // of the replacement rows ended this loop with 36)
    init()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS fpc.loop")
    spark.sql("""CREATE TABLE fpc.loop.t
                 (id string, metadata string, embedding array<float>) USING gvdb""")
    Seq(0 until 25, 25 until 50, 50 until 75, 75 until 100).foreach { r =>
      rows(r, _.toFloat).createOrReplaceTempView("fpl_b")
      spark.sql("INSERT INTO fpc.loop.t SELECT * FROM fpl_b")
    }
    val root = s"$warehouse/loop/t"
    def liveFiles = graft.sources.GvdbFooters.idStats(spark, root).size
    liveFiles shouldBe 4
    for (i <- 0 until 16) {
      rows(Seq((i * 7) % 100, (i * 7 + 31) % 100, 200 + i), x => (x + 1000 * (i + 1)).toFloat)
        .createOrReplaceTempView("fpl_chg")
      spark.sql("""MERGE INTO fpc.loop.t t USING fpl_chg c ON t.id = c.id
        WHEN MATCHED THEN UPDATE SET embedding = c.embedding
        WHEN NOT MATCHED THEN INSERT (id, metadata, embedding)
          VALUES (c.id, c.metadata, c.embedding)""")
    }
    spark.sql("SELECT count(*) FROM fpc.loop.t").head.getLong(0) shouldBe 116L
    liveFiles shouldBe 4
    spark.sql("DROP TABLE fpc.loop.t")
  }

  test("fast-path MERGE cardinality violation throws from the collected keys") {
    GvdbRowLevel.TouchedKeys(Array.empty, Array.empty, Array("a", "b")).requireSingleMatch()
    intercept[IllegalStateException] {
      GvdbRowLevel.TouchedKeys(Array.empty, Array.empty, Array("a", "b", "a"))
        .requireSingleMatch()
    }.getMessage should include("MERGE_CARDINALITY_VIOLATION")
    init()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS fpc.c1")
    spark.sql("""CREATE TABLE fpc.c1.t
                 (id string, metadata string, embedding array<float>) USING gvdb""")
    rows(0 until 4, _.toFloat).createOrReplaceTempView("fpc_base")
    spark.sql("INSERT INTO fpc.c1.t SELECT * FROM fpc_base")
    rows(1 until 3, _ => 50f).unionByName(rows(2 until 3, _ => 60f))
      .createOrReplaceTempView("fpc_dup")
    intercept[Exception] {
      spark.sql("""MERGE INTO fpc.c1.t t USING fpc_dup c ON t.id = c.id
        WHEN MATCHED THEN UPDATE SET embedding = c.embedding
        WHEN NOT MATCHED THEN INSERT (id, metadata, embedding)
          VALUES (c.id, c.metadata, c.embedding)""")
    }.getMessage should include("MERGE_CARDINALITY_VIOLATION")
    census("fpc.c1.t") shouldBe (0 until 4).map(i => f"r$i%03d" -> i.toLong).toMap
    spark.sql("DROP TABLE fpc.c1.t")
  }

  test("MERGE cardinality violation on an indexed table throws from the collected keys") {
    // an indexed table takes the same key-pruned route as an un-indexed
    // one: the gate reads the collected matched ids
    init()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS fpc.c2")
    spark.sql("""CREATE TABLE fpc.c2.t
                 (id string, metadata string, embedding array<float>) USING gvdb""")
    rows(0 until 4, i => i.toFloat).createOrReplaceTempView("fpc2_base")
    spark.sql("INSERT INTO fpc.c2.t SELECT * FROM fpc2_base")
    val table = new VectorTable(spark, s"$warehouse/c2/t", 1)
    table.buildHnswIndex()
    rows(1 until 3, _ => 50f).unionByName(rows(2 until 3, _ => 60f))
      .createOrReplaceTempView("fpc2_dup")
    intercept[Exception] {
      spark.sql("""MERGE INTO fpc.c2.t t USING fpc2_dup c ON t.id = c.id
        WHEN MATCHED THEN UPDATE SET embedding = c.embedding""")
    }.getMessage should include("MERGE_CARDINALITY_VIOLATION")
    census("fpc.c2.t") shouldBe (0 until 4).map(i => f"r$i%03d" -> i.toLong).toMap
    table.hnswIndexMeta.isDefined shouldBe true
    spark.sql("DROP TABLE fpc.c2.t")
  }

  test("above the probe cap the distributed commit writes the same table") {
    // MERGE, UPDATE and upsert on twin fixtures, once from the
    // collected keys and once with a probe cap of 0: keys not
    // collected, so the MERGE prunes its target by a semi-join on the
    // cluster and runs the distributed cardinality gate, the victim
    // lookup runs its range join and semi-join scan, and the
    // ride-along anti-joins the pre-image ids on the cluster
    init()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS fpc.cap")
    val tables = Seq(0, graft.sources.IdBlooms.MaxProbeIds).map { cap =>
      val t = s"fpc.cap.t$cap"
      spark.sql(s"CREATE TABLE $t (id string, metadata string, embedding array<float>) USING gvdb")
      Seq(0 until 30, 30 until 60, 60 until 90).foreach { r =>
        rows(r, _.toFloat).createOrReplaceTempView("fpcap_b")
        spark.sql(s"INSERT INTO $t SELECT * FROM fpcap_b")
      }
      val root = s"$warehouse/cap/t$cap"
      new VectorTable(spark, root, 1).delete(col("id").isin("r004", "r031"))
      rows((2 until 6) ++ (31 until 33) ++ (95 until 97), i => (i + 500).toFloat)
        .createOrReplaceTempView("fpcap_chg")
      GvdbRowLevel.probeCap.withValue(cap) {
        GvdbRowLevel.collectKeys(spark.range(1).selectExpr("'a'", "'b'", "'c'"))
          .isDefined shouldBe (cap > 0)
        spark.sql(s"""MERGE INTO $t t USING fpcap_chg c ON t.id = c.id
          WHEN MATCHED THEN UPDATE SET embedding = c.embedding
          WHEN NOT MATCHED THEN INSERT (id, metadata, embedding)
            VALUES (c.id, c.metadata, c.embedding)""")
        spark.sql(s"UPDATE $t SET embedding = array(CAST(embedding[0] + 700 AS float)) " +
          "WHERE id IN ('r010', 'r011', 'r095')")
        graft.sources.GvdbUpsert(spark, root,
          rows((40 until 42) ++ (97 until 98), i => (i + 900).toFloat), Some(1))
        rows(Seq(20, 20), _ => 0f).createOrReplaceTempView("fpcap_dup")
        intercept[Exception] {
          spark.sql(s"""MERGE INTO $t t USING fpcap_dup c ON t.id = c.id
            WHEN MATCHED THEN UPDATE SET embedding = c.embedding""")
        }.getMessage should include("MERGE_CARDINALITY_VIOLATION")
      }
      val raw = spark.read.parquet(root).select(col("id"), col("embedding")(0).cast("long"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).sorted.toSeq
      (new VectorTable(spark, root, 1).tombstoneCount, raw, census(t))
    }
    tables(0) shouldBe tables(1)
    tables(0)._2.map(_._1).distinct.length shouldBe tables(0)._2.length // raw ids unique
    // r004 and r031 were deleted, so the MERGE re-inserts them
    val want = ((0 until 90) ++ (95 until 98)).map(i => f"r$i%03d" -> (i match {
      case x if x >= 2 && x < 6 || x >= 31 && x < 33 || x == 96 => x + 500
      case 95 => 95 + 500 + 700
      case x if x == 10 || x == 11 => x + 700
      case x if x >= 40 && x < 42 || x == 97 => x + 900
      case x => x
    }).toLong).toMap
    tables(0)._3 shouldBe want
    tables(0)._1 shouldBe 0L // both dead twins purged with their files
  }

  test("the driver-side range probe orders ids as UTF-8 bytes, not UTF-16") {
    // U+FF61 (UTF-8 EF BD A1) sorts AFTER U+1F600 (UTF-16 D83D DE00) as
    // a java String, but BEFORE it as UTF-8 bytes — the order of parquet
    // footer statistics and of Spark's string comparison
    val lo = "\uFF61"
    val hi = "\uD83D\uDE00"
    (lo.compareTo(hi) > 0) shouldBe true
    import spark.implicits._
    val root = tempDir("graft-fastpath-utf8") + "/t"
    val table = new VectorTable(spark, root, 1).create()
    table.insert((0 until 40).map(i => (s"${if (i % 2 == 0) lo else hi}$i", "{}", Seq(i.toFloat)))
      .toDF("id", "metadata", "embedding"))
    val touched = Seq(s"${lo}0", s"${hi}1", s"${lo}38")
    val truth = spark.read.parquet(root)
      .where(col("id").isin(touched: _*)).select(input_file_name()).distinct()
      .collect().map(r => new org.apache.hadoop.fs.Path(r.getString(0)).getName).toSet
    val (victims, _) = GvdbRowLevel.victimLookup(spark, root, touched.toDF("id"))
    victims.map(v => new org.apache.hadoop.fs.Path(v).getName).toSet shouldBe truth
    // and an upsert through that probe replaces every touched row
    graft.sources.GvdbUpsert(spark, root,
      touched.map(id => (id, "{}", Seq(-1f))).toDF("id", "metadata", "embedding"), Some(1))
    val got = spark.read.parquet(root).select(col("id"), col("embedding")(0))
      .collect().map(r => r.getString(0) -> r.getFloat(1))
    got.length shouldBe 40
    got.filter(_._2 == -1f).map(_._1).toSet shouldBe touched.toSet
  }

  test("MERGE, UPDATE and upsert on an HNSW-indexed table keep its sidecars") {
    // the extract spec and the streaming-sink epoch ledgers are table
    // sidecars a row-level commit must leave alone: a whole-table
    // overwrite drops them with the old table
    init()
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS fpc.s1")
    spark.sql("""CREATE TABLE fpc.s1.t
                 (id string, metadata string, embedding array<float>) USING gvdb""")
    val root = s"$warehouse/s1/t"
    val table = new VectorTable(spark, root, 2)
    table.setExtractPaths(Seq("$.lang"))
    def langRows(ids: Seq[Int], v: Int => Float) = ids.map(i =>
        (f"r$i%03d", s"""{"lang":"${if (i % 2 == 0) "en" else "fr"}"}""", Seq(v(i), 1f)))
      .toDF("id", "metadata", "embedding")
    langRows(0 until 20, _.toFloat).createOrReplaceTempView("fps_b")
    spark.sql("INSERT INTO fpc.s1.t SELECT * FROM fps_b")
    table.buildHnswIndex()
    val ledgers = Seq("q1", "q2").map(q => java.nio.file.Paths.get(s"$root.sink_commits/$q"))
    ledgers.foreach { l =>
      Files.createDirectories(l.getParent)
      Files.write(l, "3".getBytes("UTF-8"))
    }
    val spec = graft.sources.GvdbExtracts.Spec(Seq("$.lang"), cluster = true)
    val hfs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def sidecarsKept(op: String): Unit = withClue(s"after $op: ") {
      graft.sources.GvdbExtracts.spec(hfs, root) shouldBe spec
      ledgers.map(l => new String(Files.readAllBytes(l), "UTF-8")) shouldBe Seq("3", "3")
      table.hnswIndexMeta.isDefined shouldBe true
      // every written row carries its extract value (schemas merged:
      // the empty part file of CREATE TABLE predates the extract column)
      spark.read.option("mergeSchema", "true").parquet(root)
        .where(!(col("__x_lang") <=> get_json_object(col("metadata"), "$.lang")))
        .count() shouldBe 0L
    }
    langRows(Seq(3, 30), i => (i + 100).toFloat).createOrReplaceTempView("fps_chg")
    spark.sql("""MERGE INTO fpc.s1.t t USING fps_chg c ON t.id = c.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    sidecarsKept("MERGE")
    spark.sql("""UPDATE fpc.s1.t SET metadata = '{"lang":"de"}' WHERE id = 'r004'""")
    sidecarsKept("UPDATE")
    graft.sources.GvdbUpsert(spark, root, langRows(Seq(5, 31), i => (i + 200).toFloat), Some(2))
    sidecarsKept("upsert")
    spark.sql("SELECT id, get_json_object(metadata, '$.lang'), CAST(embedding[0] AS bigint) " +
        "FROM fpc.s1.t WHERE id IN ('r003', 'r004', 'r005', 'r030', 'r031')")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted.toSeq shouldBe
      Seq(("r003", "fr", 103L), ("r004", "de", 4L), ("r005", "fr", 205L),
        ("r030", "en", 130L), ("r031", "fr", 231L))
    spark.sql("DROP TABLE fpc.s1.t")
  }

  // ---- four-tier parity: each persisted index tier takes the same
  // group rewrite as an un-indexed table, keeps its meta, serves the
  // rewritten rows, and leaves untouched files and snapshots alone ----

  private val Moved = Seq(50f, -3f, 7f, 2f)

  private def vec4(i: Int): Seq[Float] = Seq(i.toFloat, (i % 7).toFloat, (i % 3).toFloat, 1f)

  private def rows4(ids: Seq[Int], v: Int => Seq[Float]) = {
    import spark.implicits._
    ids.map(i => (f"r$i%03d", s"""{"g":${i % 3}}""", v(i))).toDF("id", "metadata", "embedding")
  }

  private case class TierRun(rows: Seq[(String, String, Seq[Float])],
      kept: Set[String], lost: Set[String], snapshot: Int, table: VectorTable)

  /** Two insert batches, the tier build, a snapshot, a third batch,
    * then a pruned MERGE, an unpruned MERGE (NOT MATCHED BY SOURCE),
    * an UPDATE that moves r045's embedding to [[Moved]], and an upsert
    * — all touching third-batch rows or new ids only. */
  private def tierRun(name: String, tier: Option[String]): TierRun = {
    init()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS fpc.tier")
    val t = s"fpc.tier.$name"
    val root = s"$warehouse/tier/$name"
    spark.sql(s"CREATE TABLE $t (id string, metadata string, embedding array<float>) USING gvdb")
    def insert(ids: Range): Unit = {
      rows4(ids, vec4).createOrReplaceTempView("fpt_b")
      spark.sql(s"INSERT INTO $t SELECT * FROM fpt_b")
    }
    insert(0 until 20)
    insert(20 until 40)
    val table = new VectorTable(spark, root, 4)
    tier.foreach {
      case "lsh" => table.buildAnnIndex(tables = 2, bits = 8)
      case "hnsw" => table.buildHnswIndex()
      case "ivfpq" => table.buildIvfPqIndex(nCells = 4, m = 2, pqK = 16)
      case "bq" => table.buildBqIndex()
    }
    val v1 = table.snapshot()
    def parts() = new java.io.File(root).list().filter(_.startsWith("part-")).toSet
    val before = parts()
    insert(40 until 60)
    rows4(Seq(41, 42, 70), i => vec4(i).map(_ + 100f)).createOrReplaceTempView("fpt_c1")
    spark.sql(s"""MERGE INTO $t t USING fpt_c1 c ON t.id = c.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    rows4(Seq(43, 71), i => vec4(i).map(_ + 200f)).createOrReplaceTempView("fpt_c2")
    spark.sql(s"""MERGE INTO $t t USING fpt_c2 c ON t.id = c.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *
      WHEN NOT MATCHED BY SOURCE AND t.id = 'r044' THEN DELETE""")
    spark.sql(s"UPDATE $t SET embedding = array(${Moved.map(x => s"${x}f").mkString(", ")}) " +
      "WHERE id = 'r045'")
    graft.sources.GvdbUpsert(spark, root, rows4(Seq(46, 72), i => vec4(i).map(_ + 300f)), Some(4))
    val after = parts()
    val got = spark.sql(s"SELECT id, metadata, embedding FROM $t").collect()
      .map(r => (r.getString(0), r.getString(1), r.getSeq[Float](2))).sortBy(_._1).toSeq
    TierRun(got, before intersect after, before -- after, v1, table)
  }

  private lazy val twin = tierRun("plain", None)

  for (tier <- Seq("lsh", "hnsw", "ivfpq", "bq"))
    test(s"$tier-indexed MERGE, UPDATE and upsert match an un-indexed twin, victims only") {
      val run = tierRun(tier, Some(tier))
      run.rows shouldBe twin.rows
      run.rows.map(_._1) should not contain "r044"
      run.rows.find(_._1 == "r045").map(_._3) shouldBe Some(Moved)
      val vt = run.table
      val meta = tier match {
        case "lsh" => vt.annIndexMeta
        case "hnsw" => vt.hnswIndexMeta
        case "ivfpq" => vt.ivfPqIndexMeta
        case "bq" => vt.bqIndexMeta
      }
      meta.isDefined shouldBe true
      // the index route serves the moved row and a merged-in row at the
      // exact route's distance: neither is in the index built before
      val db = new graft.VectorDB(spark, tier, s"$warehouse/tier", "hashing",
        Map("dim" -> "4"), dim = 4)
      def knn(q: Array[Float], useIndex: Boolean): Array[graft.core.Result] =
        if (tier != "lsh" || !useIndex) db.queryByVector(q, k = 3, useIndex = useIndex).collect()
        else {
          spark.experimental.extraOptimizations = Seq(new graft.plans.AnnRewriteRule(spark))
          spark.conf.set("spark.graft.ann.autoRewrite", "true")
          try {
            vt.pinAnnConfs()
            val plan = db.queryByVector(q, k = 3)
            plan.queryExecution.optimizedPlan.toString should include("arrays_overlap")
            plan.collect()
          } finally {
            spark.conf.set("spark.graft.ann.autoRewrite", "false")
            spark.experimental.extraOptimizations = Nil
          }
        }
      for ((id, v) <- Seq("r045" -> Moved, "r071" -> vec4(71).map(_ + 200f))) withClue(s"$id: ") {
        def dist(useIndex: Boolean) = knn(v.toArray, useIndex).find(_.id == id).map(_.distance)
        val exact = dist(useIndex = false)
        exact.isDefined shouldBe true
        dist(useIndex = true).get shouldBe exact.get +- 1e-6
      }
      // the rewrite replaced only third-batch files: the files the
      // snapshot lists all survive, and the snapshot still serves
      run.lost shouldBe empty
      run.kept should not be empty
      vt.snapshotVersions should contain(run.snapshot)
      vt.asOf(run.snapshot).count() shouldBe 40L
    }
}
