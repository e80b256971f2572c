package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.embed.{Embedders, HashingEmbedder}
import graft.filters.Filters
import graft.filters.Filters._

/** End-to-end engine semantics, mirroring the reference's de-facto
  * acceptance test (`main()`, vdb.py:73-104): insert → count → dedup
  * re-insert → unfiltered query → filtered query. */
class VectorDBSpec extends SparkSpec with Matchers {

  test("every registered query carries an oracle, and every oracle a query") {
    // the driver's correctness gate only checks queries that have BOTH a
    // queries entry and an oracleSql entry — a key-set drift silently
    // downgrades a query to a weaker rows-only check (or orphans an
    // oracle), so parity is pinned here
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    withClue(s"queries without oracle: ${q -- o}; oracles without query: ${o -- q}:") {
      q shouldBe o
    }
    q.size should be >= 172
  }

  test("README's registry count derives from the registry (single source of truth)") {
    // the r8 verdict found README prose drifting one behind the
    // registry: every "<N> registered queries"-shaped claim in README
    // must equal SparkEntry.queries.size, or this test names the lines
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), "UTF-8")
    val n = SparkEntry.queries.size
    val claims =
      """(\d+) registered queries""".r.findAllMatchIn(readme).map(m => (m.group(1).toInt, m.matched)) ++
        """Every registered query\s*\((\d+)\)""".r.findAllMatchIn(readme).map(m => (m.group(1).toInt, m.matched))
    val found = claims.toSeq
    found should not be empty
    found.foreach { case (claimed, where) =>
      withClue(s"README claim '$where' vs registry size $n:") { claimed shouldBe n }
    }
  }

  private def newDb(name: String) = {
    val wh = tempDir("graft-test")
    new VectorDB(spark, name, wh, "hashing", Map("dim" -> "16"), dim = 16, newTable = true)
  }

  private def docs(n: Int, from: Int = 0) = {
    import spark.implicits._
    (from until n).map(i =>
      s"""{"id": $i, "text": "doc number $i about ${if (i % 2 == 0) "spark joins" else "duck ponds"}", "group": ${i % 3}}""")
      .toDS()
  }

  test("insert assigns uuid5 ids and is idempotent (dedup-on-insert)") {
    val db = newDb("t1")
    db.insert(docs(20), embedField = Some("text"))
    db.numRows shouldBe 20
    db.insert(docs(20), embedField = Some("text")) // same content → all skipped
    db.numRows shouldBe 20
    db.insert(docs(25), embedField = Some("text")) // 5 new docs
    db.numRows shouldBe 25
  }

  test("within-batch duplicates collapse (first wins)") {
    import spark.implicits._
    val db = newDb("t2")
    val dup = docs(5).union(docs(5))
    db.insert(dup, embedField = Some("text"))
    db.numRows shouldBe 5
  }

  test("query returns k nearest by cosine distance, ascending") {
    val db = newDb("t3")
    db.insert(docs(30), embedField = Some("text"))
    val res = db.query("spark joins", k = 5).collect()
    res.length shouldBe 5
    res.map(_.distance).toSeq shouldBe res.map(_.distance).toSeq.sorted
    // even docs embed "spark joins" text → all 5 nearest should be even ids
    all(res.map(r => get("id", r.metadata).toInt % 2)) shouldBe 0
  }

  test("filtered query applies json-path predicates before ranking") {
    val db = newDb("t4")
    db.insert(docs(30), embedField = Some("text"))
    val res = db.query("spark joins", k = 10, filters = Seq(Cmp("group", CmpOp.Eq, 1))).collect()
    res.length should be > 0
    all(res.map(r => get("group", r.metadata))) shouldBe "1"
  }

  test("query dim mismatch rejected") {
    val db = newDb("t5")
    db.insert(docs(3), embedField = Some("text"))
    intercept[IllegalArgumentException](db.queryByVector(Array(1f, 2f), k = 1))
  }

  test("persisted HNSW index lifecycle: build → probe → insert appends → compact → drop") {
    val db = newDb("t6")
    db.insert(docs(40), embedField = Some("text"))
    db.table.hnswIndexMeta shouldBe None
    db.table.buildHnswIndex()
    val m0 = db.table.hnswIndexMeta.get
    m0.segments shouldBe 1
    // unfiltered query routes through the index; exact leg agrees up to
    // rounding ties (the indexed path's distances are portable-rounded
    // to 4 decimals, so any member of a distance-tie class is an
    // equally valid k-th neighbor — compare the rounded multisets)
    val idx = db.query("spark joins", k = 5).collect()
    val exact = db.queryByVector(
      db.embedder.embed("spark joins"), k = 5, useIndex = false).collect()
    idx.map(r => math.rint(r.distance * 1e4) / 1e4).toSeq.sorted shouldBe
      exact.map(r => math.rint(r.distance * 1e4) / 1e4).toSeq.sorted
    // an insert AFTER the build appends new segments and its rows are
    // immediately searchable
    db.insert(docs(50), embedField = Some("text")) // 10 fresh docs
    db.table.hnswIndexMeta.get.segments should be > m0.segments
    db.table.hnswGraph.get.count() shouldBe 50
    val idSet = db.query("spark joins", k = 50).collect().map(_.id).toSet
    idSet.size shouldBe 50
    // a filtered query falls back to the exact path and still filters
    val filtered = db.query("spark joins", k = 50,
      filters = Seq(Cmp("group", CmpOp.Eq, 1))).collect()
    all(filtered.map(r => get("group", r.metadata))) shouldBe "1"
    // compaction folds the small delta segment; probe still total
    db.table.compactHnswIndex(maxRows = 100)
    db.table.hnswGraph.get.count() shouldBe 50
    db.query("spark joins", k = 50).collect().map(_.id).toSet shouldBe idSet
    // a second insert of the same docs no-ops the index too
    val segs = db.table.hnswIndexMeta.get.segments
    db.insert(docs(50), embedField = Some("text"))
    db.table.hnswIndexMeta.get.segments shouldBe segs
    db.table.hnswGraph.get.count() shouldBe 50
    // drop cleans the graph and meta
    db.table.drop()
    db.table.hnswIndexMeta shouldBe None
    db.table.hnswGraph shouldBe None
  }

  test("unfiltered indexed query: no job while the Dataset is built, at most 3 to answer") {
    val db = newDb("t6jobs")
    db.insert(docs(40), embedField = Some("text"))
    db.table.buildHnswIndex()
    val qv = db.embedder.embed("spark joins")
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      // the graph read (fixed schema) and the probe stay inside the
      // returned lazy plan: building the Dataset runs nothing
      val ds = db.queryByVector(qv, k = 5)
      org.apache.spark.ListenerBusDrain(sc)
      val atBuild = jobs.get
      val rows = ds.collect()
      org.apache.spark.ListenerBusDrain(sc)
      atBuild shouldBe 0
      rows.length shouldBe 5
      jobs.get should be <= 3
      // and the route really probed the index: the executed plan scans
      // the graph directory (walked through the adaptive query stages —
      // the plan string abbreviates long scan locations)
      val scanned = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
        .collect(ds.queryExecution.executedPlan) {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s.relation.location.rootPaths
        }.flatten.map(_.getName)
      scanned should contain ("t6jobs.hnsw")
    } finally sc.removeSparkListener(listener)
    db.table.drop()
  }

  test("a failed HNSW graph-swap rename throws and leaves the sidecar unadvanced") {
    val db = newDb("t6swap")
    db.insert(docs(40), embedField = Some("text"))
    db.table.buildHnswIndex()
    db.insert(docs(50), embedField = Some("text")) // one small delta segment
    val before = db.table.hnswIndexMeta.get
    val failing = new graft.table.VectorTable(spark,
      SwapRenameFailingFs.on(spark, db.table.root), db.dim)
    val e = intercept[java.io.IOException](failing.compactHnswIndex(maxRows = 100))
    e.getMessage should include ("rename")
    db.table.hnswIndexMeta.get shouldBe before
    db.table.drop()
  }

  test("a refused HNSW graph-swap delete throws and leaves the sidecar unadvanced") {
    val db = newDb("t6del")
    db.insert(docs(40), embedField = Some("text"))
    db.table.buildHnswIndex()
    db.insert(docs(50), embedField = Some("text")) // one small delta segment
    val before = db.table.hnswIndexMeta.get
    val failing = new graft.table.VectorTable(spark,
      GraphDeleteRefusingFs.on(spark, db.table.root), db.dim)
    val e = intercept[java.io.IOException](failing.compactHnswIndex(maxRows = 100))
    e.getMessage should include ("delete")
    db.table.hnswIndexMeta.get shouldBe before
    db.table.hnswGraph.get.count() shouldBe 50
    db.table.drop()
  }

  test("a 20-doc insert into an HNSW table runs at most 5 jobs and writes one file each") {
    val db = newDb("t6ins")
    db.insert(docs(40), embedField = Some("text"))
    db.table.buildHnswIndex()
    def parts(dir: String) =
      new java.io.File(dir).listFiles().count(_.getName.startsWith("part-"))
    val (data0, graph0) = (parts(db.table.root), parts(db.table.root + ".hnsw"))
    // the bounded collect (its shuffle and broadcast stages included),
    // the graph delta write and the data write
    jobsOf(db.insert(docs(60, from = 40), embedField = Some("text"))) should be <= 5
    parts(db.table.root) shouldBe data0 + 1
    parts(db.table.root + ".hnsw") shouldBe graph0 + 1
    // the merge-policy check sizes segments from the graph footers on
    // the driver: with no fold due it adds no job
    jobsOf { graft.ops.Hnsw.segmentSizes(spark, db.table.root + ".hnsw"); () } shouldBe 0
    db.table.hnswIndexMeta.get.segments shouldBe 2
    db.table.hnswGraph.get.count() shouldBe 60
    db.query("spark joins", k = 60).collect().map(_.id).toSet.size shouldBe 60
    db.table.drop()
  }

  // the driver route (≤ driverInsertCap fresh rows) and the distributed
  // route (forced with the cap at 0) must commit the same table, index
  // and sidecars; with mergeAt = 3 the HNSW sequence folds twice
  for (tier <- Seq("hnsw", "ivfpq", "bq")) {
    test(s"indexed insert: driver and distributed routes leave equal $tier tables") {
      def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.select(to_json(struct(df.columns.map(col).toIndexedSeq: _*))).collect()
          .map(_.getString(0)).sorted.toSeq
      def commit(name: String) = {
        val db = newDb(name)
        db.insert(docs(40), embedField = Some("text"))
        tier match {
          case "hnsw" => db.table.buildHnswIndex()
          case "ivfpq" => db.table.buildIvfPqIndex(nCells = 4)
          case _ => db.table.buildBqIndex()
        }
        db.insert(docs(50), embedField = Some("text"))
        db.insert(docs(50), embedField = Some("text")) // nothing fresh
        db.insert(docs(56, from = 50).union(docs(56, from = 50)), embedField = Some("text"))
        db.insert(docs(70), embedField = Some("text"))
        db.insert(docs(75, from = 65), embedField = Some("text"))
        val root = db.table.root
        val sidecars = Seq(".hnsw_index.json", ".ivfpq_index.json", ".ivfpq/index.bin",
            ".bq_index.json")
          .map(s => s -> new java.io.File(root + s)).filter(_._2.exists)
          .map { case (s, f) => s -> java.nio.file.Files.readAllBytes(f.toPath).toSeq }
        val index = tier match {
          case "hnsw" => rows(db.table.hnswGraph.get)
          case "ivfpq" => rows(db.table.ivfPqIndex.get._2)
          case _ => rows(db.table.bqCodes.get)
        }
        val answers = Seq("spark joins", "duck ponds").map(t =>
          db.query(t, k = 10).collect().toSeq)
        val out = (rows(db.table.df), index, sidecars, answers)
        db.table.drop()
        out
      }
      spark.conf.set("spark.graft.hnsw.mergeAt", "3")
      try {
        val driver = commit(s"tp-$tier-d")
        val distributed =
          graft.table.VectorTable.driverInsertCap.withValue(0)(commit(s"tp-$tier-x"))
        driver._1.length shouldBe 75
        driver._3 should not be empty
        driver._1 shouldBe distributed._1
        driver._2 shouldBe distributed._2
        driver._3 shouldBe distributed._3
        driver._4 shouldBe distributed._4
      } finally spark.conf.unset("spark.graft.hnsw.mergeAt")
    }
  }

  test("indexed query under merge-on-read deletes still returns k live rows") {
    val db = newDb("t6d")
    db.insert(docs(40), embedField = Some("text"))
    db.table.buildHnswIndex()
    val qv = db.embedder.embed("spark joins")
    // tombstone the CURRENT top-3 — the graph still contains them, so a
    // naive k-probe would surface 3 dead hits and return only k-3 rows
    val top3 = db.queryByVector(qv, k = 3, useIndex = false).collect().map(_.id).toSet
    db.table.delete(col(graft.core.VectorSchema.ID).isin(top3.toSeq: _*))
    val got = db.queryByVector(qv, k = 10).collect()
    got.length shouldBe 10
    got.map(_.id).toSet intersect top3 shouldBe empty
    val exact = db.queryByVector(qv, k = 10, useIndex = false).collect()
    got.map(r => math.rint(r.distance * 1e4) / 1e4).toSeq.sorted shouldBe
      exact.map(r => math.rint(r.distance * 1e4) / 1e4).toSeq.sorted
    // vacuum clears the tombstone table the probe widens by — it must
    // rebuild the graph too, or the dead ids under-return k silently
    db.table.vacuum()
    db.table.tombstoneCount shouldBe 0L
    db.table.hnswGraph.get.count() shouldBe 37 // dead ids physically gone
    val after = db.queryByVector(qv, k = 10).collect()
    after.length shouldBe 10
    after.map(_.id).toSet intersect top3 shouldBe empty
    db.table.drop()
  }

  test("steady small inserts auto-compact the HNSW tier: segment count stays bounded") {
    spark.conf.set("spark.graft.hnsw.mergeAt", "4")
    try {
      val db = newDb("t6auto")
      db.insert(docs(30), embedField = Some("text"))
      db.table.buildHnswIndex()
      def segCount() = db.table.hnswGraph.get.select("seg").distinct().count()
      var maxSegs = segCount()
      // 10 steady inserts of 10 fresh docs each: without the insert-path
      // merge policy the graph would grow one delta segment per insert
      // (11 segments); with mergeAt=4 the count must stay under the
      // threshold + the in-flight delta
      for (b <- 1 to 10) {
        db.insert(docs(30 + 10 * b), embedField = Some("text"))
        maxSegs = math.max(maxSegs, segCount())
      }
      maxSegs should be <= 4L
      // nothing lost across repeated folds: every row still indexed and
      // searchable through the facade
      db.table.hnswGraph.get.count() shouldBe 130
      db.query("spark joins", k = 130).collect().map(_.id).toSet.size shouldBe 130
    } finally spark.conf.unset("spark.graft.hnsw.mergeAt")
  }

  test("probe widening caps at WidenCap·k; past the cap the route is the exact path") {
    val db = newDb("t6cap")
    db.insert(docs(60), embedField = Some("text"))
    db.table.buildHnswIndex()
    db.probeWidth(10) shouldBe Some(10) // no debt: no widening
    db.indexDeleteDebt shouldBe 0.0
    // 20 tombstones (group 1 of 3): widened under the cap for k=10,
    // PAST the cap for k=5 — probe width NEVER exceeds WidenCap·k
    db.table.delete(get_json_object(col(graft.core.VectorSchema.METADATA), "$.group") === "1")
    db.table.tombstoneCount shouldBe 20L
    for (k <- 1 to 40)
      withClue(s"k=$k:") {
        db.probeWidth(k).foreach(_ should be <= VectorDB.WidenCap * k)
        db.probeWidth(k).isDefined shouldBe (20L <= (VectorDB.WidenCap - 1L) * k)
      }
    db.probeWidth(10) shouldBe Some(30)
    db.probeWidth(5) shouldBe None
    db.indexDeleteDebt shouldBe (20.0 / 60.0) +- 1e-9
    // under-cap: widened indexed route returns k live rows
    val qv = db.embedder.embed("spark joins")
    val live = db.queryByVector(qv, k = 10).collect()
    live.length shouldBe 10
    live.map(r => get("group", r.metadata)).toSet should not contain "1"
    // past-cap: the facade result EQUALS the exact leg value-for-value
    // (the same plan — raw kernel doubles included)
    db.queryByVector(qv, k = 5).collect().toSeq shouldBe
      db.queryByVector(qv, k = 5, useIndex = false).collect().toSeq
    db.table.drop()
  }

  test("opt-in auto-vacuum: a delete crossing the debt threshold folds its own debt") {
    spark.conf.set("spark.graft.vacuum.debtThreshold", "0.25")
    try {
      val db = newDb("t6av")
      db.insert(docs(60), embedField = Some("text"))
      db.table.buildHnswIndex()
      // small delete (1/60 ≈ 1.7% < 25%): tombstones accumulate, no rewrite
      db.table.delete(get_json_object(col(graft.core.VectorSchema.METADATA), "$.id") === "0")
      db.table.tombstoneCount shouldBe 1L
      // group delete pushes debt to 21/60 = 35% ≥ 25%: the delete
      // auto-vacuums — tombstones folded, index rebuilt over survivors
      db.table.delete(get_json_object(col(graft.core.VectorSchema.METADATA), "$.group") === "1")
      db.table.tombstoneCount shouldBe 0L
      db.numRows shouldBe 39
      db.table.hnswGraph.get.count() shouldBe 39 // rebuilt: dead ids physically gone
      db.query("spark joins", k = 39).collect().map(_.id).toSet.size shouldBe 39
      db.table.drop()
    } finally spark.conf.unset("spark.graft.vacuum.debtThreshold")
  }

  test("pre-stat HNSW sidecar (no rows field) still serves the index") {
    val db = newDb("t6meta")
    db.insert(docs(40), embedField = Some("text"))
    db.table.buildHnswIndex()
    // rewrite the sidecar in the FORMAT written before the rows stat
    // existed: the index must keep serving (a parse miss silently
    // degrades every query to brute force and strands the .hnsw dir)
    val metaPath = new org.apache.hadoop.fs.Path(db.table.root + ".hnsw_index.json")
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(metaPath, true)
    try out.write("""{"m": 16, "efConstruction": 128, "segments": 1}""".getBytes("UTF-8"))
    finally out.close()
    val meta = db.table.hnswIndexMeta
    meta.isDefined shouldBe true
    meta.get.rows shouldBe -1L // unknown stat, not a parse failure
    db.table.hnswGraph.isDefined shouldBe true
    db.query("spark joins", k = 5).collect().length shouldBe 5
    // the filtered probe's totalHint = -1 falls back to counting
    val f = db.queryByVector(db.embedder.embed("spark joins"), k = 5,
      filters = Seq(Cmp("group", CmpOp.Eq, 1)), indexFilteredProbe = true).collect()
    all(f.map(r => get("group", r.metadata))) shouldBe "1"
    // an insert against the unknown stat keeps it unknown (never -1+n)
    db.insert(docs(50), embedField = Some("text"))
    db.table.hnswIndexMeta.get.rows shouldBe -1L
    db.table.drop()
  }

  test("tombstone count is visible across table instances on the same root") {
    val db = newDb("t6x")
    db.insert(docs(30), embedField = Some("text"))
    // a SECOND instance over the same root, memo warmed before the delete
    val other = new graft.table.VectorTable(spark, db.table.root, db.dim)
    other.tombstoneCount shouldBe 0L
    db.table.delete(get_json_object(col(graft.core.VectorSchema.METADATA), "$.group") === "1")
    val expected = db.table.tombstoneCount
    expected should be > 0L
    // the other instance must see the delete (a stale cached count
    // under-widens index probes — fewer than k live rows)
    other.tombstoneCount shouldBe expected
    db.table.drop()
  }

  test("embedder registry: unknown name raises (vdb.py:24-27)") {
    intercept[IllegalArgumentException](Embedders.forName("no-such-embedder"))
  }

  test("hashing embedder is deterministic and unit-norm") {
    val e = HashingEmbedder(32)
    val v1 = e.embed("the quick brown fox")
    val v2 = e.embed("the quick brown fox")
    v1.toSeq shouldBe v2.toSeq
    val norm = math.sqrt(v1.map(x => x.toDouble * x).sum)
    norm shouldBe 1.0 +- 1e-6
  }

  test("second embedder resolves from the registry and differs from the first (U6 pluggability)") {
    val a = Embedders.forName("hashing", Map("dim" -> "32"))
    val b = Embedders.forName("ngram_hashing", Map("dim" -> "32", "n" -> "3"))
    b.dim shouldBe 32
    val text = "the quick brown fox"
    b.embed(text).toSeq should not be a.embed(text).toSeq
    b.embed(text).toSeq shouldBe b.embed(text).toSeq
    math.sqrt(b.embed(text).map(x => x.toDouble * x).sum) shouldBe 1.0 +- 1e-6
  }

  test("tfidf embedder: registry slot resolves, per-row embed equals the MLlib pipeline") {
    import spark.implicits._
    val corpus = Seq("spark joins shuffle data", "duck ponds are quiet",
      "spark shuffles join keys", "quiet ponds hold ducks").toDF("text")
    val fitted = graft.embed.TfIdfEmbedder.fitOn(corpus, "text", 32)
    fitted.dim shouldBe 32
    // registry round trip: weights travel as params, resolve identically
    val viaRegistry = Embedders.forName("tfidf",
      Map("dim" -> "32", "idf" -> fitted.idf.mkString(",")))
    viaRegistry.embed("spark joins").toSeq shouldBe fitted.embed("spark joins").toSeq
    // per-row embed must be bit-identical to the Transformer pipeline
    val viaMl = graft.embed.TfIdfEmbedder.transformMl(corpus, "text", 32)
      .select($"text", $"embedding").as[(String, Array[Float])].collect().toMap
    corpus.as[String].collect().foreach { t =>
      fitted.embed(t).toSeq shouldBe viaMl(t).toSeq
    }
    // unit norm, deterministic
    math.sqrt(fitted.embed("spark joins").map(x => x.toDouble * x).sum) shouldBe 1.0 +- 1e-6
    // and it is a genuinely different family from the md5-hash embedders
    fitted.embed("spark joins").toSeq should not be
      Embedders.forName("hashing", Map("dim" -> "32")).embed("spark joins").toSeq
  }

  test("bulk retrieval (queryByVectors/queryByTexts) equals the serving path query-for-query") {
    import spark.implicits._
    val db = newDb("t-bulk")
    db.insert(docs(60), embedField = Some("text"))
    db.table.buildHnswIndex()
    val texts = Seq((0L, "spark joins"), (1L, "duck ponds"), (2L, "doc number 7"))
      .toDF("query_id", "text")
    val bulk = db.queryByTexts(texts, k = 5).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(3)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    // same index, same widening, same rerank and tie-breaks: the bulk
    // cogroup probe must agree with the per-query serving probe exactly
    Seq((0L, "spark joins"), (1L, "duck ponds"), (2L, "doc number 7")).foreach {
      case (qid, text) =>
        val serving = db.query(text, k = 5).collect().map(r => (r.id, r.distance)).toSet
        withClue(s"query $qid:") { bulk(qid) shouldBe serving }
    }
    // and the un-indexed bulk path agrees with the un-indexed serving
    // path up to rounding ties: bulk ranks on the portable-rounded
    // distance, the serving exact leg on the raw kernel double — any
    // member of a rounded distance-tie class is an equally valid k-th
    // neighbor, so compare the rounded multisets (the vdb_knn_indexed
    // contract)
    db.table.drop()
    val db2 = newDb("t-bulk2")
    db2.insert(docs(60), embedField = Some("text"))
    val bulkExactD = db2.queryByTexts(texts, k = 5).collect()
      .filter(_.getLong(0) == 0L).map(_.getDouble(3)).toSeq.sorted
    val servingExactD = db2.query("spark joins", k = 5).collect()
      .map(r => math.rint(r.distance * 1e4) / 1e4).toSeq.sorted
    bulkExactD shouldBe servingExactD
  }

  // ---- the two non-graph persisted index tiers share the HNSW slot's
  // lifecycle contract: build → probe route → insert appends codes →
  // delete widens the probe → vacuum rebuilds → drop cleans ----
  for (tier <- Seq("ivfpq", "bq")) {
    test(s"persisted $tier index lifecycle: build → probe → append → delete-widen → vacuum") {
      val db = newDb(s"t-$tier")
      db.insert(docs(40), embedField = Some("text"))
      def build() = tier match {
        case "ivfpq" => db.table.buildIvfPqIndex(nCells = 4)
        case "bq" => db.table.buildBqIndex()
      }
      def codeCount() = tier match {
        case "ivfpq" => db.table.ivfPqIndex.get._2.count()
        case "bq" => db.table.bqCodes.get.count()
      }
      build()
      codeCount() shouldBe 40
      // single index slot: building this tier cleared any other
      db.table.hnswIndexMeta shouldBe None
      // insert AFTER the build appends fresh code rows, searchable at once
      db.insert(docs(50), embedField = Some("text"))
      codeCount() shouldBe 50
      db.query("spark joins", k = 50).collect().map(_.id).toSet.size shouldBe 50
      // a filtered query falls back to the exact path and still filters
      val filtered = db.query("spark joins", k = 50,
        filters = Seq(Cmp("group", CmpOp.Eq, 1))).collect()
      all(filtered.map(r => get("group", r.metadata))) shouldBe "1"
      // delete the current top-3: the code table still carries them, so
      // the widened probe must return k live rows with zero dead ids
      val qv = db.embedder.embed("spark joins")
      val top3 = db.queryByVector(qv, k = 3, useIndex = false).collect().map(_.id).toSet
      db.table.delete(col(graft.core.VectorSchema.ID).isin(top3.toSeq: _*))
      val got = db.queryByVector(qv, k = 10).collect()
      got.length shouldBe 10
      got.map(_.id).toSet intersect top3 shouldBe empty
      // vacuum makes the delete physical AND rebuilds the code table
      db.table.vacuum()
      db.table.tombstoneCount shouldBe 0L
      codeCount() shouldBe 47
      val after = db.queryByVector(qv, k = 10).collect()
      after.length shouldBe 10
      after.map(_.id).toSet intersect top3 shouldBe empty
      db.table.drop()
      db.table.ivfPqIndexMeta shouldBe None
      db.table.bqIndexMeta shouldBe None
    }
  }

  for (tier <- Seq("ivfpq", "bq")) {
    test(s"bulk retrieval routes through the $tier tier: k rows per query, recall holds") {
      import spark.implicits._
      val db = newDb(s"t-bulk-$tier")
      db.insert(docs(60), embedField = Some("text"))
      tier match {
        case "ivfpq" => db.table.buildIvfPqIndex(nCells = 4)
        case _ => db.table.buildBqIndex()
      }
      val texts = Seq((0L, "spark joins"), (1L, "duck ponds"), (2L, "doc number 7"))
        .toDF("query_id", "text")
      val approx = db.queryByTexts(texts, k = 5).collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).toSet).toMap
      val exact = db.queryByTexts(texts, k = 5, useIndex = false).collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).toSet).toMap
      (0L to 2L).foreach { qid =>
        withClue(s"query $qid:") {
          approx(qid).size shouldBe 5
          (exact(qid) intersect approx(qid)).size.toDouble / 5 should be >= 0.8
        }
      }
      db.table.drop()
    }
  }

  // ---- OPT-IN filtered probes through the non-graph tiers (tier
  // parity with the HNSW filtered probe): approximation may cost
  // recall, NEVER filter correctness or tombstone visibility ----
  for (tier <- Seq("ivfpq", "bq")) {
    test(s"opt-in filtered probe through the $tier tier: filter + tombstone correctness") {
      val db = newDb(s"t-f$tier")
      db.insert(docs(60), embedField = Some("text"))
      tier match {
        case "ivfpq" => db.table.buildIvfPqIndex(nCells = 4)
        case _ => db.table.buildBqIndex()
      }
      val qv = db.embedder.embed("spark joins")
      val f = Seq(Cmp("group", CmpOp.Eq, 1))
      val probed = db.queryByVector(qv, k = 10, filters = f, indexFilteredProbe = true).collect()
      probed.length should be > 0
      all(probed.map(r => get("group", r.metadata))) shouldBe "1"
      val exact = db.queryByVector(qv, k = 10, filters = f, useIndex = false)
        .collect().map(_.id).toSet
      (exact intersect probed.map(_.id).toSet).size.toDouble / exact.size should be >= 0.8
      // the DEFAULT filtered route stays exact (no opt-in, no index)
      db.queryByVector(qv, k = 10, filters = f).collect().map(_.id).toSet shouldBe exact
      // tombstoned rows are ineligible: they never surface post-delete
      val top = probed.take(2).map(_.id).toSet
      db.table.delete(col(graft.core.VectorSchema.ID).isin(top.toSeq: _*))
      val after = db.queryByVector(qv, k = 10, filters = f, indexFilteredProbe = true).collect()
      after.map(_.id).toSet intersect top shouldBe empty
      all(after.map(r => get("group", r.metadata))) shouldBe "1"
      db.table.drop()
    }
  }

  private def get(field: String, json: String): String = {
    import spark.implicits._
    spark.range(1).select(get_json_object(lit(json), s"$$.$field")).head().getString(0)
  }
}
