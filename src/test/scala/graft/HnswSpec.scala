package graft

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.ops.{Hnsw, Similarity}

class HnswSpec extends SparkSpec with Matchers {

  private lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("levelOf is deterministic, id-keyed, and geometrically distributed") {
    import graft.ops.Hnsw.{levelOf => lv}
    (0L until 1000L).foreach(id => lv(id, 16) shouldBe lv(id, 16))
    val levels = (0L until 10000L).map(lv(_, 16))
    levels.min shouldBe 0
    // ~1/16 of nodes above level 0 for M=16
    val above = levels.count(_ > 0).toDouble / levels.size
    above should be > 0.02
    above should be < 0.15
    levels.max should be < 8
  }

  test("segmented HNSW recovers the exact top-10 on the fixture corpus") {
    import spark.implicits._
    val q = emb.where($"vec_id" < 10)
    val exact = Similarity.bruteTopK(q, emb, k = 10)
    val ann = Hnsw.searchTopK(q, emb, k = 10)
    val recall = Similarity.recallAtK(ann, exact, k = 10)
      .agg(min($"recall")).head.getDouble(0)
    recall should be >= 0.9
  }

  test("search is deterministic across runs (same segments, levels, tie-breaks)") {
    import spark.implicits._
    val q = emb.where($"vec_id" < 5)
    val r1 = Hnsw.searchTopK(q, emb, k = 5).orderBy($"query_id", $"distance", $"neighbor_id")
      .collect().toSeq
    val r2 = Hnsw.searchTopK(q, emb, k = 5).orderBy($"query_id", $"distance", $"neighbor_id")
      .collect().toSeq
    r1 shouldBe r2
  }

  test("segment-append: base ∪ delta builds the identical index as one bulk load") {
    import spark.implicits._
    val base = emb.where($"vec_id" % 5 =!= 0)
    val delta = emb.where($"vec_id" % 5 === 0)
    val q = emb.where($"vec_id" < 5)
    val bulk = Hnsw.searchTopK(q, emb, k = 8).collect().toSet
    val appended = Hnsw.searchTopK(q, Hnsw.appendSegments(base, delta), k = 8).collect().toSet
    appended shouldBe bulk
  }

  test("persisted graph round-trips: probe(buildGraph) equals the true top-k") {
    import spark.implicits._
    val q = emb.where($"vec_id" < 5)
    val path = tempDir("graft-hnsw-spec")
    ops.Hnsw.buildGraph(emb, numSegments = 4).write.mode("overwrite").parquet(path)
    val probed = ops.Hnsw.probeGraph(spark.read.parquet(path), q, k = 10)
    val exact = Similarity.bruteTopK(q, emb, k = 10)
    val recall = Similarity.recallAtK(probed, exact, k = 10)
      .agg(min($"recall")).head.getDouble(0)
    recall should be >= 0.9
    // the graph parquet holds every node exactly once, with its segment
    val g = spark.read.parquet(path)
    g.count() shouldBe emb.count()
    g.select("id").distinct().count() shouldBe emb.count()
    // map-only probe: the candidate-surfacing side of the plan reads
    // the graph table with no Exchange before mapPartitions (the only
    // joins are the k-row rerank)
    val plan = probed.queryExecution.executedPlan.toString
    plan should include ("SerializeFromObject")
  }

  test("probe distances are the exact brute-force distances, pair for pair") {
    import spark.implicits._
    val path = tempDir("graft-hnsw-dist")
    ops.Hnsw.buildGraph(emb, numSegments = 4).write.mode("overwrite").parquet(path)
    val g = Hnsw.readGraph(spark, path)
    g.select("seg").distinct().count() should be >= 3L
    val q = emb.where($"vec_id" < 10)
    def triples(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    val probed = triples(Hnsw.probeGraph(g, q, k = 10))
    probed.length shouldBe 100
    // every pair of the corpus, scored by the brute-force kernel path
    val exact = triples(Similarity.bruteTopK(q, emb, k = emb.count().toInt)).toMap
    probed.foreach { case (pair, d) => withClue(s"$pair:") { d shouldBe exact(pair) } }
  }

  test("bulk probe equals the serving probe pair-for-pair, and auto-sizing is ~8k/segment") {
    import spark.implicits._
    Hnsw.autoSegments(1L) shouldBe 1
    Hnsw.autoSegments(8000L) shouldBe 1
    Hnsw.autoSegments(8001L) shouldBe 2
    Hnsw.autoSegments(800000L) shouldBe 100
    val path = tempDir("graft-hnsw-bulk")
    ops.Hnsw.buildGraph(emb, numSegments = 4).write.mode("overwrite").parquet(path)
    val g = spark.read.parquet(path)
    // a batch far beyond serving size for this fixture: every corpus row
    // is a query — the distributed fan-out must agree with the
    // collect-panel path on every (query, neighbor, distance) triple
    val q = emb.where($"vec_id" < 50)
    val serving = ops.Hnsw.probeGraph(g, q, k = 5).collect().toSet
    val bulk = ops.Hnsw.probeGraphBulk(g, q, k = 5).collect().toSet
    bulk shouldBe serving
    // no driver collect of the query side: the bulk plan's probe input
    // is a real join of two distributed legs (cogroup), not a broadcast
    // of a collected panel
    val plan = ops.Hnsw.probeGraphBulk(g, q, k = 5).queryExecution.executedPlan.toString
    plan should include ("CoGroup")
  }

  test("append lifecycle: delta segments never rewrite built graphs, stay searchable") {
    import spark.implicits._
    val base = emb.where($"vec_id" % 5 =!= 0)
    val delta = emb.where($"vec_id" % 5 === 0)
    val q = emb.where($"vec_id" < 5)
    val path = tempDir("graft-hnsw-app")
    ops.Hnsw.buildGraph(base, numSegments = 4).write.mode("overwrite").parquet(path)
    val baseRows = spark.read.parquet(path).orderBy($"seg", $"id").collect().toSeq
    ops.Hnsw.buildGraph(delta, numSegments = 2, segOffset = 4)
      .write.mode("append").parquet(path)
    val all = spark.read.parquet(path)
    // base segment rows are byte-identical after the append
    all.where($"seg" < 4).orderBy($"seg", $"id").collect().toSeq shouldBe baseRows
    all.where($"seg" >= 4).select("id").distinct().count() shouldBe delta.count()
    // a query hitting only delta rows still finds them
    val probed = ops.Hnsw.probeGraph(all, q, k = 10)
    val exact = Similarity.bruteTopK(q, emb, k = 10)
    val recall = Similarity.recallAtK(probed, exact, k = 10)
      .agg(min($"recall")).head.getDouble(0)
    recall should be >= 0.9
  }

  test("compaction: small segments rebuild into fewer, survivors untouched, nodes conserved") {
    import spark.implicits._
    val base = emb.where($"vec_id" % 5 > 1)
    val path = tempDir("graft-hnsw-c")
    ops.Hnsw.buildGraph(base, numSegments = 4).write.mode("overwrite").parquet(path)
    (0 to 1).foreach { b =>
      ops.Hnsw.buildGraph(emb.where($"vec_id" % 5 === b), numSegments = 2,
          segOffset = 4 + b * 2)
        .write.mode("append").parquet(path)
    }
    val g = spark.read.parquet(path)
    val baseRows = g.where($"seg" < 4).orderBy($"seg", $"id").collect().toSeq
    val maxRows = emb.count() / 8
    val small = ops.Hnsw.segmentSizes(spark, path).collect { case (seg, n) if n <= maxRows => seg }
    small.toSet shouldBe Set(4, 5, 6, 7)
    val merged = ops.Hnsw.compactSegments(g, small.toSet, numSegments = 2, segOffset = 100)
    val segs = merged.select("seg").distinct().collect().map(_.getInt(0)).toSet
    segs shouldBe Set(0, 1, 2, 3, 100, 101)
    // survivors byte-identical, every node still present exactly once
    merged.where($"seg" < 4).orderBy($"seg", $"id").collect().toSeq shouldBe baseRows
    merged.select("id").distinct().count() shouldBe emb.count()
    merged.count() shouldBe emb.count()
  }

  test("clustered data: diversity heuristic keeps recall across tight clusters") {
    import spark.implicits._
    // 10 tight clusters in 16-d — the regime where naive nearest-m
    // selection collapses into intra-cluster cliques and loses the
    // inter-cluster highways (Algorithm 4's reason to exist)
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(10)(Array.fill(16)(rnd.nextFloat() * 2f - 1f))
    val rows = (0L until 800L).map { i =>
      val c = centers((i % 10).toInt)
      (i, c.map(x => x + (rnd.nextFloat() - 0.5f) * 0.05f))
    }
    val df = rows.toDF("vec_id", "embedding")
    val q = df.where($"vec_id" < 10)
    val ann = Hnsw.searchTopK(q, df, k = 10)
    // tie-aware recall: intra-cluster spacing here is below the rounded
    // rerank's 1e-4 resolution, so id-tie-broken top-10 sets differ
    // between legs even when every returned neighbor is a true nearest
    // neighbor. Count a hit iff the neighbor's UNROUNDED distance is
    // within the exact 10th-best distance (+eps) — the quality claim
    // the index actually makes.
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      1.0 - dot / math.sqrt(na * nb)
    }
    val vecs = rows.toMap
    val kth = (0L until 10L).map { qi =>
      qi -> rows.collect { case (i, v) if i != qi => cos(vecs(qi), v) }.sorted.apply(9)
    }.toMap
    val got = ann.select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    got.groupBy(_._1).size shouldBe 10
    val recall = got.count { case (qi, ni) => cos(vecs(qi), vecs(ni)) <= kth(qi) + 1e-9 } / 100.0
    recall should be >= 0.9
  }

  test("merge-policy trigger bounds segment count under a long append sequence") {
    import spark.implicits._
    val path = tempDir("graft-hnsw-merge") + "/graph"
    // healthy base segment (375 rows, > maxRows — must never be rebuilt)
    Hnsw.buildGraph(emb.where($"vec_id" % 4 =!= 0)).write.mode("overwrite").parquet(path)
    val baseRows = spark.read.parquet(path).where($"seg" === 0)
      .orderBy($"id").collect().toSeq
    var maxSegs = 0L
    var compactions = 0
    (0 until 12).foreach { b =>
      // ~10-row micro-batch (the streaming-append regime) as one new segment
      Hnsw.buildGraph(
          emb.where($"vec_id" % 4 === 0 && expr("(vec_id div 4) % 12") === b),
          numSegments = 1, segOffset = 10 + b)
        .write.mode("append").parquet(path)
      if (Hnsw.compactIfNeeded(spark, path, maxRows = 20, mergeAt = 4)) compactions += 1
      maxSegs = math.max(maxSegs,
        spark.read.parquet(path).select($"seg").distinct().count())
    }
    // without the trigger this sequence ends at 13 segments; the merge
    // policy keeps the live count bounded by base + pending-small +
    // compacted-healthy
    compactions should be >= 2
    maxSegs should be <= 8L
    // the big base segment passed through every compaction untouched
    spark.read.parquet(path).where($"seg" === 0).orderBy($"id").collect().toSeq shouldBe baseRows
    // compacted segments live in the negative namespace — never colliding
    // with future batchId-keyed appends
    spark.read.parquet(path).select($"seg").distinct().collect().map(_.getInt(0))
      .count(_ < 0) should be >= 1
    // the merged index still recovers the exact top-k over every row it holds
    val held = spark.read.parquet(path).select($"id".as("vec_id")).distinct()
    val corpus = emb.join(held, "vec_id")
    val q = emb.where($"vec_id" < 5)
    val recall = Similarity.recallAtK(
      Hnsw.probeGraph(spark.read.parquet(path), q, k = 10),
      Similarity.bruteTopK(q, corpus, k = 10), k = 10)
      .agg(min($"recall")).head.getDouble(0)
    recall should be >= 0.9
  }

  test("a failed graph-swap rename throws instead of silently dropping the graph") {
    import spark.implicits._
    val dir = tempDir("graft-hnsw-swap")
    (0 until 4).foreach { b =>
      Hnsw.buildGraph(emb.where($"vec_id" % 4 === b), numSegments = 1, segOffset = b)
        .write.mode("append").parquet(s"$dir/graph")
    }
    // four small segments at mergeAt = 4: the compaction runs, and its
    // swap rename fails
    val e = intercept[java.io.IOException](Hnsw.compactIfNeeded(spark,
      SwapRenameFailingFs.on(spark, s"$dir/graph"), maxRows = 1000, mergeAt = 4))
    e.getMessage should include ("rename")
  }

  test("a refused graph-swap delete throws instead of nesting the new graph in the old") {
    import spark.implicits._
    val dir = tempDir("graft-hnsw-del")
    (0 until 4).foreach { b =>
      Hnsw.buildGraph(emb.where($"vec_id" % 4 === b), numSegments = 1, segOffset = b)
        .write.mode("append").parquet(s"$dir/graph")
    }
    val before = Hnsw.segmentSizes(spark, s"$dir/graph")
    val e = intercept[java.io.IOException](Hnsw.compactIfNeeded(spark,
      GraphDeleteRefusingFs.on(spark, s"$dir/graph"), maxRows = 1000, mergeAt = 4))
    e.getMessage should include ("delete")
    // the old graph is still whole and holds nothing but its own files
    Hnsw.segmentSizes(spark, s"$dir/graph") shouldBe before
    new java.io.File(s"$dir/graph").listFiles().map(_.getName)
      .filter(_.contains("compacting")) shouldBe empty
  }

  test("every buildGraph part file holds one segment, and footers size the segments") {
    val path = tempDir("graft-hnsw-files") + "/graph"
    Hnsw.buildGraph(emb, numSegments = 5, segOffset = 3).write.parquet(path)
    val files = new java.io.File(path).listFiles().map(_.getPath).filter(_.endsWith(".parquet"))
    files.length shouldBe 5
    files.map(f => Hnsw.readGraph(spark, f).select("seg").distinct().count()).toSet shouldBe Set(1L)
    val counted = Hnsw.readGraph(spark, path).groupBy("seg").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    counted.keySet shouldBe (3 to 7).toSet
    Hnsw.segmentSizes(spark, path) shouldBe counted
    // a file holding several segments (a compaction's pass-through rows)
    // is sized from its seg column
    val mixed = tempDir("graft-hnsw-mixed") + "/graph"
    Hnsw.readGraph(spark, path).coalesce(1).write.parquet(mixed)
    Hnsw.segmentSizes(spark, mixed) shouldBe counted
  }

  test("the driver-built delta segment equals buildGraph(numSegments = 1, segOffset)") {
    import spark.implicits._
    val batch = emb.where($"vec_id" % 7 === 2)
    val rows = batch.select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
    def show(r: (Int, Long, Array[Array[Long]], Array[Float])) =
      (r._1, r._2, r._3.map(_.toSeq).toSeq, r._4.toSeq)
    val built = Hnsw.buildGraph(batch, numSegments = 1, segOffset = 9)
      .as[(Int, Long, Array[Array[Long]], Array[Float])].collect().map(show).sortBy(_._2).toSeq
    // input order must not matter: the segment inserts in id order
    Hnsw.buildSegment(9, rows.reverse, m = 16, efConstruction = 128).map(show).toSeq shouldBe built
  }

  test("streaming append: micro-batch delta segments are searchable, recall gate green") {
    val gate = SparkEntry.queries("stream_hnsw_append")(spark, "/root/testdata/sf0.001")
    val rows = gate.collect()
    rows.length shouldBe 10
    all(rows.map(_.getAs[Int]("recall_ok"))) shouldBe 1
  }

  test("degenerate inputs: zero vectors neither crash the build nor poison search") {
    import spark.implicits._
    val rows = (0L until 40L).map { i =>
      if (i % 10 == 0) (i, Array.fill(8)(0f))
      else (i, Array.tabulate(8)(j => ((Hnsw.mix64(i * 8 + j) >>> 40).toFloat / (1 << 24)) - 0.5f))
    }
    val df = rows.toDF("vec_id", "embedding")
    val q = df.where($"vec_id" === 1)
    val out = Hnsw.searchTopK(q, df, k = 5, numSegments = 2).collect()
    out.length shouldBe 5
    // zero vectors sit at the max cosine distance (kernel convention) —
    // they never outrank a real neighbor
    out.map(_.getLong(1)) should not contain 0L
  }

  test("degenerate inputs: tiny corpus and k larger than a segment") {
    import spark.implicits._
    val tiny = emb.where($"vec_id" < 3)
    val q = emb.where($"vec_id" === 0)
    val out = Hnsw.searchTopK(q, tiny, k = 10).collect()
    // self excluded, so 2 neighbors from a 3-row corpus
    out.length shouldBe 2
    out.map(_.getLong(1)).toSet shouldBe Set(1L, 2L)
  }

  test("filtered probe: adaptive oversampling recovers the filtered exact top-k") {
    import spark.implicits._
    val q = emb.where($"vec_id" < 5)
    val graph = Hnsw.buildGraph(emb)
    val eligible = emb.where($"label" >= 5) // ~half the corpus
    val got = Hnsw.probeGraphFiltered(graph, q, k = 5, eligible)
    // every returned neighbor satisfies the predicate
    val ids = eligible.select($"vec_id").collect().map(_.getLong(0)).toSet
    got.collect().foreach(r => ids should contain(r.getLong(1)))
    val exact = Similarity.bruteTopK(q, emb.where($"label" >= 5), k = 5)
    val recall = Similarity.recallAtK(got, exact, k = 5)
      .agg(avg($"recall")).head.getDouble(0)
    recall should be >= 0.8
  }

  test("filtered probe: below the selectivity cutoff it degenerates to the exact scan") {
    import spark.implicits._
    val q = emb.where($"vec_id" < 5)
    val graph = Hnsw.buildGraph(emb)
    val eligible = emb.where($"label" === 3) // ~10% of the corpus
    val got = Hnsw.probeGraphFiltered(graph, q, k = 5, eligible, exactCutoff = 0.15)
      .collect().toSet
    val exact = Similarity.bruteTopK(q, emb.where($"label" === 3), k = 5)
      .collect().toSet
    got shouldBe exact // the exact branch IS the exact result
  }

  test("filtered probe: totalHint saves the graph-count job, gates hold at two selectivities") {
    import spark.implicits._
    val sc = spark.sparkContext
    val q = emb.where($"vec_id" < 5)
    val graph = Hnsw.buildGraph(emb)
    val total = graph.count()
    def jobs(group: String)(body: => Unit): Int = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.statusTracker.getJobIdsForGroup(group).length
    }
    def run(eligible: org.apache.spark.sql.DataFrame, hint: Long) =
      Hnsw.probeGraphFiltered(graph, q, k = 5, eligible, totalHint = hint)
        .collect().toSet
    // a stats-carrying caller (the facade) must spend exactly one
    // count ACTION fewer per probe than the stat-less fallback: the
    // selectivity count over the filtered scan stays, the graph-sized
    // count goes. AQE splits one action into one scheduler job per
    // materialized stage, so the saved delta is measured as the job
    // cost of the graph count itself, not assumed to be 1.
    val moderate = emb.where($"label" >= 5)
    val countJobs = jobs("graph-count") { graph.count() }
    val nNoHint = jobs("probe-nohint") { run(moderate, -1L) }
    val nHint = jobs("probe-hint") { run(moderate, total) }
    countJobs should be >= 1
    nHint shouldBe (nNoHint - countJobs)
    // and the hinted path is answer-identical at both a moderate and a
    // tight predicate (the tight one crossing into the exact branch)
    run(moderate, total) shouldBe run(moderate, -1L)
    val tight = emb.where($"label" === 3)
    run(tight, total) shouldBe run(tight, -1L)
    Similarity.recallAtK(
        Hnsw.probeGraphFiltered(graph, q, k = 5, moderate, totalHint = total),
        Similarity.bruteTopK(q, moderate, k = 5), k = 5)
      .agg(avg($"recall")).head.getDouble(0) should be >= 0.8
  }
}
