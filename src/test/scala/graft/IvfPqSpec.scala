package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

/** IVF-PQ index at rest and at scale: the cell-partitioned code table
  * must prune unprobed cells at the parquet DIRECTORY level, and the
  * distributed search must give identical answers for the serving
  * shape (few queries, probe side broadcast) and the bulk shape
  * (every vector a query, shuffle join) over either code layout. */
class IvfPqSpec extends SparkSpec with Matchers {

  private lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def buildPersisted() = {
    val (ix, c0) = ops.IvfPq.build(emb, dim = 64, nCells = 8, m = 8, k = 16)
    val path = tempDir("graft-ivfpq-spec")
    ops.IvfPq.persistCodes(c0, path)
    (ix, c0, ops.IvfPq.loadCodes(spark, path))
  }

  test("cell-partitioned code table prunes unprobed cells at the directory level") {
    val (ix, _, codes) = buildPersisted()
    val pruned = codes.where(col("cell").isin(1, 3))
    pruned.queryExecution.executedPlan.toString should include("PartitionFilters: [cell")
    // the scan's SELECTED partitions (inputFiles is relation-level and
    // ignores pruning): only the two probed cell directories survive
    val scan = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    scan.selectedPartitions.partitionCount shouldBe 2
    val files = scan.selectedPartitions.toPartitionArray.map(_.filePath.toString)
    files should not be empty
    all(files) should (include("cell=1/") or include("cell=3/"))

    // the full search plan carries the static predicate into the scan:
    // only the probed cells' directories are read
    val q = emb.where(col("vec_id") < 3)
    val res = ops.IvfPq.search(q, ix, codes, emb, k = 5, nProbe = 2)
    res.queryExecution.executedPlan.toString should include("PartitionFilters")
    res.collect().length shouldBe 15 // k rows per query
    core.PlanCache.release(spark)
  }

  test("segment append lands inside existing cell directories, rows all searchable") {
    val base = emb.where(col("vec_id") % 5 =!= 0)
    val delta = emb.where(col("vec_id") % 5 === 0)
    val (ix, c0) = ops.IvfPq.build(base, dim = 64, nCells = 8, m = 8, k = 16)
    val path = tempDir("graft-ivfpq-app")
    ops.IvfPq.persistCodes(c0, path)
    val dirsBefore = new java.io.File(path).listFiles.filter(_.isDirectory).map(_.getName).toSet
    val filesBefore = new java.io.File(path).listFiles.filter(_.isDirectory)
      .flatMap(_.listFiles).length
    ops.IvfPq.appendCodes(ix, delta, path)
    val dirsAfter = new java.io.File(path).listFiles.filter(_.isDirectory).map(_.getName).toSet
    val filesAfter = new java.io.File(path).listFiles.filter(_.isDirectory)
      .flatMap(_.listFiles).length
    dirsAfter shouldBe dirsBefore      // no new partition dirs beyond the cells
    filesAfter should be > filesBefore // append added segments, rewrote nothing
    val codes = ops.IvfPq.loadCodes(spark, path)
    codes.count() shouldBe emb.count() // every base + delta row searchable
    codes.select("vec_id").distinct().count() shouldBe emb.count()
    core.PlanCache.release(spark)
  }

  test("full index artifact round-trips: loadIndex search == in-memory search") {
    val (ix, c0) = ops.IvfPq.build(emb, dim = 64, nCells = 8, m = 8, k = 16)
    val root = tempDir("graft-ivfpq-art")
    ops.IvfPq.persistIndex(ix, c0, root)
    val (ix2, codes2) = ops.IvfPq.loadIndex(spark, root)
    ix2.nCells shouldBe ix.nCells
    ix2.centers.map(_.toSeq).toSeq shouldBe ix.centers.map(_.toSeq).toSeq
    val q = emb.where(col("vec_id") < 5)
    def res(i: ops.IvfPq.Index, c: org.apache.spark.sql.DataFrame) =
      ops.IvfPq.search(q, i, c, emb, k = 5, nProbe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    res(ix2, codes2) shouldBe res(ix, c0)
    core.PlanCache.release(spark)
  }

  test("degenerate batches: empty query set yields empty result; one query yields k rows") {
    val (ix, c0, _) = buildPersisted()
    val none = ops.IvfPq.search(emb.where(col("vec_id") < 0), ix, c0, emb, k = 5, nProbe = 2)
    none.count() shouldBe 0L
    val one = ops.IvfPq.search(emb.where(col("vec_id") === 7), ix, c0, emb, k = 5, nProbe = 4)
    one.count() shouldBe 5L
    core.PlanCache.release(spark)
  }

  test("probing every cell with a corpus-wide shortlist reduces IVF-PQ to exact brute force") {
    // the approximation must come ONLY from cell pruning + shortlist
    // truncation: with nProbe = nCells and k·factor >= corpus, the ADC
    // pass ranks everything and the exact rerank sees every candidate,
    // so the result must equal bruteTopK bit-for-bit
    val small = emb.where(col("vec_id") < 200)
    val (ix, c0) = ops.IvfPq.build(small, dim = 64, nCells = 4, m = 8, k = 16)
    val q = small.where(col("vec_id") < 5)
    val exhaustive = ops.IvfPq.search(q, ix, c0, small, k = 5, nProbe = 4, shortlistFactor = 40)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = ops.Similarity.bruteTopK(q, small, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    exhaustive shouldBe brute
    core.PlanCache.release(spark)
  }

  test("adaptive cell selection: floor always probed, widening only inside the ratio band") {
    val (ix, _, codes) = buildPersisted()
    import spark.implicits._
    def norm(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      if (n == 0.0) v else v.map(x => (x / n).toFloat)
    }
    def sq(a: Array[Float], b: Array[Float]): Float =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val panel = emb.where(col("vec_id") < 20).select(col("embedding"))
      .as[Array[Float]].collect().map(norm)
    panel.foreach { qv =>
      val fixed = ix.nearestCells(qv, 4)
      val ad = ix.nearestCellsAdaptive(qv, 4, 8, 1.5f)
      // the floor cells are always probed, in the same nearest-first order
      ad.take(4).toSeq shouldBe fixed.toSeq
      ad.length should be >= 4
      ad.length should be <= 8
      // every widened cell sits inside the ratio band of the nearest
      val d = ix.centers.map(c => sq(qv, c))
      ad.drop(4).foreach(cell => d(cell) should be <= d(fixed.head) * 1.5f)
      // ratio → ∞ degenerates to fixed nProbeMax; tight ratio to the floor
      ix.nearestCellsAdaptive(qv, 4, 8, Float.MaxValue).toSeq shouldBe
        ix.nearestCells(qv, 8).toSeq
    }
    // searching with nProbeMax=nCells and a wide band reduces to the
    // probe-everything exact path for any query (sanity: recall 1.0)
    val q = emb.where(col("vec_id") < 5)
    // self-exclusion on BOTH legs: IvfPq.search always skips qid==id
    val exact = ops.Similarity.bruteTopK(q, emb, k = 5)
    val wide = ops.IvfPq.search(q, ix, codes, emb, k = 5, nProbe = 1,
      shortlistFactor = 64, nProbeMax = ix.nCells, adaptRatio = Double.MaxValue)
    ops.Similarity.recallAtK(wide, exact, k = 5)
      .agg(min(col("recall"))).head.getDouble(0) shouldBe 1.0
    core.PlanCache.release(spark)
  }

  test("bulk-batch search (every vector a query) matches the in-memory-code answer") {
    val (ix, c0, codes) = buildPersisted()
    def run(c: org.apache.spark.sql.DataFrame) =
      ops.IvfPq.search(emb, ix, c, emb, k = 5, nProbe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bulkPartitioned = run(codes)
    val bulkInMemory = run(c0)
    bulkPartitioned shouldBe bulkInMemory
    // every query got a full k: the bulk join lost no probe rows
    bulkPartitioned.size shouldBe emb.count().toInt * 5
    bulkPartitioned.groupBy(_._1).values.foreach(_.size shouldBe 5)
    core.PlanCache.release(spark)
  }
}
