package graft

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.ops.{PqAnn, Similarity, ZOrder}

class ZOrderPqSpec extends SparkSpec with Matchers {

  test("zValue interleaves bits (known values) and orders boxes locally") {
    import spark.implicits._
    val rows = Seq((0, 0), (1, 0), (0, 1), (1, 1), (2, 0), (3, 3)).toDF("a", "b")
      .select(ZOrder.zValue($"a", $"b", 4).as("z")).as[Long].collect()
    rows shouldBe Seq(0L, 1L, 2L, 3L, 4L, 15L)
  }

  test("z-ordered layout skips most rows for a 2-D box; row-order does not") {
    import spark.implicits._
    val n = 200000
    val df = spark.range(n).select(
      (rand(7) * 1024).cast("int").as("x"),
      (rand(13) * 1024).cast("int").as("y"),
      col("id").as("payload"))
    val base = tempDir("zspec")
    // natural (insertion-order) layout: same file count
    df.repartition(16).write.parquet(s"$base/plain")
    ZOrder.writeZOrdered(df, "x", "y", bits = 10, s"$base/z", numFiles = 16)
    def boxRows(path: String): Long = ZOrder.scanOutputRows(
      spark.read.parquet(path).where($"x".between(100, 160) && $"y".between(200, 260)))
    val zRows = boxRows(s"$base/z")
    val plainRows = boxRows(s"$base/plain")
    // both return identical results…
    spark.read.parquet(s"$base/z").where($"x".between(100, 160) && $"y".between(200, 260)).count() shouldBe
      spark.read.parquet(s"$base/plain").where($"x".between(100, 160) && $"y".between(200, 260)).count()
    // …but the z layout's scan emits far fewer rows: with pushed
    // filters the metric counts post-filter rows equally, so compare
    // row-GROUP pruning via the scan's own numOutputRows with filters
    // disabled at the parquet level is not accessible — instead prove
    // the clustering property directly: files covering the box
    val zFiles = spark.read.parquet(s"$base/z")
      .where($"x".between(100, 160) && $"y".between(200, 260))
      .select(input_file_name()).distinct().count()
    zFiles should be <= 4L
    val plainFiles = spark.read.parquet(s"$base/plain")
      .where($"x".between(100, 160) && $"y".between(200, 260))
      .select(input_file_name()).distinct().count()
    plainFiles shouldBe 16L
    withClue(s"z=$zRows plain=$plainRows: ") { zRows should be <= plainRows }
  }

  test("PQ: ADC shortlist + exact rerank recovers exact neighbors with high recall") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val books = PqAnn.trainOn(emb, dim = 64, m = 8, k = 256)
    val codes = PqAnn.encode(emb, books)
    codes.head.getAs[Array[Byte]]("code").length shouldBe 8
    val q = emb.where(col("vec_id") < 10)
    val exact = Similarity.bruteTopK(q, emb, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val adcOnly = PqAnn.adcTopK(q, codes, books, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val adcRecall = (exact intersect adcOnly).size.toDouble / exact.size
    val reranked = PqAnn.adcTopKReranked(q, codes, emb, books, k = 10, shortlistFactor = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect reranked).size.toDouble / exact.size
    info(s"ADC-only recall=$adcRecall, reranked recall=$recall")
    withClue(s"recall=$recall (adc-only $adcRecall): ") { recall should be >= 0.85 }
  }

  test("compaction collapses a fragmented directory without a shuffle, content preserved") {
    import spark.implicits._
    val base = tempDir("compact-spec")
    val df = spark.range(10000).select(col("id"), (col("id") * 17 % 997).as("v"))
    df.repartition(50).write.parquet(s"$base/small")
    new java.io.File(s"$base/small").listFiles.count(_.getName.endsWith(".parquet")) shouldBe 50
    val frag = spark.read.parquet(s"$base/small")
    val files = graft.ops.Compaction.compact(frag, s"$base/out", targetFileRows = 2500)
    files shouldBe 4
    new java.io.File(s"$base/out").listFiles.count(_.getName.endsWith(".parquet")) shouldBe 4
    // shuffle-free: coalesce plans a narrow dependency (no Exchange)
    frag.coalesce(4).queryExecution.executedPlan.toString should not include "Exchange"
    spark.read.parquet(s"$base/out").agg(sum($"v"), count(lit(1))).head.toSeq shouldBe
      df.agg(sum($"v"), count(lit(1))).head.toSeq
  }

  test("PQ training is deterministic: same seed, same codebooks") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val a = PqAnn.trainOn(emb, dim = 64, m = 4, k = 8)
    val b = PqAnn.trainOn(emb, dim = 64, m = 4, k = 8)
    a.centroids.flatten.flatten.toSeq shouldBe b.centroids.flatten.flatten.toSeq
  }

  test("PQ training's codebooks equal the quadratic k-means++ seeding's, cell for cell") {
    // the k-means++ seeding as first written: every sample's distance to
    // EVERY centre so far, recomputed per new centre, then Lloyd rounds
    def quadraticTrain(sample: Array[Array[Float]], dim: Int, m: Int, k: Int,
        iters: Int, seed: Long): Array[Array[Array[Float]]] = {
      val subDim = dim / m
      val rnd = new scala.util.Random(seed)
      def sq(a: Array[Float], b: Array[Float]): Float = {
        var d = 0f; var j = 0
        while (j < a.length) { val t = a(j) - b(j); d += t * t; j += 1 }
        d
      }
      Array.tabulate(m) { s =>
        val sub = sample.map(v => java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim))
        val cents = scala.collection.mutable.ArrayBuffer(sub(rnd.nextInt(sub.length)))
        while (cents.size < k) {
          val d2 = sub.map(v => cents.map(c => sq(v, c)).min.toDouble)
          val total = d2.sum
          if (total == 0) cents += sub(rnd.nextInt(sub.length))
          else {
            var r = rnd.nextDouble() * total
            var i = 0
            while (i < sub.length - 1 && r > d2(i)) { r -= d2(i); i += 1 }
            cents += sub(i)
          }
        }
        var cur = cents.toArray
        (0 until iters).foreach { _ =>
          val sums = Array.fill(k)(new Array[Double](subDim))
          val counts = new Array[Int](k)
          sub.foreach { v =>
            var best = 0; var bestD = Float.MaxValue; var c = 0
            while (c < k) { val d = sq(v, cur(c)); if (d < bestD) { bestD = d; best = c }; c += 1 }
            counts(best) += 1
            (0 until subDim).foreach(j => sums(best)(j) += v(j))
          }
          cur = Array.tabulate(k) { c =>
            if (counts(c) == 0) cur(c)
            else Array.tabulate(subDim)(j => (sums(c)(j) / counts(c)).toFloat)
          }
        }
        cur
      }
    }
    val rnd = new scala.util.Random(11)
    val spread = Array.fill(600)(Array.fill(16)(rnd.nextFloat() * 2f - 1f))
    // 3 distinct vectors for 8 centres: the seeding runs out of mass and
    // takes its uniform-draw branch
    val few = Array.tabulate(60)(i => spread(i % 3).clone())
    for ((sample, k) <- Seq((spread, 32), (few, 8))) {
      val got = PqAnn.train(sample, dim = 16, m = 4, k = k, iters = 3, seed = 5L).centroids
      val want = quadraticTrain(sample, dim = 16, m = 4, k = k, iters = 3, seed = 5L)
      got.length shouldBe want.length
      for (s <- want.indices; c <- want(s).indices)
        withClue(s"subspace $s centre $c:") {
          java.util.Arrays.equals(got(s)(c), want(s)(c)) shouldBe true
        }
    }
  }

  test("SQ8: per-component round-trip error bounded by half a quantization step") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(50)
    val rows = emb.select($"embedding",
        graft.functions.Sq8EncodeExpr.col($"embedding").as("q8"))
      .select($"embedding", $"q8.code", $"q8.mn", $"q8.sc").collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](0)
      val code = r.getAs[Array[Byte]](1)
      val mn = r.getFloat(2); val sc = r.getFloat(3)
      val step = sc.toDouble / 255.0
      v.indices.foreach { i =>
        val deq = mn + (code(i) & 0xff) * step
        math.abs(deq - v(i)) should be <= (step / 2 + 1e-6)
      }
    }
  }

  test("SQ8: asymmetric distance tracks exact distance; topK recall is high") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.where($"vec_id" < 5)
    val qv = q.where($"vec_id" === 0).select($"embedding").head.getSeq[Float](0).toArray
    // asymmetric vs exact distance on the same rows: within quantization noise
    val both = emb.limit(100).select(
        graft.functions.VectorFunctions.cosineDistance($"embedding", typedlit(qv)).as("exact"),
        graft.functions.Sq8EncodeExpr.col($"embedding").as("q8"))
      .select($"exact", graft.functions.Sq8CosineDistance.col(
        typedlit(qv), $"q8.code", $"q8.mn", $"q8.sc").as("approx"))
      .collect()
    both.foreach(r => math.abs(r.getDouble(0) - r.getDouble(1)) should be < 0.01)
    // shortlist+rerank recovers the exact top-k
    val brute = Similarity.bruteTopK(q, emb, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sq8 = Similarity.sq8TopK(q, emb, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (brute intersect sq8).size.toDouble / brute.size should be >= 0.9
  }
}
