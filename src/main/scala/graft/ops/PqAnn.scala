package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Product-quantization ANN (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011): split the D-dim space into M
  * subspaces, vector-quantize each with its own tiny codebook, and
  * search compressed codes with an asymmetric distance computation
  * (ADC) — per query, one lookup table per subspace, then a candidate
  * costs M table lookups instead of D float multiplies.
  *
  * Why this is the 100 TB path: the candidate side stores M bytes per
  * vector instead of 4·D (64-dim float → 8-byte code here, 32×
  * smaller), codes scan sequentially with no shuffle (queries + LUTs
  * broadcast), and codebooks are a few KB trained once on a sample.
  * On L2-normalized vectors ADC-L2 ranking equals cosine ranking
  * (‖a−b‖² = 2·(1−cos) on the unit sphere), so the exact twin for the
  * recall gate is [[Similarity.bruteTopK]].
  *
  * Training is deterministic: seeded k-means++ init + fixed Lloyd
  * rounds on a driver-side sample (document the sample cap — at real
  * scale the sample, not the corpus, bounds training cost).
  */
object PqAnn {

  /** codebooks(m)(c) = centroid c of subspace m, each of length D/M. */
  final case class Codebooks(dim: Int, m: Int, k: Int, centroids: Array[Array[Array[Float]]]) {
    def subDim: Int = dim / m

    def encode(v: Array[Float]): Array[Byte] = {
      val code = new Array[Byte](m)
      var s = 0
      while (s < m) {
        var best = 0
        var bestD = Float.MaxValue
        var c = 0
        while (c < k) {
          val cent = centroids(s)(c)
          var d = 0f
          var j = 0
          while (j < subDim) {
            val diff = v(s * subDim + j) - cent(j)
            d += diff * diff
            j += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        code(s) = best.toByte
        s += 1
      }
      code
    }

    /** ADC lookup table for one query: lut(m)(c) = ‖q_m − centroid‖². */
    def lut(q: Array[Float]): Array[Array[Float]] =
      Array.tabulate(m) { s =>
        Array.tabulate(k) { c =>
          val cent = centroids(s)(c)
          var d = 0f
          var j = 0
          while (j < subDim) {
            val diff = q(s * subDim + j) - cent(j)
            d += diff * diff
            j += 1
          }
          d
        }
      }
  }

  /** Seeded k-means++ init then `iters` Lloyd rounds, per subspace, on
    * the given training sample. Pure driver-side math over ≤ sampleCap
    * vectors — O(sample · k · D) per round, independent of corpus size. */
  def train(sample: Array[Array[Float]], dim: Int, m: Int, k: Int,
      iters: Int = 10, seed: Long = 42L): Codebooks = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val subDim = dim / m
    val rnd = new scala.util.Random(seed)
    def sq(a: Array[Float], b: Array[Float]): Float = {
      var d = 0f; var j = 0
      while (j < a.length) { val t = a(j) - b(j); d += t * t; j += 1 }
      d
    }
    val centroids = Array.tabulate(m) { s =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim))
      // k-means++ seeding; minD(i) is sample i's squared distance to
      // its nearest centre so far, updated against each new centre only
      // (O(k·n) per subspace, not O(k²·n))
      val cents = scala.collection.mutable.ArrayBuffer(sub(rnd.nextInt(sub.length)))
      val minD = Array.fill(sub.length)(Float.PositiveInfinity)
      while (cents.size < k) {
        val newest = cents.last
        var i = 0
        while (i < sub.length) { minD(i) = math.min(minD(i), sq(sub(i), newest)); i += 1 }
        val d2 = minD.map(_.toDouble)
        val total = d2.sum
        if (total == 0) cents += sub(rnd.nextInt(sub.length))
        else {
          var r = rnd.nextDouble() * total
          i = 0
          while (i < sub.length - 1 && r > d2(i)) { r -= d2(i); i += 1 }
          cents += sub(i)
        }
      }
      var cur = cents.toArray
      var it = 0
      while (it < iters) {
        val sums = Array.fill(k)(new Array[Double](subDim))
        val counts = new Array[Int](k)
        sub.foreach { v =>
          var best = 0; var bestD = Float.MaxValue; var c = 0
          while (c < k) { val d = sq(v, cur(c)); if (d < bestD) { bestD = d; best = c }; c += 1 }
          counts(best) += 1
          var j = 0
          while (j < subDim) { sums(best)(j) += v(j); j += 1 }
        }
        cur = Array.tabulate(k) { c =>
          if (counts(c) == 0) cur(c)
          else Array.tabulate(subDim)(j => (sums(c)(j) / counts(c)).toFloat)
        }
        it += 1
      }
      cur
    }
    Codebooks(dim, m, k, centroids)
  }

  /** Trains codebooks on a driver-side sample of the corpus (first
    * `sampleCap` rows by id for determinism). */
  def trainOn(corpus: DataFrame, dim: Int, m: Int, k: Int, sampleCap: Int = 2048,
      idCol: String = "vec_id", embCol: String = "embedding"): Codebooks = {
    val sample = corpus.orderBy(col(idCol)).limit(sampleCap)
      .select(col(embCol)).collect()
      .map(_.getSeq[Float](0).toArray)
    train(sample, dim, m, k)
  }

  /** Map-only encode: (id, code array<byte>). The compressed table is
    * what a 100 TB deployment persists — 4·D/M× smaller than the raw
    * vectors, rebuilt only when codebooks retrain. */
  def encode(corpus: DataFrame, books: Codebooks,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val enc = RowEncoder.encoderFor(StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("code", BinaryType, nullable = false))))
    val idIdx = corpus.schema.fieldIndex(idCol)
    val embIdx = corpus.schema.fieldIndex(embCol)
    corpus.mapPartitions { rows =>
      rows.map { r =>
        Row(r.getLong(idIdx), books.encode(r.getSeq[Float](embIdx).toArray))
      }
    }(enc)
  }

  /** ADC top-k: queries (small, collected + broadcast as LUTs) against
    * the encoded corpus. Scan shape matches [[Similarity.bruteTopK]] —
    * candidates never shuffle, only (queries × k) survivors do — but
    * each candidate costs M byte-indexed lookups. */
  def adcTopK(queries: DataFrame, codes: DataFrame, books: Codebooks, k: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val qRows = queries.select(col(idCol), col(embCol)).collect()
      .map(r => (r.getLong(0), books.lut(r.getSeq[Float](1).toArray)))
    val bc = codes.sparkSession.sparkContext.broadcast(qRows)
    val enc = RowEncoder.encoderFor(StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("neighbor_id", LongType, nullable = false),
      StructField("adc", FloatType, nullable = false))))
    val scored = codes.mapPartitions { rows =>
      val qs = bc.value
      rows.flatMap { r =>
        val id = r.getLong(0)
        val code = r.getAs[Array[Byte]](1)
        qs.iterator.collect { case (qid, lut) if qid != id =>
          var d = 0f
          var s = 0
          while (s < code.length) { d += lut(s)(code(s) & 0xff); s += 1 }
          Row(qid, id, d)
        }
      }
    }(enc)
    val w = Window.partitionBy("query_id").orderBy(col("adc").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"))
  }

  /** ADC shortlist + exact re-rank (the standard PQ search pipeline):
    * the compressed scan generates `k · shortlistFactor` candidates per
    * query, then only those rows join back to the raw vectors for an
    * exact cosine ordering. The expensive full-precision math touches
    * O(queries · k · factor) rows — not the corpus — so the scan stays
    * 32× compressed while recall approaches exact. */
  def adcTopKReranked(queries: DataFrame, codes: DataFrame, corpus: DataFrame,
      books: Codebooks, k: Int, shortlistFactor: Int = 4,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val shortlist = adcTopK(queries, codes, books, k * shortlistFactor, idCol, embCol)
    val cand = shortlist.join(
      corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("c_emb")), "neighbor_id")
    val q = queries.select(col(idCol).as("query_id"), col(embCol).as("q_emb"))
    val w = Window.partitionBy("query_id").orderBy(col("distance").asc, col("neighbor_id").asc)
    cand.join(broadcast(q), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.RoundPortableExpr.r(
          graft.functions.VectorFunctions.cosineDistance(col("c_emb"), col("q_emb")), 4)
          .as("distance"))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"))
  }
}
