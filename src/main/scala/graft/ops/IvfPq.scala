package graft.ops

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** IVF-PQ: the composed inverted-file + product-quantization index of
  * Jégou et al., "Product Quantization for Nearest Neighbor Search"
  * (TPAMI 2011, §IV "IVFADC") — the standard billion-vector ANN design.
  *
  * Build: a KMeans coarse quantizer assigns every vector to one of
  * `nCells` Voronoi cells (the inverted file); the RESIDUAL
  * (vector − cell centroid) is PQ-encoded with codebooks trained on a
  * driver-side residual sample. Residual encoding is what makes the
  * composition better than either half alone: residuals have far less
  * variance than raw vectors, so the same 8-byte code quantizes them
  * much more finely.
  *
  * Search: each query probes its `nProbe` nearest centroids, the code
  * scan is PRUNED to those cells (`cell IN probed` — an inverted-file
  * read of ≤ nProbe/nCells of the codes, pushed to the parquet scan
  * when codes are cell-partitioned), ADC ranks candidates with one
  * per-(query, cell) lookup table built from the query's residual, and
  * a shortlist of k·shortlistFactor rows joins back to the raw vectors
  * for an exact cosine rerank.
  *
  * Scale shape: centroids + codebooks broadcast (a few KB); the code
  * table is M bytes/vector (32× compression at dim 64, M 8); scan is
  * map-only over probed cells; only queries×k·factor rows touch
  * full-precision math. All vectors are L2-normalized first, so ADC-L2
  * ranking equals cosine ranking and [[Similarity.bruteTopK]] is the
  * exact twin for the recall gate.
  */
object IvfPq {

  /** The driver-resident index artifact: coarse centroids (unit-sphere
    * space) + PQ codebooks over residuals. Broadcast-sized. */
  final case class Index(dim: Int, centers: Array[Array[Float]], books: PqAnn.Codebooks)
      extends Serializable {
    def nCells: Int = centers.length

    private[ops] def sq(a: Array[Float], b: Array[Float]): Float = {
      var d = 0f; var j = 0
      while (j < a.length) { val t = a(j) - b(j); d += t * t; j += 1 }
      d
    }

    def nearestCells(v: Array[Float], nProbe: Int): Array[Int] =
      centers.zipWithIndex.map { case (c, i) => (sq(v, c), i) }
        .sortBy(x => (x._1, x._2)).take(nProbe).map(_._2)

    /** Query-ADAPTIVE cell selection (the multi-probe rule): always the
      * `nProbeMin` nearest cells, then keep widening — up to
      * `nProbeMax` — only while a cell's centroid distance stays
      * within `ratio` × the nearest centroid's. A query deep inside
      * one Voronoi cell probes the minimum; a query near cell
      * boundaries (where fixed-nProbe recall is lost — its true
      * neighbors straddle the boundary) widens automatically. Distance
      * is squared L2 on the unit sphere, so `ratio` compares squared
      * distances. */
    def nearestCellsAdaptive(
        v: Array[Float], nProbeMin: Int, nProbeMax: Int, ratio: Float): Array[Int] = {
      val ds = centers.zipWithIndex.map { case (c, i) => (sq(v, c), i) }
        .sortBy(x => (x._1, x._2))
      val cut = ds(0)._1 * ratio
      ds.take(math.min(nProbeMax, ds.length)).zipWithIndex
        .takeWhile { case ((d, _), rank) => rank < nProbeMin || d <= cut }
        .map(_._1._2)
    }

    def residual(v: Array[Float], cell: Int): Array[Float] = {
      val c = centers(cell)
      Array.tabulate(dim)(j => v(j) - c(j))
    }
  }

  private[ops] def normalize(v: Array[Float]): Array[Float] = {
    var n = 0.0; var j = 0
    while (j < v.length) { n += v(j).toDouble * v(j); j += 1 }
    val nrm = math.sqrt(n)
    if (nrm == 0.0) v else Array.tabulate(v.length)(j => (v(j) / nrm).toFloat)
  }

  private val codeSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("cell", IntegerType, nullable = false),
    StructField("code", BinaryType, nullable = false)))

  /** Builds the index: KMeans coarse quantizer (seeded, few iterations
    * — probe recall depends on nProbe, not a fully converged codebook),
    * PQ codebooks trained on ≤ sampleCap driver-side residuals, then a
    * map-only encode pass producing the (vec_id, cell, code) table —
    * the artifact a 100 TB deployment persists, cell-partitioned. */
  def build(corpus: DataFrame, dim: Int, nCells: Int, m: Int, k: Int,
      sampleCap: Int = 2048, seed: Long = 42L,
      idCol: String = "vec_id", embCol: String = "embedding"): (Index, DataFrame) = {
    val norm = MlAnn.withNormalizedFeatures(corpus, embCol)
    val km = new KMeans().setK(nCells).setSeed(seed).setMaxIter(5)
      .setFeaturesCol("features").setPredictionCol("cell")
      .fit(norm.select("features"))
    val centers = km.clusterCenters.map(_.toArray.map(_.toFloat))
    val assigned = km.transform(norm).select(col(idCol), col(embCol), col("cell"))
    val coarse = Index(dim, centers, null)
    val sample = assigned.orderBy(col(idCol)).limit(sampleCap)
      .select(col(embCol), col("cell")).collect()
      .map(r => coarse.residual(normalize(r.getSeq[Float](0).toArray), r.getInt(1)))
    val index = Index(dim, centers, PqAnn.train(sample, dim, m, k, seed = seed))
    val enc = RowEncoder.encoderFor(codeSchema)
    val (idIdx, embIdx, cellIdx) = (0, 1, 2)
    val codes = assigned.mapPartitions { rows =>
      rows.map { r =>
        val cell = r.getInt(cellIdx)
        val res = index.residual(normalize(r.getSeq[Float](embIdx).toArray), cell)
        Row(r.getLong(idIdx), cell, index.books.encode(res))
      }
    }(enc)
    (index, codes)
  }

  /** Writes the code table cell-partitioned — one parquet directory per
    * inverted-file cell, the at-rest layout of the index. A probe's
    * static `cell IN probed` predicate then prunes at the DIRECTORY
    * level (PartitionFilters in the scan): unprobed cells are never
    * read off disk, not merely filtered post-scan. */
  def persistCodes(codes: DataFrame, path: String): Unit =
    codes.write.partitionBy("cell").mode("overwrite").parquet(path)

  /** Reads a [[persistCodes]] table back in the canonical
    * (vec_id, cell, code) column order (`cell`, the partition column,
    * comes back last otherwise). */
  def loadCodes(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path).select(col("vec_id"), col("cell").cast("int"), col("code"))

  /** Map-only encode of `vectors` against an EXISTING index: each row
    * is assigned its nearest coarse cell and residual-PQ-encoded with
    * the frozen codebooks — no refit, no shuffle, O(|vectors|). This is
    * the incremental-append path (the segment-append pattern
    * `ann_index_incremental` establishes for IVF-Flat, here for the
    * composed index): delta batches become immediately searchable at
    * the cost of quantizer staleness, which the recall gate bounds. */
  def encode(index: Index, vectors: DataFrame,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val bcIx = vectors.sparkSession.sparkContext.broadcast(index)
    val enc = RowEncoder.encoderFor(codeSchema)
    vectors.select(col(idCol), col(embCol)).mapPartitions { rows =>
      val ix = bcIx.value
      rows.map { r =>
        val v = normalize(r.getSeq[Float](1).toArray)
        val cell = ix.nearestCells(v, 1)(0)
        Row(r.getLong(0), cell, ix.books.encode(ix.residual(v, cell)))
      }
    }(enc)
  }

  /** Appends a delta batch's codes to a [[persistCodes]]-partitioned
    * table: new files land INSIDE the existing cell directories
    * (parquet append, partitionBy cell), so probes keep pruning at the
    * directory level with zero rewrite of the existing segments. */
  def appendCodes(index: Index, delta: DataFrame, path: String,
      idCol: String = "vec_id", embCol: String = "embedding"): Unit =
    encode(index, delta, idCol, embCol)
      .write.partitionBy("cell").mode("append").parquet(path)

  /** Persists the COMPLETE index at `root`: the broadcast-sized driver
    * artifact (coarse centroids + PQ codebooks, java-serialized at
    * `root/index.bin` through the Hadoop FS API so any warehouse
    * scheme works) next to the cell-partitioned code table at
    * `root/codes`. This is the full at-rest form a deployment ships
    * between build and serving jobs. */
  def persistIndex(index: Index, codes: DataFrame, root: String): Unit = {
    persistCodes(codes, s"$root/codes")
    val p = new org.apache.hadoop.fs.Path(s"$root/index.bin")
    val fs = p.getFileSystem(codes.sparkSession.sparkContext.hadoopConfiguration)
    val out = new java.io.ObjectOutputStream(fs.create(p, true))
    try out.writeObject(index) finally out.close()
  }

  /** Loads a [[persistIndex]] artifact: (driver index, lazy code table). */
  def loadIndex(spark: org.apache.spark.sql.SparkSession, root: String): (Index, DataFrame) =
    (readIndex(spark, root), loadCodes(spark, s"$root/codes"))

  /** The driver artifact of a [[persistIndex]] root alone — no code
    * table, so no parquet schema read. */
  def readIndex(spark: org.apache.spark.sql.SparkSession, root: String): Index = {
    val p = new org.apache.hadoop.fs.Path(s"$root/index.bin")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = new java.io.ObjectInputStream(fs.open(p))
    try in.readObject().asInstanceOf[Index] finally in.close()
  }

  /** IVF-ADC search with exact rerank — fully distributed in BOTH
    * dimensions. Queries are exploded to (query_id, cell, qv) probe
    * rows (nProbe per query, map-only, centroids broadcast) and
    * equi-joined to the code table on `cell`: Spark broadcasts the
    * probe side for serving-sized batches and shuffle-joins both sides
    * linearly for bulk batches — no driver-side query collect, no
    * per-code-row loop over every query (the r4 design's batch-size
    * envelope). ADC lookup tables are built per partition with rows
    * sorted by (query, cell), so exactly ONE lut is live at a time.
    * The distinct probed cells (≤ nCells ints, one tiny job) prune the
    * code scan statically — directory-level pruning when the codes are
    * [[persistCodes]]-partitioned. Returns (query_id, neighbor_id). */
  /** Metadata-FILTERED IVF-ADC search — the cell-intersected
    * eligible-set probe (the IVF counterpart of
    * [[Hnsw.probeGraphFiltered]]): the predicate arrives as the
    * `eligible` id set, the code table is SEMI-JOINED down to eligible
    * rows BEFORE ADC ranking (ineligible codes never score, so
    * approximation affects recall only, never filter correctness), and
    * the probe width adapts to selectivity — nProbe scales by 1/sel
    * (an eligible row's cell is uncorrelated with the query's nearest
    * cells, so recovering oversample·k eligible candidates needs
    * proportionally more cells), capped at nCells. Below `exactCutoff`
    * selectivity the filtered corpus is already small and the probe
    * degenerates to the exact scan over `corpus` (which the caller
    * passes PRE-FILTERED — the same escape hatch as the HNSW path).
    * Selectivity pricing costs one count job over the eligible scan;
    * the index size comes from `totalHint` when the caller maintains
    * it as a stat, falling back to one codes count. */
  def searchFiltered(queries: DataFrame, index: Index, codes: DataFrame,
      corpus: DataFrame, k: Int, eligible: DataFrame,
      nProbe: Int = 4, shortlistFactor: Int = 8,
      idCol: String = "vec_id", embCol: String = "embedding",
      exactCutoff: Double = 0.05, totalHint: Long = -1L): DataFrame = {
    val elig = eligible.select(col(idCol))
    val matched = elig.count()
    val total = if (totalHint >= 0L) totalHint else codes.count()
    val sel = if (total == 0L) 1.0 else math.min(1.0, matched.toDouble / total)
    if (sel <= exactCutoff)
      // schema aligned with the probe branch: (query_id, neighbor_id)
      Similarity.bruteTopK(queries, corpus, k, idCol, embCol, excludeSelf = false)
        .select(col("query_id"), col("neighbor_id"))
    else {
      val nProbeEff = math.min(index.nCells,
        math.max(nProbe, math.ceil(nProbe / sel).toInt))
      val eligCodes = codes.join(elig.select(col(idCol).as("vec_id")),
        Seq("vec_id"), "left_semi")
      search(queries, index, eligCodes, corpus, k, nProbeEff, shortlistFactor,
        idCol, embCol,
        nProbeMax = math.min(index.nCells, 2 * nProbeEff), adaptRatio = 1.5)
    }
  }

  def search(queries: DataFrame, index: Index, codes: DataFrame, corpus: DataFrame,
      k: Int, nProbe: Int = 4, shortlistFactor: Int = 8,
      idCol: String = "vec_id", embCol: String = "embedding",
      nProbeMax: Int = 0, adaptRatio: Double = 1.5,
      excludeSelf: Boolean = true, keepDistance: Boolean = false): DataFrame = {
    val spark = codes.sparkSession
    val bcIx = spark.sparkContext.broadcast(index)
    val qenc = RowEncoder.encoderFor(StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("cell", IntegerType, nullable = false),
      StructField("qv", ArrayType(FloatType, containsNull = false), nullable = false))))
    // NOT persisted: qcells is read twice (the distinct-cells collect
    // here + the scoring join inside the RETURNED lazy plan), but a
    // per-call PlanCache.persist has no release point before the
    // caller materializes — a long-lived serving session would
    // accumulate one cached probe table per query (the same leak class
    // the r8 advisory flagged on probeGraphFiltered). Recomputing is
    // one extra MAP-ONLY pass over the query side — bounded, and the
    // price of staying memory-flat.
    val qcells =
      queries.select(col(idCol), col(embCol)).mapPartitions { rows =>
        val ix = bcIx.value
        rows.flatMap { r =>
          val qid = r.getLong(0)
          val qv = normalize(r.getSeq[Float](1).toArray)
          // nProbeMax > nProbe turns on query-adaptive widening: nProbe
          // becomes the floor and boundary-straddling queries probe up
          // to nProbeMax cells (see nearestCellsAdaptive)
          val cells =
            if (nProbeMax > nProbe)
              ix.nearestCellsAdaptive(qv, nProbe, nProbeMax, adaptRatio.toFloat)
            else ix.nearestCells(qv, nProbe)
          cells.iterator.map(c => Row(qid, c, qv.toSeq))
        }
      }(qenc)
    // ≤ nCells values regardless of batch size: safe to collect, and a
    // STATIC predicate (unlike the join) reaches the parquet scan
    val probed = qcells.select(col("cell")).distinct().collect().map(_.getInt(0)).sorted
    val enc = RowEncoder.encoderFor(StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("neighbor_id", LongType, nullable = false),
      StructField("adc", FloatType, nullable = false))))
    val joined = codes.where(col("cell").isin(probed.toSeq: _*))
      .join(qcells, "cell")
      .select(col("query_id"), col("cell"), col("qv"), col(idCol), col("code"))
      .sortWithinPartitions(col("query_id"), col("cell")) // local sort: 1 live LUT
    val scored = joined.mapPartitions { rows =>
      val ix = bcIx.value
      var lutQ = -1L; var lutCell = -1; var lut: Array[Array[Float]] = null
      rows.flatMap { r =>
        val qid = r.getLong(0)
        val cell = r.getInt(1)
        val id = r.getLong(3)
        if (excludeSelf && qid == id) Iterator.empty
        else {
          if (qid != lutQ || cell != lutCell) {
            lut = ix.books.lut(ix.residual(r.getSeq[Float](2).toArray, cell))
            lutQ = qid; lutCell = cell
          }
          val code = r.getAs[Array[Byte]](4)
          var d = 0f; var s = 0
          while (s < code.length) { d += lut(s)(code(s) & 0xff); s += 1 }
          Iterator.single(Row(qid, id, d))
        }
      }
    }(enc)
    val w = Window.partitionBy("query_id").orderBy(col("adc").asc, col("neighbor_id").asc)
    val shortlist = scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k * shortlistFactor)
      .select(col("query_id"), col("neighbor_id"))
    // exact cosine rerank: full-precision math touches only the
    // shortlist. No broadcast hint on the query side — Spark broadcasts
    // a serving-sized batch on its own and shuffle-joins a bulk one.
    val cand = shortlist.join(
      corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("c_emb")), "neighbor_id")
    val q = queries.select(col(idCol).as("query_id"), col(embCol).as("q_emb"))
    val w2 = Window.partitionBy("query_id").orderBy(col("distance").asc, col("neighbor_id").asc)
    cand.join(q, "query_id")
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.RoundPortableExpr.r(
          graft.functions.VectorFunctions.cosineDistance(col("c_emb"), col("q_emb")), 4)
          .as("distance"))
      .withColumn("rank", row_number().over(w2)).where(col("rank") <= k)
      // keepDistance serves callers that consume the exact-rerank
      // distance directly (the facade's bulk path); the default 2-col
      // contract is pinned by existing recall-gate consumers
      .select(col("query_id") +: col("neighbor_id") +:
        (if (keepDistance) Seq(col("distance")) else Nil): _*)
  }
}
