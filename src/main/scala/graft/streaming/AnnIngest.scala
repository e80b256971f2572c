package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.ops.{Hnsw, IvfPq, Similarity}

/** Streaming maintenance of the persisted IVF-PQ index — the
  * production shape for keeping a vector index fresh under continuous
  * ingest: each micro-batch of arriving vectors is residual-encoded
  * map-only against the FROZEN coarse centroids and PQ codebooks and
  * parquet-appended into the existing cell directories
  * ([[IvfPq.appendCodes]]) via `foreachBatch`. No refit, no rewrite of
  * existing segments, directory-level pruning intact; delta rows are
  * searchable as soon as their batch commits. Quantizer staleness is
  * the accepted trade, bounded by the probe-recall gate (the reference
  * has no streaming path at all — its insert never even indexes,
  * duckvdb.py:56-61 vs 37-45).
  *
  * Delivery semantics: AvailableNow + checkpoint gives the standard
  * foreachBatch contract — a batch whose job commits is never re-run,
  * and a crash MID-append leaves only uncommitted `_temporary` files
  * (invisible to readers), so retries do not duplicate visible rows.
  * The at-least-once window foreachBatch leaves open (job committed,
  * checkpoint write lost → the SAME batch id is redelivered) is closed
  * by [[onceLedgered]]: every index-mutating batch body runs under a
  * batch-id ledger kept next to the index, so a replayed batch id
  * skips the append instead of doubling segments — the same
  * idempotence move as the `stream_cdc_apply` batchId-keyed writer.
  */
object AnnIngest {

  /** Batch-id ledger guard for index-mutating `foreachBatch` bodies:
    * runs `body` only if `batchId` has no mark in `ledgerDir`, then
    * records the mark (one empty file per applied batch id, beside the
    * index it guards). A redelivered batch id — at-least-once
    * foreachBatch after a failure, or a checkpoint whose commit write
    * was lost — becomes a no-op instead of a duplicate append.
    * Residual window: a crash BETWEEN the append's commit and the mark
    * write replays the body once; closing that needs the mark inside
    * the data commit itself (a txn log), which plain parquet appends
    * don't have — the ledger reduces duplication from "every
    * redelivery" to "crash in that one gap". Returns whether `body`
    * ran. */
  private[graft] def onceLedgered(spark: SparkSession, ledgerDir: String,
      batchId: Long)(body: => Unit): Boolean = {
    val dir = new org.apache.hadoop.fs.Path(ledgerDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mark = new org.apache.hadoop.fs.Path(dir, s"batch-$batchId")
    if (fs.exists(mark)) false
    else {
      body
      fs.mkdirs(dir)
      fs.create(mark, true).close()
      true
    }
  }

  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Streams the embeddings file and appends the 20% delta per
    * micro-batch onto a pre-built base index (pass the memoized
    * `(index, baseCodesPath)` — the per-run contract is the stream +
    * append + probe, not the base build), then gates probe recall of
    * the appended index against brute force over the FULL corpus
    * (floor 0.7, like the batch append twin `ann_ivfpq_incremental` —
    * same measured recall, since the stream commits the same
    * segments). Delta segments land in a per-run directory; searches
    * read base ∪ delta. */
  def runIvfPqAppendAvailableNow(spark: SparkSession, dir: String,
      ix: IvfPq.Index, baseCodesPath: String): DataFrame = {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val root = graft.core.Scratch.dir(spark, "graft-ann-stream")
    val delta = spark.readStream.schema(embSchema)
      .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
      .where(col("vec_id") % 5 === 0)
    val q = delta.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onceLedgered(batch.sparkSession, s"$root/ledger", batchId) {
          IvfPq.appendCodes(ix, batch, s"$root/delta")
        }
        ()
      }
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val codes = IvfPq.loadCodes(spark, baseCodesPath)
      .unionByName(IvfPq.loadCodes(spark, s"$root/delta"))
    val queries = emb.where(col("vec_id") < 10)
    Similarity.meanRecallGate(
      IvfPq.search(queries, ix, codes, emb, k = 10, nProbe = 8, shortlistFactor = 16),
      Similarity.bruteTopK(queries, emb, k = 10), k = 10, floor = 0.7)
  }

  /** Streaming maintenance of a PERSISTED VectorTable index tier
    * through the table layer (the IVF-PQ/BQ twins of the graph tier's
    * stream): the base warehouse arrives with its index built (pass a
    * throwaway COPY — this runner mutates it); each arriving
    * micro-batch goes through `VectorDB.insertEmbedded`, whose insert
    * path appends the batch as index rows (frozen-codebook encode for
    * IVF-PQ, stateless sign codes for BQ — both map-only). INSIDE each
    * committed batch, one of the batch's own vectors is probed back
    * through the indexed facade route and must surface at distance 0 —
    * the immediately-searchable proof, asserted mid-stream rather than
    * after the fact. Post-stream, a 5-query panel mean-recall gates the
    * appended index against the exact facade leg over the full corpus.
    * Returns (query_id, recall_ok, searchable_ok). */
  def runTableTierAppendAvailableNow(spark: SparkSession, dir: String,
      baseWarehouse: String, floor: Double): DataFrame = {
    import spark.implicits._
    val db = new graft.VectorDB(spark, "items", baseWarehouse, "hashing",
      Map("dim" -> "64"), dim = 64)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val ckpt = graft.core.Scratch.dir(spark, "graft-tier-stream")
    val delta = spark.readStream.schema(embSchema)
      .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
      .where(col("vec_id") % 5 === 0)
    @volatile var searchableOk = true
    @volatile var sawBatch = false
    val q = delta.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val rows = batch.select(
          to_json(struct(col("vec_id"), col("label"))).as("metadata"), col("embedding"))
        db.insertEmbedded(rows)
        // immediately-searchable: a row of THIS batch, probed through
        // the indexed route the moment its insert returns
        val probe = batch.orderBy(col("vec_id")).limit(1)
          .select(col("embedding")).collect()
        if (probe.nonEmpty) {
          sawBatch = true
          val qv = probe.head.getSeq[Float](0).toArray
          val hit = db.queryByVector(qv, k = 1).collect()
          searchableOk &&= hit.nonEmpty && hit.head.distance <= 1e-4
        }
        ()
      }
      .option("checkpointLocation", s"$ckpt/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val panel = emb.where(col("vec_id") < 5).select(col("vec_id"), col("embedding"))
      .collect().sortBy(_.getLong(0)).map(_.getSeq[Float](1).toArray)
    // post-stream recall panel overlapped from driver threads (guide
    // §2.6): 10 independent read-only probe jobs — same routes, same
    // per-query results, wall time ≈ the slowest probe instead of the sum
    val recalls = graft.core.Par.run(panel.toSeq.map { qv => () =>
      val (approx, exact) = graft.core.Par.pair(
        db.queryByVector(qv, k = 10).collect().map(_.id).toSet,
        db.queryByVector(qv, k = 10, useIndex = false).collect().map(_.id).toSet)
      (exact intersect approx).size.toDouble / exact.size
    })
    val meanRecall = recalls.sum / recalls.length
    Seq((0L, if (meanRecall >= floor) 1 else 0,
      if (searchableOk && sawBatch) 1 else 0))
      .toDF("query_id", "recall_ok", "searchable_ok")
  }

  /** Streaming maintenance of the persisted HNSW index — same
    * lifecycle as the IVF-PQ runner but for the graph family: the base
    * corpus (80%) is bulk-built once into graph segments
    * ([[Hnsw.buildGraph]]); each arriving micro-batch becomes NEW
    * segments (segOffset keyed by batchId, so replays of a committed
    * batch overwrite nothing and built graphs are never rewritten —
    * the Lucene segment lifecycle under ingest). Probe restores
    * base ∪ delta segments and must recover the brute-force top-k over
    * the FULL corpus: delta rows are searchable as soon as their batch
    * commits, with zero rebuild cost on the base.
    *
    * Each committed batch also runs the Lucene merge-policy trigger
    * ([[Hnsw.compactIfNeeded]]): once `mergeAt` small (≤ `smallMaxRows`
    * rows) segments accumulate, exactly those rebuild into fresh
    * auto-sized graphs — so probe fan-out stays bounded under unbounded
    * ingest instead of growing one segment per micro-batch (the
    * AnnIngestSpec pins the bound over a long append sequence). */
  def runHnswAppendAvailableNow(spark: SparkSession, dir: String,
      smallMaxRows: Long = 2000, mergeAt: Int = 6,
      baseGraph: Option[String] = None): DataFrame = {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val root = graft.core.Scratch.dir(spark, "graft-hnsw-stream")
    // the 80% base segments: copied from a pre-built dir when provided
    // (the stream appends into its own copy — the per-run contract is
    // the micro-batch appends + compaction trigger + probe, and the
    // base build is deterministic), else built here
    baseGraph match {
      case Some(src) =>
        val conf = spark.sparkContext.hadoopConfiguration
        val srcP = new org.apache.hadoop.fs.Path(s"$src/graph")
        val fs = srcP.getFileSystem(conf)
        org.apache.hadoop.fs.FileUtil.copy(fs, srcP, fs,
          new org.apache.hadoop.fs.Path(s"$root/graph"), false, conf)
        ()
      case None =>
        Hnsw.buildGraph(emb.where(col("vec_id") % 5 =!= 0), numSegments = 4)
          .write.mode("overwrite").parquet(s"$root/graph")
    }
    val delta = spark.readStream.schema(embSchema)
      .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
      .where(col("vec_id") % 5 === 0)
    val q = delta.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onceLedgered(batch.sparkSession, s"$root/ledger", batchId) {
          Hnsw.buildGraph(batch, numSegments = 2, segOffset = 4 + batchId.toInt * 2)
            .write.mode("append").parquet(s"$root/graph")
          Hnsw.compactIfNeeded(batch.sparkSession, s"$root/graph",
            maxRows = smallMaxRows, mergeAt = mergeAt)
        }
        ()
      }
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val queries = emb.where(col("vec_id") < 10)
    Similarity.recallGate(
      Hnsw.probeGraph(Hnsw.readGraph(spark, s"$root/graph"), queries, k = 10),
      Similarity.bruteTopK(queries, emb, k = 10), k = 10, floor = 0.9)
  }
}
