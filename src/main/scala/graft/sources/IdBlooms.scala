package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructField, StructType}
import org.apache.spark.util.sketch.BloomFilter

import graft.core.VectorSchema

/** Per-file id Bloom filters — the membership half of the CoW
  * victim-lookup pruning. Footer id min/max
  * ([[GvdbFooters.idStats]]) prunes candidate files when insert
  * batches carry DISJOINT id ranges (monotone keys: batch ordinals,
  * timestamps); under content-hash ids (the reference's UUIDv5
  * contract, utils.py) every file's range spans the whole keyspace
  * and min/max keeps ALL files candidates — a CDC merge against a
  * 100 TB uuid-keyed table would read every file's id column. A
  * per-file Bloom filter answers "may this file hold any touched
  * id?" regardless of layout, at ~1.2 bytes/row (fpp 0.01).
  *
  * Manifest `<root>.blooms`: a parquet directory of rows
  * `(file, len, mtime, bloom)` — `file` is the BARE part-file name
  * (rename-safe, matching the snapshot-manifest convention), and an
  * entry is valid only while (len, mtime) match the live file. Data
  * files are immutable (every rewrite writes new names), so validity
  * never needs revocation: a rewrite's stale entries simply stop
  * matching and are garbage-collected when they outnumber the live
  * set. The manifest is derived state over immutable inputs — losing
  * or deleting it costs re-derivation, never correctness.
  *
  * Lifecycle — STRICTLY LAZY, the manifest is only ever built from
  * scans a lookup already pays: each file-group CoW merge blooms the
  * NON-VICTIM candidate files of its own lookup (the per-file
  * aggregation rides the same cached (id, file) pass that finds the
  * victims — zero extra data reads, and victims are skipped because
  * the caller deletes them moments later). Files written between
  * merges (inserts, replacement appends, compaction output) simply
  * stay unbloomed-conservative until the next lookup reads and blooms
  * them — the same bytes an eager sync would have read, deferred into
  * a pass that runs anyway. The first, eager design measured ~2× on
  * the bench's merge entries (extra read-back + manifest jobs per
  * mutation) for bytes lazy convergence gets free. Probing is a
  * broadcast of the touched ids (CDC batches are small; capped at
  * [[MaxProbeIds]] — a merge touching more ids hits most files
  * anyway) against the manifest rows, distributed over the manifest's
  * own partitions: no bloom ever has to fit on the driver. Stale
  * entries GC when they outnumber live ones ([[gcIfBloated]], counts
  * the lookup already holds).
  *
  * A manifest exists only while it can prune. When a lookup's probe
  * leaves it no valid entry past this commit — none matched a live
  * file, or every one belongs to a victim the caller is about to
  * delete — and the lookup blooms no file, the lookup drops the whole
  * manifest ([[dropUnused]]). [[enabled]] is then false, and later
  * lookups run no probe job until a lookup finds an unbloomed
  * non-victim candidate and starts a new one. A touched-first commit
  * writes its replacement rows as one file per victim, so on a CDC
  * loop the replacement files become the next commits' victims and
  * no new manifest starts.
  *
  * A Bloom false positive only costs a ride-along candidate read; a
  * false negative is impossible, so pruning is sound by construction.
  */
private[graft] object IdBlooms {

  /** Per-probe false-positive rate. A file survives probing when ANY
    * of the n touched ids false-positives, so the FILE-level fp is
    * 1-(1-p)^n ≈ n·p, and the expected ride-along DATA read is
    * n·p·(table rows) — the rate must be sized for the probe BATCH,
    * not the single lookup (p = 0.01 keeps ~87% of untouched files at
    * n = 200, measured before this sizing; even 1e-4 rides along 2%
    * of the corpus at n = 200). 1e-9 — Hudi's bloom-index default,
    * chosen there for the same compounding — costs ~5.4 bytes/row
    * (43 bits), a fraction of the ~36-byte id column it spares, and
    * holds the ride-along at n·1e-9 ≈ 0 for any sane batch. */
  val Fpp = 1e-9

  /** Probe ceiling: the collected-to-driver touched set is bounded
    * (≈ a few MB of ids), and past this width a merge brushes most
    * files anyway — wider merges keep the range probe and the
    * candidate scan, which is what a bulk rewrite wants. File-level
    * fp at the cap is still ≈ 1e-4. */
  val MaxProbeIds = 100000

  private def dir(root: String) = new Path(root + ".blooms")

  private val manifestSchema = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("len", LongType, nullable = false),
    StructField("mtime", LongType, nullable = false),
    StructField("bloom", BinaryType, nullable = false)))

  def enabled(fs: FileSystem, root: String): Boolean = fs.exists(dir(root))

  private def ser(b: BloomFilter): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    b.writeTo(out)
    out.toByteArray
  }

  private def deser(bytes: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(bytes))

  /** Live data files as bare-name → (len, mtime). */
  private def liveStatus(fs: FileSystem, root: String): Map[String, (Long, Long)] = {
    val p = new Path(root)
    if (!fs.exists(p)) Map.empty
    else fs.listStatus(p).iterator
      .filter(_.getPath.getName.startsWith("part-"))
      .map(st => st.getPath.getName -> (st.getLen, st.getModificationTime))
      .toMap
  }

  private def manifest(spark: SparkSession, root: String): DataFrame =
    spark.read.schema(manifestSchema).parquet(dir(root).toString)

  /** Bare names of live files whose manifest entry is current.
    * Column-pruned: the bloom bytes are never read here. */
  def validNames(spark: SparkSession, fs: FileSystem, root: String): Set[String] = {
    if (!enabled(fs, root)) return Set.empty
    val live = liveStatus(fs, root)
    manifest(spark, root).select("file", "len", "mtime").collect().iterator
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .filter { case (n, l, m) => live.get(n).contains((l, m)) }
      .map(_._1).toSet
  }

  /** One manifest pass: (bare names with a current entry, the subset
    * whose bloom says "may hold one of `touched`", TOTAL manifest
    * entries — stale included, the GC signal). Distributed over the
    * manifest partitions with the touched ids broadcast — per-row
    * work is |touched| probes with early exit on first hit. */
  def probeValid(spark: SparkSession, fs: FileSystem, root: String,
      touched: Array[String]): (Set[String], Set[String], Long) = {
    if (!enabled(fs, root) || touched.isEmpty) return (Set.empty, Set.empty, 0L)
    val live = liveStatus(fs, root)
    val bLive = spark.sparkContext.broadcast(live)
    val bTouched = spark.sparkContext.broadcast(touched)
    try {
      val pairs = manifest(spark, root).rdd.mapPartitions { it =>
        val liveM = bLive.value
        val ids = bTouched.value
        it.map { r =>
          val (n, l, m) = (r.getString(0), r.getLong(1), r.getLong(2))
          if (!liveM.get(n).contains((l, m))) (n, false, false)
          else {
            val bloom = deser(r.getAs[Array[Byte]](3))
            (n, true, ids.exists(bloom.mightContainString))
          }
        }
      }.collect()
      (pairs.iterator.collect { case (n, true, _) => n }.toSet,
        pairs.iterator.collect { case (n, true, true) => n }.toSet,
        pairs.length.toLong)
    } finally {
      bLive.destroy(); bTouched.destroy()
    }
  }

  /** Bare names (among the valid entries) whose bloom says "may hold
    * one of `touched`". */
  def probe(spark: SparkSession, fs: FileSystem, root: String,
      touched: Array[String]): Set[String] =
    probeValid(spark, fs, root, touched)._2

  /** Compact the manifest when stale entries (from rewrites/deletes of
    * their files) outnumber live ones — called by the victim lookup
    * with counts it already holds, so the check itself is free and the
    * rewrite touches only the (small) manifest. Caller holds the
    * writer turn. */
  def gcIfBloated(spark: SparkSession, fs: FileSystem, root: String,
      totalEntries: Long, validEntries: Long): Unit = {
    if (!enabled(fs, root) || totalEntries <= 2 * math.max(1L, validEntries)) return
    val live = liveStatus(fs, root)
    val bLive = spark.sparkContext.broadcast(live)
    val keep = manifest(spark, root).filter { r: Row =>
      bLive.value.get(r.getString(0)).contains((r.getLong(1), r.getLong(2)))
    }
    val tmp = new Path(root + ".blooms__rewrite")
    try {
      keep.write.mode("overwrite").parquet(tmp.toString)
      fs.delete(dir(root), true)
      if (!fs.rename(tmp, dir(root)))
        throw new java.io.IOException(
          s"gvdb: bloom manifest GC could not rename $tmp to ${dir(root)}")
    } finally bLive.destroy()
  }

  /** Aggregate per-file blooms from an `(id, full file path)` frame
    * and append them to the manifest. The frame is whatever pass the
    * caller is already running over those files (the victim lookup's
    * candidate scan, the post-insert read-back) — this never opens a
    * data file itself. Blooms for the same file merge across
    * partitions executor-side (same name → same sizing from
    * `rowsByName` → merge-compatible), so nothing larger than one
    * bloom per file crosses the wire and the manifest append is a
    * distributed write, not a driver collect. */
  def buildFrom(spark: SparkSession, fs: FileSystem, root: String,
      idFile: DataFrame, rowsByName: Map[String, Long]): Unit = {
    if (rowsByName.isEmpty) return
    val live = liveStatus(fs, root)
    val bRows = spark.sparkContext.broadcast(rowsByName)
    val partial = idFile.rdd.mapPartitions { it =>
      val rows = bRows.value
      val acc = mutable.HashMap[String, BloomFilter]()
      it.foreach { r =>
        val name = new Path(r.getString(1)).getName
        if (rows.contains(name)) {
          val b = acc.getOrElseUpdate(name,
            BloomFilter.create(math.max(64L, rows(name)), Fpp))
          b.putString(r.getString(0)); ()
        }
      }
      acc.iterator.map { case (n, b) => (n, ser(b)) }
    }
    val merged = partial.reduceByKey { (a, b) =>
      val x = deser(a); x.mergeInPlace(deser(b)); ser(x)
    }
    val entries = merged.flatMap { case (n, bytes) =>
      // len/mtime resolved on executors from the broadcast-free merged
      // pairs would race a concurrent rewrite; the listing was taken
      // under the caller's writer turn, so pin it here
      live.get(n).map { case (l, m) => Row(n, l, m, bytes) }
    }
    spark.createDataFrame(entries, manifestSchema)
      .write.mode("append").parquet(dir(root).toString)
  }

  /** Drops a manifest that holds no entry a later lookup could use,
    * under the writer lock: derived state, so losing it only costs
    * re-derivation. */
  def dropUnused(fs: FileSystem, root: String): Unit =
    graft.core.WriterLock.withLock(fs, root)(drop(fs, root))

  def drop(fs: FileSystem, root: String): Unit = {
    fs.delete(dir(root), true)
    ()
  }
}
