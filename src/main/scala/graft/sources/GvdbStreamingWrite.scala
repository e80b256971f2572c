package graft.sources

import java.io.{BufferedWriter, OutputStreamWriter}

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.graft.{ConfBox, RowJsonWriter}
import org.apache.spark.sql.types.StructType

/** `ds.writeStream.format("gvdb")` / `.toTable("cat.ns.t")` — the V2
  * `StreamingWrite` behind the `STREAMING_WRITE` capability, replacing
  * the retired DSv1 `Sink` (and its hand-rolled checkpoint-location
  * hashing) with the engine's epoch-commit contract. Exactly-once in
  * two layers, the Delta/Iceberg two-phase shape:
  *
  *  - TASKS stage the micro-batch's rows as JSON-line part files under
  *    `<root>.staging/<queryId>/<epochId>/` (Spark's own
  *    JacksonGenerator via [[RowJsonWriter]] — bit-exact round-trip) —
  *    distributed, append-parallel, never a driver materialization;
  *  - COMMIT (driver, once per epoch, after every task succeeded)
  *    checks the per-query ledger `<root>.sink_commits/<queryId>` and
  *    SKIPS an epoch at or below the committed watermark without
  *    running a job (a batch replayed after a crash between table
  *    write and the engine's own commit-log record); otherwise it
  *    reads the staged files and routes them through
  *    [[GvdbWrite.insert]]'s dedup anti-join, records the epoch
  *    (atomic tmp+rename), and drops the epoch's staging directory.
  *    `queryId` is the STREAMING QUERY id, persisted in the
  *    checkpoint's metadata — stable across restarts of the same
  *    checkpoint, distinct across queries, exactly the scope the old
  *    sink derived by hashing the checkpoint path;
  *  - row-level backstop: even with no ledger record, the insert's id
  *    anti-join makes redelivery a no-op (the reference's ON CONFLICT
  *    contract, duckvdb.py:56-61).
  *
  * Append mode is the native fit (first-wins insert). Complete mode
  * arrives as `truncate()` on the write builder and becomes
  * replace-per-epoch (the result-refresh shape). Update mode is
  * accepted only through the `upsert` write option
  * ([[GvdbUpsertWriteBuilder]] carries the
  * `SupportsStreamingUpdateAsAppend` marker): each epoch applies as a
  * keyed MoR upsert ([[GvdbUpsert]] — batch rows replace same-id rows
  * via file-group CoW, the `vdb_upsert` semantics), with the same
  * epoch-ledger replay skip. Without the option Update is still
  * rejected — mapping updates onto the first-wins APPEND path would
  * silently drop them.
  */
class GvdbStreamingWrite(spark: SparkSession, root: String, dimOpt: Option[Int],
    truncate: Boolean, queryId: String, schema: StructType,
    upsert: Boolean = false)
    extends StreamingWrite {

  private val stagingRoot = new Path(root + ".staging", queryId)
  private val ledgerPath = new Path(root + ".sink_commits", queryId)
  private def fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Staging file names carry (epoch, partition, task attempt), so two
    * speculative attempts never collide and the commit messages name
    * exactly the surviving files — no coordinator needed. */
  override def useCommitCoordinator(): Boolean = false

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new GvdbStreamWriterFactory(stagingRoot.toString, schema,
      new ConfBox(spark.sparkContext.hadoopConfiguration))

  /** Last committed epoch; -1 when none. A torn/unreadable record
    * degrades to "no watermark" (the row-level anti-join backstop),
    * never a parse error. */
  private[graft] def committedEpoch: Long =
    if (!fs.exists(ledgerPath)) -1L
    else {
      val in = fs.open(ledgerPath)
      val txt = try scala.io.Source.fromInputStream(in).mkString finally in.close()
      scala.util.Try(txt.trim.toLong).getOrElse(-1L)
    }

  private def recordEpoch(epochId: Long): Unit = {
    val tmp = new Path(ledgerPath.getParent, ledgerPath.getName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(epochId.toString.getBytes("UTF-8")) finally out.close()
    fs.delete(ledgerPath, false) // rename won't replace; a crash here = no record
    // a false rename leaves no record: fail the epoch commit rather
    // than report it recorded (the replay it causes is a row-level no-op)
    if (!fs.rename(tmp, ledgerPath))
      throw new java.io.IOException(
        s"gvdb sink: could not rename $tmp to $ledgerPath; epoch $epochId is not recorded")
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val epochDir = new Path(stagingRoot, epochId.toString)
    try {
      if (epochId <= committedEpoch) return // replayed epoch: already applied
      val files = messages.collect { case m: GvdbStagedFile if m.path != null => m.path }
      val staged =
        if (files.isEmpty)
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
        else spark.read.schema(schema).json(files.toIndexedSeq: _*)
      // Complete mode (truncate) replays through create(overwrite) →
      // drop(), which deletes root+".staging" — the directory holding
      // THIS batch's lazily-read staged files. Pin the batch in the
      // block manager first (eager localCheckpoint: a bounded
      // micro-batch; a lost executor fails the epoch, which replays)
      // so the insert never re-reads files the drop removed.
      val batch = if (truncate && files.nonEmpty) staged.localCheckpoint(true) else staged
      if (upsert && !truncate && files.nonEmpty)
        GvdbUpsert(spark, root, batch, dimOpt) // keyed replace per epoch
      else GvdbWrite.insert(spark, root, batch, overwrite = truncate, dimOpt)
      recordEpoch(epochId)
    } finally {
      fs.delete(epochDir, true)
      ()
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    fs.delete(new Path(stagingRoot, epochId.toString), true)
    ()
  }
}

/** One staged JSONL file per non-empty task partition (`path` null for
  * an empty one — no file is created). */
case class GvdbStagedFile(path: String, rows: Long) extends WriterCommitMessage

class GvdbStreamWriterFactory(stagingRoot: String, schema: StructType, conf: ConfBox)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new GvdbStreamDataWriter(stagingRoot, schema, conf, partitionId, taskId, epochId)
}

/** Executor-side staging writer: opens its file lazily on the first
  * row (empty partitions stage nothing), serializes each InternalRow
  * as one JSON line. */
class GvdbStreamDataWriter(stagingRoot: String, schema: StructType, conf: ConfBox,
    partitionId: Int, taskId: Long, epochId: Long) extends DataWriter[InternalRow] {

  private val path = new Path(new Path(stagingRoot, epochId.toString),
    f"part-$partitionId%05d-$taskId.json")
  private var jsonWriter: RowJsonWriter = _
  private var rows = 0L

  override def write(record: InternalRow): Unit = {
    if (jsonWriter == null) {
      val out = path.getFileSystem(conf.value).create(path, true)
      jsonWriter = new RowJsonWriter(schema,
        new BufferedWriter(new OutputStreamWriter(out, "UTF-8")))
    }
    jsonWriter.write(record)
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    if (jsonWriter != null) { jsonWriter.close(); jsonWriter = null }
    GvdbStagedFile(if (rows > 0) path.toString else null, rows)
  }

  override def abort(): Unit = {
    if (jsonWriter != null) { jsonWriter.close(); jsonWriter = null }
    path.getFileSystem(conf.value).delete(path, false)
    ()
  }

  override def close(): Unit =
    if (jsonWriter != null) { jsonWriter.close(); jsonWriter = null }
}
