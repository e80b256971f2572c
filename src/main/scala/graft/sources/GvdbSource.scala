package graft.sources

import org.apache.hadoop.fs.Path

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{ArrayType, FloatType, StringType, StructType}

import graft.core.VectorSchema
import graft.table.VectorTable

/** `gvdb` — the vector warehouse as a first-class Spark data source.
  *
  * The reference's surface is "open the database file, run SQL against
  * it" (duckvdb.py:17-45); the Spark-native equivalent of that is a
  * format name, so the warehouse participates in every host-language
  * surface Spark has:
  *
  *  - batch read: `spark.read.format("gvdb").load(root)` — DataSource
  *    V2 ([[GvdbTable]] → [[GvdbBatchScan]]): the merge-on-read view
  *    (base minus tombstones) as a `BatchScan` with column pruning and
  *    HANDLED predicate pushdown, streaming `InternalRow`s with no
  *    external-row conversion;
  *  - batch write: `df.write.format("gvdb").mode(...).save(root)` —
  *    routed through [[VectorTable.insert]]'s dedup anti-join, so all
  *    four `SaveMode`s keep the reference's ON-CONFLICT-DO-NOTHING
  *    contract (duckvdb.py:56-61). Path-based writes stay on this V1
  *    path by capability design (see [[GvdbTable]]);
  *  - SQL DDL: `CREATE TEMPORARY VIEW v USING gvdb OPTIONS (path ...)`
  *    plus `INSERT INTO v ...` (`AppendData` → [[V1Write]] → the same
  *    dedup insert), and full catalog DDL via
  *    [[graft.sources.GvdbCatalog]];
  *  - streaming sink: `ds.writeStream.format("gvdb")...` /
  *    `.toTable("cat.ns.t")` — V2 `STREAMING_WRITE`
  *    ([[GvdbStreamingWrite]]): staged epochs + per-query commit
  *    ledger for exactly-once over the dedup insert;
  *  - streaming sources (V2 `MicroBatchStream`s, see GvdbTableV2
  *    .scala): the insert feed ([[GvdbMicroBatchStream]]) and, with
  *    `readChangeFeed=true`, the snapshot CDC feed
  *    ([[GvdbChangesMicroBatchStream]] — inserts AND deletes).
  *
  * Options: `path` (required), `dim` (embedding dimension; optional —
  * inferred from the existing table, else from the first written row),
  * `versionAsOf` (read a manifest snapshot instead of the live table —
  * Delta-style time travel; such a relation rejects writes).
  */
class DefaultSource
    extends org.apache.spark.sql.connector.catalog.TableProvider
    with RelationProvider
    with CreatableRelationProvider
    with DataSourceRegister {

  override def shortName(): String = "gvdb"

  private def rootOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      throw new IllegalArgumentException("gvdb: 'path' option is required"))

  // ---- DataSource V2 (batch + streaming read, SQL INSERT write,
  // streaming write — see GvdbTableV2.scala / GvdbStreamingWrite
  // .scala). spark.read/readStream/writeStream/temp views resolve
  // through here; the V1 traits below stay live for the one path the
  // engine still routes to V1: DataFrameWriter.save (all four
  // SaveModes — the table advertises V1_BATCH_WRITE, not BATCH_WRITE). ----

  /** The outer schema is fixed by contract (duckvdb.py:32) — nothing to
    * infer, so a missing table is not an error here (writes create). */
  override def inferSchema(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap): StructType =
    VectorSchema.schema

  override def getTable(schema: StructType,
      partitioning: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: java.util.Map[String, String]): org.apache.spark.sql.connector.catalog.Table = {
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(properties)
    val root = Option(opts.get("path")).getOrElse(
      throw new IllegalArgumentException("gvdb: 'path' option is required"))
    // timestampAsOf resolves HERE to a pinned version (the last
    // snapshot committed at or before the timestamp — Delta's rule),
    // so everything downstream is the one versionAsOf code path
    val versionAsOf = Option(opts.get("versionAsOf")).map(_.toInt)
      .orElse(Option(opts.get("timestampAsOf")).map { raw =>
        val ts = parseTsMillis(raw)
        new VectorTable(SparkSession.active, root, 1).versionAt(ts).getOrElse(
          throw new IllegalArgumentException(
            s"gvdb: no snapshot at or before timestampAsOf='$raw'"))
      })
    new GvdbTable(SparkSession.active, root,
      Option(opts.get("dim")).map(_.toInt),
      versionAsOf,
      changeFeed = Option(opts.get("readChangeFeed")).exists(_.toBoolean),
      maxFilesPerTrigger = Option(opts.get("maxFilesPerTrigger")).map(_.toInt))
  }

  /** `timestampAsOf` accepts epoch millis or an ISO-ish timestamp
    * (`2026-08-16 12:00:00[.SSS]` / `2026-08-16T12:00:00Z`). */
  private def parseTsMillis(raw: String): Long =
    if (raw.forall(_.isDigit)) raw.toLong
    else scala.util.Try(java.time.Instant.parse(raw).toEpochMilli).getOrElse(
      java.sql.Timestamp.valueOf(raw.replace('T', ' ')).getTime)

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val root = rootOf(parameters)
    if (!new VectorTable(sqlContext.sparkSession, root, 1).exists)
      throw new AnalysisException(
        errorClass = "PATH_NOT_FOUND", messageParameters = Map("path" -> root))
    new GvdbRelation(sqlContext, root, parameters.get("dim").map(_.toInt),
      parameters.get("versionAsOf").map(_.toInt))
  }

  /** `df.write.format("gvdb")` — all four save modes, over the dedup
    * insert path. Note `SaveMode.Append` therefore means "insert the
    * ids not already present", the reference's insert contract — not a
    * blind file append. */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val root = rootOf(parameters)
    val dimOpt = parameters.get("dim").map(_.toInt)
    val spark = sqlContext.sparkSession
    val exists = new VectorTable(spark, root, 1).exists
    mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new AnalysisException(
          errorClass = "PATH_ALREADY_EXISTS", messageParameters = Map("outputPath" -> root))
      case SaveMode.Ignore if exists => // no-op by contract
      case SaveMode.Overwrite =>
        GvdbWrite.insert(spark, root, data, overwrite = true, dimOpt,
          GvdbWrite.extractOpts(parameters.get))
      case _ => // Append, or first write under ErrorIfExists/Ignore
        GvdbWrite.insert(spark, root, data, overwrite = false, dimOpt,
          GvdbWrite.extractOpts(parameters.get))
    }
    new GvdbRelation(sqlContext, root, dimOpt)
  }

}

/** The merge-on-read table as a DSv1 relation.
  *
  * `buildScan` receives the pruned column set and the translatable
  * predicates from Catalyst and applies BOTH inside the engine's own
  * plan (`VectorTable.df` → where → select), so the parquet scan
  * underneath sees the filters (min/max row-group skipping, column
  * pruning) exactly as a native `spark.read.parquet` would.
  * [[unhandledFilters]] deliberately declares every filter unhandled:
  * Spark re-evaluates them above the scan, so pushdown is pure IO
  * reduction and can never change results (the conservative DSv1
  * contract most production connectors ship with).
  */
class GvdbRelation(@transient override val sqlContext: SQLContext,
    root: String, dimOpt: Option[Int], versionAsOf: Option[Int] = None)
    extends BaseRelation with PrunedFilteredScan with InsertableRelation {

  /** The table root, exposed for the ANN planner rewrite: a bare scan
    * of a LIVE gvdb relation is index-consultable exactly like a bare
    * parquet scan of the same root (AnnRewriteRule.bareScanPath). A
    * version-pinned relation is NOT — the persisted index tracks the
    * live table, not the snapshot. */
  private[graft] def indexableRoot: Option[String] =
    if (versionAsOf.isEmpty) Some(root) else None

  private def spark: SparkSession = sqlContext.sparkSession

  /** The LOGICAL schema — internal sidecar columns (the persisted LSH
    * bucket column) never leak through the format surface. */
  override def schema: StructType = VectorSchema.schema

  override def unhandledFilters(filters: Array[Filter]): Array[Filter] = filters

  /** Real statistics instead of the pessimistic default (which is
    * `spark.sql.defaultSizeInBytes` = "never broadcast"): the summed
    * parquet file lengths of the table directory. Lets Catalyst
    * broadcast a small warehouse in a join against a fact table — the
    * dim-enrichment shape. One FS listing at plan time; tombstones only
    * shrink the live set, so this stays a safe over-estimate. */
  override def sizeInBytes: Long = {
    val p = new org.apache.hadoop.fs.Path(root)
    val hfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!hfs.exists(p)) 0L
    else hfs.listStatus(p).filter(_.getPath.getName.startsWith("part-")).map(_.getLen).sum
  }

  override def buildScan(requiredColumns: Array[String], filters: Array[Filter]): RDD[Row] = {
    val pushable = filters.flatMap(f => GvdbFilters.toColumn(f).map(c => (f, c)))
    val table = new VectorTable(spark, root, dimOpt.getOrElse(1))
    // versionAsOf pins the manifest snapshot (Delta-style time travel):
    // exactly the files + tombstones recorded at snapshot() time
    val view = versionAsOf.map(table.asOf).getOrElse(table.df)
    val base = view.select(schema.fieldNames.map(col).toIndexedSeq: _*)
    val filtered = pushable.foldLeft(base) { case (d, (_, c)) => d.where(c) }
    filtered.select(requiredColumns.map(col).toIndexedSeq: _*).rdd
  }

  /** `INSERT INTO <view> ...` over a `USING gvdb` temp view. A
    * version-pinned relation is immutable history — writes are
    * rejected, matching Delta's versionAsOf contract. */
  override def insert(data: DataFrame, overwrite: Boolean): Unit = {
    require(versionAsOf.isEmpty,
      s"gvdb: cannot write to a versionAsOf=$versionAsOf snapshot (read-only history)")
    GvdbWrite.insert(spark, root, data, overwrite, dimOpt)
  }
}

/** `sources.Filter` → `Column` translation for the pushdown path.
  * Conservative: an untranslatable node anywhere in a tree drops that
  * whole conjunct (it still runs above the scan — see
  * [[GvdbRelation.unhandledFilters]]). */
object GvdbFilters {
  def toColumn(f: Filter): Option[org.apache.spark.sql.Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case Not(child) => toColumn(child).map(!_)
    case And(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
    case Or(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
    // TRUNCATE TABLE arrives as a DELETE with AlwaysTrue
    case _: AlwaysTrue => Some(lit(true))
    case _: AlwaysFalse => Some(lit(false))
    case _ => None
  }
}

/** Shared write path: shape the incoming rows to the table contract,
  * resolve the embedding dimension, route through the dedup insert. */
object GvdbWrite {

  /** dim resolution: existing table rows > explicit option > first
    * incoming row; an explicit option that disagrees with the live rows
    * is rejected (appending vectors of another dimension would break
    * every later k-NN over the table). The table read is ONE row
    * (`head(1)`) — a bounded driver action, run once per batch write
    * (the streaming sink memoizes it across batches). An OVERWRITE
    * never consults the existing table: the old rows are about to be
    * replaced, and pinning their dimension would reject a legitimate
    * reshape (overwriting a dim-2 table with dim-4 vectors). An empty
    * or emptied table has no live row and pins nothing. */
  def resolveDim(spark: SparkSession, root: String, data: DataFrame,
      dimOpt: Option[Int], overwrite: Boolean = false): Option[Int] = {
    val t = new VectorTable(spark, root, 1)
    val stored = if (overwrite || !t.exists) None
      else t.df.select(size(col(VectorSchema.EMBEDDING)).as("d"))
        .head(1).headOption.map(_.getInt(0))
    for (d <- dimOpt; live <- stored) require(d == live,
      s"gvdb: dim option $d disagrees with the table's live rows (dim $live) at $root")
    stored.orElse(dimOpt)
      .orElse(data.select(size(col(VectorSchema.EMBEDDING)).as("d"))
        .head(1).headOption.map(_.getInt(0)))
  }

  /** Columns are matched by NAME (any order, extras dropped) and cast
    * to the contract types — `array<double>` embeddings from plain SQL
    * land as `array<float>`, matching the reference's cast-at-insert
    * (duckvdb.py:104). POSITIONAL matching is a narrow carve-out for
    * the SQL `INSERT INTO t VALUES (...)` shape, whose query columns
    * are synthetic (`col1`...) because ACCEPT_ANY_SCHEMA skips the
    * analyzer's output renaming: it fires only at contract arity when
    * the names are all synthetic `colN` (or none of the contract names
    * appear at all). A frame carrying SOME contract names but not all
    * is always an error — silently crossing e.g. a reordered
    * `(embedding, id, meta)` frame by position would corrupt the
    * table, since the `array<float>` → `string` casts succeed. */
  def shape(raw: DataFrame): DataFrame = {
    val need = VectorSchema.schema.fieldNames
    val missing = need.filterNot(raw.columns.contains)
    val positionalOk = raw.columns.length == need.length &&
      (raw.columns.forall(_.matches("(?i)col\\d+")) ||
        need.forall(n => !raw.columns.contains(n)))
    require(missing.isEmpty || positionalOk,
      s"gvdb write requires columns ${need.mkString(", ")} (or exactly " +
        s"${need.length} positional columns carrying none of those names); " +
        s"missing: ${missing.mkString(", ")}")
    val data = if (missing.isEmpty) raw else raw.toDF(need.toIndexedSeq: _*)
    data.select(
      col(VectorSchema.ID).cast(StringType).as(VectorSchema.ID),
      col(VectorSchema.METADATA).cast(StringType).as(VectorSchema.METADATA),
      // cast target keeps containsNull=true: Catalyst refuses a cast
      // that NARROWS element nullability (array<float> with nullable
      // elements → non-null elements), and the table's pinned read
      // schema re-asserts containsNull=false at scan time anyway
      col(VectorSchema.EMBEDDING).cast(ArrayType(FloatType, containsNull = true))
        .as(VectorSchema.EMBEDDING))
  }

  def insert(spark: SparkSession, root: String, data: DataFrame,
      overwrite: Boolean, dimOpt: Option[Int],
      extracts: Option[GvdbExtracts.Spec] = None): Unit = {
    // one lock spans dim-resolve + create + insert, so the overwrite's
    // drop-and-recreate is a single writer turn (nested mutators
    // reenter)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.core.WriterLock.withLock(fs, root) {
      insertLocked(spark, root, data, overwrite, dimOpt, extracts)
    }
  }

  /** The `extractPaths` / `clusterByExtracts` write options, parsed. */
  def extractOpts(get: String => Option[String]): Option[GvdbExtracts.Spec] =
    get("extractPaths").map { raw =>
      GvdbExtracts.Spec(raw.split(',').map(_.trim).filter(_.nonEmpty).toSeq,
        cluster = get("clusterByExtracts").forall(_.toBoolean))
    }

  private def insertLocked(spark: SparkSession, root: String, data: DataFrame,
      overwrite: Boolean, dimOpt: Option[Int],
      extracts: Option[GvdbExtracts.Spec]): Unit = {
    val shaped = shape(data)
    // sidecar AFTER create (an overwrite's drop() clears it), BEFORE
    // the rows land (every file must carry the columns —
    // setExtractPaths enforces the empty-table precondition)
    def adopt(table: VectorTable): Unit =
      extracts.foreach(s => table.setExtractPaths(s.paths, s.cluster))
    resolveDim(spark, root, shaped, dimOpt, overwrite) match {
      case None => // empty batch into an empty/absent table: just create
        adopt(new VectorTable(spark, root, 1).create(overwrite))
      case Some(dim) =>
        val table = new VectorTable(spark, root, dim)
        table.create(overwrite)
        adopt(table)
        table.insert(shaped)
    }
  }
}

/** Streaming offset of [[GvdbMicroBatchStream]]: an INDEX into the
  * source's persisted seen-files metadata log (FileStreamSource's
  * design) — "all files recorded in log entries 1..index". The offset
  * the engine checkpoints every micro-batch is therefore O(1) bytes
  * regardless of table file count; the file names themselves live in
  * the per-batch log entries beside the checkpoint, written once each
  * when admitted. */
case class GvdbLogOffset(index: Int) extends OffsetV1 {
  override val json: String = s"""{"log": $index}"""
}

/** LEGACY streaming offset (pre-log checkpoints): the full sorted list
  * of data files seen so far, serialized into every offset. Kept only
  * so a checkpoint written by the old source restarts cleanly — the
  * stream folds a legacy offset's files into its seen set and records
  * all progress FROM then on as [[GvdbLogOffset]] log entries. */
case class GvdbSourceOffset(files: Seq[String]) extends OffsetV1 {
  override val json: String = GvdbSourceOffset.filesJson(files)
}

object GvdbSourceOffset {

  /** The shared files-list JSON shape — used by the legacy offset and
    * by the seen-files LOG ENTRIES (one entry per admitted batch). */
  private[sources] def filesJson(files: Seq[String]): String =
    graft.core.JsonFileList.render(files)

  /** Any non-native offset (e.g. the checkpoint log's SerializedOffset
    * after a restart) is re-parsed from its JSON: `{"log": N}` → the
    * log-index offset, a `"files"` list → the legacy offset. */
  def fromAny(o: org.apache.spark.sql.connector.read.streaming.Offset)
      : org.apache.spark.sql.connector.read.streaming.Offset =
    o match {
      case g: GvdbLogOffset => g
      case g: GvdbSourceOffset => g
      case other => parse(other.json)
    }

  private[sources] def parse(json: String)
      : org.apache.spark.sql.connector.read.streaming.Offset =
    """"log"\s*:\s*(\d+)""".r.findFirstMatchIn(json) match {
      case Some(m) => GvdbLogOffset(m.group(1).toInt)
      case None => GvdbSourceOffset(parseFiles(json))
    }

  /** Parses only the CONTENTS of the `"files"` JSON array
    * ([[graft.core.JsonFileList]] — a linear scan, never a
    * backtracking regex: log entries reach 10⁴+ names). */
  private[sources] def parseFiles(json: String): Seq[String] =
    graft.core.JsonFileList.parse(json)
}

/** Offset of the change feed: the latest consumed snapshot version. */
case class GvdbChangesOffset(version: Int) extends OffsetV1 {
  override val json: String = s"""{"version": $version}"""
}


