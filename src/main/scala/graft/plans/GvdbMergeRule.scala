package graft.plans

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftBridge

import graft.core.VectorSchema
import graft.sources.GvdbTable
import graft.table.VectorTable

/** Row-level SQL for gvdb tables — `MERGE INTO` (the CDC-apply-by-SQL
  * surface: `MERGE INTO cat.ns.t USING changes ON t.id = c.id WHEN
  * MATCHED ...`), `UPDATE ... SET ... WHERE`, and `DELETE FROM` with
  * predicates the source-filter algebra can't express — via analyzer
  * rewrites onto the engine's existing tombstone-delete + dedup-insert
  * machinery (the `vdb_upsert` semantics) instead of Spark's
  * `SupportsRowLevelOperations` plumbing — and with the same
  * granularity a group-based connector would reach: rewrites are
  * FILE-GROUP copy-on-write ([[GvdbRowLevel.groupCopyOnWriteMutated]]),
  * replacing only the part files that hold touched rows. Subquery
  * predicates work
  * throughout (the deferred Column evaluation re-plans them like any
  * Dataset operation).
  *
  * The rule runs in the analyzer's extended-resolution slot. Because
  * the table advertises `ACCEPT_ANY_SCHEMA`, Spark deliberately leaves
  * the whole merge UNRESOLVED for the connector (`skipSchemaResolution`
  * — the contract Delta uses to do its own merge preprocessing), and
  * `CheckAnalysis` would then reject it; this rule claims the
  * [[MergeIntoTable]] once its two child relations are resolved and
  * replaces it with [[GvdbMergeCommand]], deferring EXPRESSION
  * resolution (condition, action conditions, assignment values) to the
  * Dataset operations inside the command — each is wrapped as a
  * `Column` over the target-source join, where the ordinary analyzer
  * resolves it with the t/c alias qualifiers intact. The spec rides in
  * [[GvdbMergeSpec]], a plain holder rather than command fields, so
  * the command node itself carries no (unresolved) expressions.
  * `WHEN NOT MATCHED BY SOURCE` is supported; `UPDATE/INSERT *` star
  * actions are expanded by target-column name here (Spark only expands
  * them for row-level-operation tables).
  */
class GvdbMergeRule(spark: SparkSession) extends Rule[LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case MergeIntoTable(target, source, cond,
        matched, notMatched, notMatchedBySource, withSchemaEvolution)
        if target.resolved && source.resolved && gvdbRoot(target).isDefined =>
      require(!withSchemaEvolution,
        "gvdb tables have a fixed schema; MERGE ... WITH SCHEMA EVOLUTION is not supported")
      GvdbMergeCommand(gvdbRoot(target).get, target, source,
        GvdbMergeSpec(cond,
          expandStars(matched, target, source),
          expandStars(notMatched, target, source),
          expandStars(notMatchedBySource, target, source)))

    // SQL UPDATE — same deferred-resolution lowering as the merge
    case UpdateTable(target, assignments, condition)
        if target.resolved && gvdbRoot(target).isDefined =>
      GvdbUpdateCommand(gvdbRoot(target).get, target,
        GvdbUpdateSpec(assignments, condition))

    // SQL DELETE whose predicate the source-filter algebra can't
    // express: SupportsDelete's metadata path would reject it, so
    // lower to the Column-evaluated tombstone delete instead.
    // Translatable predicates are left alone — the engine's
    // canDeleteWhere/deleteWhere path answers them from metadata.
    case DeleteFromTable(target, condition)
        if target.resolved && condition.resolved && gvdbRoot(target).isDefined &&
          !fullyTranslatable(condition) =>
      GvdbDeleteCommand(gvdbRoot(target).get, target, GvdbDeleteSpec(condition))
  }

  /** True when every conjunct of `cond` translates to a
    * `sources.Filter` — the SupportsDelete acceptance test, asked the
    * same way the engine asks it. */
  private def fullyTranslatable(cond: Expression): Boolean =
    splitConjunctivePredicates(cond).forall(e => GraftBridge.translateFilter(e).isDefined)

  /** The live table root, when the merge target is a writable gvdb
    * relation (a version-pinned snapshot or change feed has no
    * indexableRoot and falls through to Spark's own rejection). */
  private def gvdbRoot(plan: LogicalPlan): Option[String] = plan match {
    case s: SubqueryAlias => gvdbRoot(s.child)
    case r: DataSourceV2Relation => r.table match {
      case t: GvdbTable if t.indexableRoot.isDefined => Some(t.dataRoot)
      case _ => None
    }
    case _ => None
  }

  /** `UPDATE SET *` / `INSERT *` → explicit per-column assignments,
    * target column ← source column of the same name (Spark's own
    * star-expansion contract for merges). */
  private def expandStars(actions: Seq[MergeAction],
      target: LogicalPlan, source: LogicalPlan): Seq[MergeAction] = {
    def byName(ta: Attribute): Expression =
      source.output.find(_.name.equalsIgnoreCase(ta.name)).getOrElse(
        throw new IllegalArgumentException(
          s"MERGE ... *: source has no column '${ta.name}' to match the target's"))
    actions.map {
      case UpdateStarAction(c) =>
        UpdateAction(c, target.output.map(ta => Assignment(ta, byName(ta))), fromStar = true)
      case InsertStarAction(c) =>
        InsertAction(c, target.output.map(ta => Assignment(ta, byName(ta))))
      case other => other
    }
  }
}

/** Plain (non-Expression) holder for the merge spec: keeps the
  * possibly-still-unresolved expressions out of the command's
  * TreeNode-scanned product members, so `CheckAnalysis` sees a
  * resolved leaf command. */
case class GvdbMergeSpec(cond: Expression, matchedActions: Seq[MergeAction],
    notMatchedActions: Seq[MergeAction], notMatchedBySourceActions: Seq[MergeAction])

/** Shared evaluation pieces of the SQL row-level commands (MERGE /
  * UPDATE / DELETE over gvdb tables). */
private[graft] object GvdbRowLevel {

  def keyName(e: Expression): String = e match {
    case a: AttributeReference => a.name
    case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => u.nameParts.last
    case other => other.sql
  }

  /** The assignment value for `field` (target value when unassigned —
    * the partial-UPDATE default). */
  def assignCol(assigns: Seq[Assignment], field: Attribute): Column =
    assigns.collectFirst {
      case Assignment(k, v) if keyName(k).equalsIgnoreCase(field.name) =>
        GraftBridge.column(v)
    }.getOrElse(GraftBridge.column(field))

  /** Cast target with containsNull KEPT true: Catalyst refuses a cast
    * that narrows element nullability, and the insert path's shape()
    * re-asserts the pinned schema anyway. */
  def relaxedType(field: Attribute): org.apache.spark.sql.types.DataType =
    field.dataType match {
      case org.apache.spark.sql.types.ArrayType(et, _) =>
        org.apache.spark.sql.types.ArrayType(et, containsNull = true)
      case dt => dt
    }

  /** Pinned tombstone-table schema — a schema-less parquet read throws
    * on a file-less directory (reachable mid-append: the committer
    * creates the output dir before the job's plan runs). */
  private val tombSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField(VectorSchema.ID,
      org.apache.spark.sql.types.StringType)))

  /** The key bound of a touched-first commit: a key set up to it is
    * collected to the driver and drives the commit from there; a
    * bigger one keeps the distributed gate, probe and scan. A dynamic
    * scope rather than a setting, so a test can run the distributed
    * route on a small fixture (`probeCap.withValue(0) { ... }`). */
  private[graft] val probeCap =
    new scala.util.DynamicVariable[Int](graft.sources.IdBlooms.MaxProbeIds)

  /** The columns of a touched-first key projection, each null where it
    * does not apply: the pre-image id (a target row the command
    * rewrites or deletes), the post-image id (a row it writes) and the
    * matched id (one target id per (target, source) MERGE match). */
  private val KeyCols = Seq("__gvdb_pre", "__gvdb_post", "__gvdb_matched")

  /** The keys of a touched-first commit, collected to the driver ONCE
    * from the command's key projection ([[collectKeys]]). Every later
    * step of the commit — the cardinality gate, the footer-range and
    * Bloom probes, the victim scan, the ride-along filter — reads
    * these arrays instead of running its own Spark action over the
    * pinned frame. */
  private[graft] final case class TouchedKeys(preImage: Array[String],
      postImage: Array[String], matched: Array[String]) {
    def touched: Array[String] = (preImage ++ postImage).distinct

    /** The MERGE cardinality contract (MergeRowsExec / Delta): a target
      * row matched by several source rows would be updated or deleted
      * more than once — under the rewrite, emitted more than once. */
    def requireSingleMatch(): Unit =
      if (matched.length != matched.distinct.length) throw cardinalityViolation
  }

  private[graft] def cardinalityViolation = new IllegalStateException(
    "MERGE_CARDINALITY_VIOLATION: the ON search condition matched a single " +
      "row of the target table with multiple rows of the source; a matched " +
      "row may be updated or deleted at most once")

  /** One bounded collect of a touched-first command's key projection
    * (three nullable string columns in [[KeyCols]] order), taken right
    * after the command's eager checkpoint. None when the projection
    * has more than [[probeCap]] non-null rows. */
  private[graft] def collectKeys(keys: org.apache.spark.sql.DataFrame): Option[TouchedKeys] = {
    val cap = probeCap.value
    // coalesce(1): ONE task pulls rows until the limit, where a plain
    // limit-collect scans one partition first and then re-runs a job
    // over the rest
    val rows = keys.toDF(KeyCols: _*).where(KeyCols.map(col(_).isNotNull).reduce(_ || _))
      .coalesce(1).limit(cap + 1).collect()
    if (rows.length > cap) None
    else {
      def at(i: Int) = rows.flatMap(r => Option(r.getString(i)))
      Some(TouchedKeys(at(0), at(1), at(2)))
    }
  }

  private def keyColumn(keys: org.apache.spark.sql.DataFrame, i: Int) =
    keys.toDF(KeyCols: _*).select(col(KeyCols(i)).as(VectorSchema.ID))
      .where(col(VectorSchema.ID).isNotNull)

  /** The pre-image ids of a key projection, on the cluster. */
  private def preImageOf(keys: org.apache.spark.sql.DataFrame) = keyColumn(keys, 0)

  /** The touched ids (pre-image ∪ post-image) of a key projection, on
    * the cluster. */
  private def touchedOf(keys: org.apache.spark.sql.DataFrame) =
    preImageOf(keys).union(keyColumn(keys, 1))

  /** Whether any id of `sorted` (ascending in Spark's binary string
    * order) lies in [lo, hi] — the footer-range probe on the driver.
    * Parquet min/max statistics and Spark's string comparison are both
    * unsigned-byte UTF-8 order, which `String.compareTo` (UTF-16 code
    * units) is not past the BMP. */
  private def anyInRange(sorted: Array[org.apache.spark.unsafe.types.UTF8String],
      lo: String, hi: String): Boolean = {
    val l = org.apache.spark.unsafe.types.UTF8String.fromString(lo)
    val i = java.util.Arrays.binarySearch(sorted.asInstanceOf[Array[AnyRef]], l)
    val at = if (i >= 0) i else -i - 1
    at < sorted.length &&
      sorted(at).compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(hi)) <= 0
  }

  /** A driver-held id set as a row predicate: membership in a
    * `SparkContext.broadcast` set, evaluated inside the scan's own
    * stage. Shipping it runs no Spark job and plans no exchange or
    * adaptive stage, where a broadcast JOIN of a local relation of the
    * same ids runs one job to build it (Spark 4.1.2's
    * `LocalTableScanExec` has no driver-side `executeCollectIterator`).
    * A UDF, so the predicate stays opaque to source pushdown: a literal
    * `id IN (...)` list of ~78k keys took 33–39 s to plan. The command
    * that made the set closes it when it ends. */
  private[graft] final class IdSet(spark: SparkSession, ids: Iterable[String])
      extends AutoCloseable {
    private val set = spark.sparkContext.broadcast(ids.iterator.filter(_ != null).toSet)

    /** True where `id` is in the set; false for a null id (the
      * semi- and anti-join semantics it replaces). */
    def contains(id: Column): Column = {
      val b = set
      udf((s: String) => s != null && b.value.contains(s)).apply(id)
    }

    override def close(): Unit = set.destroy()
  }

  /** Which part files hold any touched id (the CoW victims), and a
    * lazy frame of the ids those files carry (read from the victim
    * files themselves, so the caller must consume it BEFORE it deletes
    * them — the append and the tombstone fold both do). Pruned by
    * parquet FOOTER id statistics: only the files whose id [min,max]
    * overlaps a touched id (plus any stat-less file) have their id
    * column READ — a CDC batch against a 100 TB table scans the
    * candidate files, not the table. File ranges are
    * insert-batch-scoped (the dedup insert hash-shuffles within a
    * batch, so each batch's files span that batch's ids only), which
    * is exactly the locality CDC touches have; a false positive only
    * costs a ride-along rewrite, never correctness.
    *
    * This overload takes ids the caller already holds: the range and
    * Bloom probes run on the driver and the victim scan filters by an
    * [[IdSet]] of them. */
  private[graft] def victimLookup(spark: SparkSession, root: String,
      touched: Array[String]): (Array[String], org.apache.spark.sql.DataFrame) =
    lookup(spark, root, Left(touched))

  /** [[victimLookup]] over a frame of touched ids: collected up to
    * [[probeCap]] (no Spark job when it is a local frame) and then
    * driven from the driver; above the cap the range probe is a
    * broadcast join of the per-file stats against `touchedIds` and the
    * victim scan a semi-join against it — the caller pins
    * `touchedIds` (localCheckpoint), since both read it. */
  private[graft] def victimLookup(spark: SparkSession, root: String,
      touchedIds: org.apache.spark.sql.DataFrame)
      : (Array[String], org.apache.spark.sql.DataFrame) = {
    val cap = probeCap.value
    val capped = touchedIds.limit(cap + 1).collect().map(_.getString(0))
    lookup(spark, root, if (capped.length > cap) Right(touchedIds) else Left(capped))
  }

  private def lookup(spark: SparkSession, root: String,
      touched: Either[Array[String], org.apache.spark.sql.DataFrame])
      : (Array[String], org.apache.spark.sql.DataFrame) = {
    val FileCol = "__gvdb_file"
    import spark.implicits._
    val stats = graft.sources.GvdbFooters.idStats(spark, root)
    val (known, unknown) = stats.partition(_._3.isDefined)
    val touchedArr = touched.swap.toOption
    val candKnown = touched match {
      case Left(ids) =>
        val sorted = ids.map(org.apache.spark.unsafe.types.UTF8String.fromString).sorted
        known.collect { case (f, _, Some((lo, hi))) if anyInRange(sorted, lo, hi) => f }
      case Right(touchedIds) if known.nonEmpty =>
        val statsDf = known.map { case (f, _, r) => (f, r.get._1, r.get._2) }
          .toDF(FileCol, "__gvdb_lo", "__gvdb_hi")
        touchedIds.join(broadcast(statsDf),
            col(VectorSchema.ID) >= col("__gvdb_lo") &&
              col(VectorSchema.ID) <= col("__gvdb_hi"), "inner")
          .select(FileCol).distinct().collect().map(_.getString(0)).toSeq
      case Right(_) => Seq.empty
    }
    var candidates = candKnown ++ unknown.map(_._1)
    // Bloom pruning on top of the range probe: under content-hash ids
    // (UUIDv5) every file's range spans the keyspace and min/max keeps
    // the whole table candidate — the per-file id blooms
    // ([[graft.sources.IdBlooms]]) answer membership regardless of
    // layout. Only a set under the probe cap is probed (a bigger merge
    // brushes most files anyway); files with a valid bloom entry and no
    // maybe-hit drop out, files without an entry stay conservative
    // candidates.
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val probed = touchedArr.exists(_.nonEmpty) && graft.sources.IdBlooms.enabled(fs, root)
    // one manifest pass yields validity, hits AND the GC signal;
    // `bloomValid` is reused below for the lazy build's missing-set
    val (bloomValid, bloomHits, bloomTotal) =
      if (probed) graft.sources.IdBlooms.probeValid(spark, fs, root, touchedArr.get)
      else (Set.empty[String], Set.empty[String], 0L)
    def name(p: String) = new org.apache.hadoop.fs.Path(p).getName
    if (bloomValid.nonEmpty)
      candidates = candidates.filter(p => !bloomValid(name(p)) || bloomHits(name(p)))
    // RAW id→file rows OVER THE CANDIDATES (dead rows included: a
    // victim file's tombstoned ids must leave the tombstone table when
    // the file goes). Cached only when the lazy bloom build below will
    // aggregate it: some candidate under a probed set has no bloom.
    val bloomBuild = touchedArr.isDefined && candidates.exists(p => !bloomValid(name(p)))
    val idToFile =
      if (candidates.isEmpty) None
      else {
        val scan = spark.read.schema(VectorSchema.schema).parquet(candidates: _*)
          .select(col(VectorSchema.ID), input_file_name().as(FileCol))
        Some(if (bloomBuild)
          scan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) else scan)
      }
    // the victim scan keeps the rows of touched ids: under the cap an
    // IdSet predicate over the collected set (no job to ship it), whose
    // hits — about one per id — dedup on the driver; above it a
    // semi-join against `touchedIds`, deduped on the cluster
    val victims = idToFile match {
      case None => Array.empty[String]
      case Some(scan) => touched match {
        case Left(ids) =>
          val set = new IdSet(spark, ids)
          try scan.where(set.contains(col(VectorSchema.ID))).select(FileCol)
            .collect().map(_.getString(0)).distinct
          finally set.close()
        case Right(touchedIds) =>
          scan.join(touchedIds, Seq(VectorSchema.ID), "left_semi").select(FileCol)
            .distinct().collect().map(_.getString(0))
      }
    }
    // LAZILY extend the bloom manifest from the candidate pass the
    // lookup just paid: bloom the NON-VICTIM candidates that lack an
    // entry (victims are deleted by the caller moments later — a
    // bloom for them is waste and instant GC pressure). The
    // aggregation reads the persisted (id, file) frame, never the
    // data files again; files written later stay
    // unbloomed-conservative until the next lookup reads them anyway.
    val victimNames = victims.iterator.map(name).toSet
    val candNames = candidates.iterator.map(name).toSet
    val rowsByName =
      if (!bloomBuild) Map.empty[String, Long]
      else stats.iterator
        .map { case (p, n, _) => name(p) -> n }
        .filter { case (n, _) => !bloomValid(n) && candNames(n) && !victimNames(n) }
        .toMap
    idToFile.foreach(graft.sources.IdBlooms.buildFrom(spark, fs, root, _, rowsByName))
    // a manifest left with no valid entry once the victims go would
    // cost every later lookup a probe job for nothing: drop it
    if (probed && rowsByName.isEmpty && bloomValid.subsetOf(victimNames))
      graft.sources.IdBlooms.dropUnused(fs, root)
    else if (touchedArr.isDefined)
      graft.sources.IdBlooms.gcIfBloated(spark, fs, root,
        bloomTotal + rowsByName.size, bloomValid.size.toLong + rowsByName.size)
    if (bloomBuild) idToFile.get.unpersist()
    val victimIds =
      if (victims.isEmpty) Seq.empty[String].toDF(VectorSchema.ID)
      else spark.read.schema(VectorSchema.schema).parquet(victims.toSeq: _*)
        .select(VectorSchema.ID)
    (victims, victimIds)
  }

  /** The one rewrite route of MERGE (when it writes rows), UPDATE and
    * upsert: touched-first group copy-on-write (guide §1.2/§3 —
    * evaluate the source↔target join once, feed the rewrite only
    * MUTATED rows). `mutated` carries ONLY the rows the command writes
    * (updated rows post-assignment + deduped inserts), and the
    * untouched rows of victim files ride along by reading the victim
    * files DIRECTLY (raw rows minus tombstoned ids minus the pre-image
    * ids of mutated/deleted target rows). Every updated row's
    * pre-image file is a victim by construction (its id is touched),
    * so "mutated ∪ victim ride-alongs" is exactly the victims' live
    * rows after the command, plus its inserts.
    *
    * `keys` is the command's key projection ([[KeyCols]] order) and
    * `collected` what [[collectKeys]] took from it. With the collected
    * set, the victim lookup reads those ids, the ride-along filters by
    * an [[IdSet]] of the pre-image ids, and the replacement rows — at
    * most [[probeCap]] mutated rows plus the victims' own — are written
    * as one file per victim (one when there is none), so a commit
    * leaves as many files as it retires (Delta's copy-on-write layout).
    * Without it (a projection above the probe cap, or a MERGE whose
    * target is not key-pruned) the touched ids are pinned here from the
    * projection, the ride-along anti-joins its pre-image column, and
    * the append keeps its input partitioning: `mutated` may be
    * table-sized there. The caller holds the writer lock from before
    * its frame was read (a snapshot read outside the writer turn can
    * commit stale rows). Indexed tables take the same route: the LSH
    * bucket column is written with the rows and the active
    * graph/quantizer tier rebuilds after the commit
    * ([[appendAndRetire]]). */
  private[graft] def groupCopyOnWriteMutated(spark: SparkSession, root: String,
      mutated: org.apache.spark.sql.DataFrame,
      keys: org.apache.spark.sql.DataFrame,
      collected: Option[TouchedKeys]): Unit = {
    val hfs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.core.WriterLock.withLock(hfs, root) {
      val (victims, victimIds) = collected match {
        case Some(k) => victimLookup(spark, root, k.touched)
        case None => victimLookup(spark, root,
          touchedOf(keys).distinct()
            .localCheckpoint(true)) // read by the range join and the victim scan
      }
      val preImage = collected.map(k => new IdSet(spark, k.preImage))
      try {
        val replacement =
          if (victims.isEmpty) mutated
          else {
            val raw = spark.read.schema(VectorSchema.schema).parquet(victims.toSeq: _*)
            val tombPath = new org.apache.hadoop.fs.Path(root + ".tombstones")
            val live =
              if (!hfs.exists(tombPath)) raw
              else raw.join(broadcast(spark.read.schema(tombSchema)
                .parquet(tombPath.toString)), Seq(VectorSchema.ID), "left_anti")
            mutated.unionByName(preImage match {
              case Some(set) => live.where(!set.contains(col(VectorSchema.ID)))
              case None => live.join(preImageOf(keys).distinct(), Seq(VectorSchema.ID), "left_anti")
            })
          }
        appendAndRetire(spark, root, hfs, replacement, victims, victimIds,
          outFiles = collected.map(_ => math.max(1, victims.length)))
      } finally preImage.foreach(_.close())
    }
  }

  /** The commit tail of [[groupCopyOnWriteMutated]]: dim gate, the
    * on-disk columns (LSH buckets, extracts), append — as `outFiles`
    * files when given, else one per input partition — tombstone fold,
    * victim deletion, selective snapshot expiry, then the rebuild of
    * an active HNSW / IVF-PQ / BQ tier. A failed fold takes the
    * appended files back out, so the table stays as it was before the
    * commit. */
  private def appendAndRetire(spark: SparkSession, root: String,
      hfs: org.apache.hadoop.fs.FileSystem,
      replacement: org.apache.spark.sql.DataFrame,
      victims: Array[String],
      victimIds: org.apache.spark.sql.DataFrame,
      outFiles: Option[Int]): Unit = {
    val table = new VectorTable(spark, root, 1)
    // the dim gate the insert path applies (a group write bypasses
    // GvdbWrite.insert, but mixed dimensions must still be impossible),
    // under the table's one dimension rule, read with no Spark job
    val stored = graft.sources.GvdbFooters.storedDim(spark, root)
    val checked = stored match {
      case Some(d) => replacement.withColumn(VectorSchema.EMBEDDING,
        when(col(VectorSchema.EMBEDDING).isNull ||
            size(col(VectorSchema.EMBEDDING)) === d, col(VectorSchema.EMBEDDING))
          .otherwise(VectorTable.dimMismatch(d)))
      case None => replacement
    }
    // an empty LSH-indexed table takes its bucket dimension from the
    // rows it receives
    val dim = stored.orElse(table.annIndexMeta.flatMap(_ =>
      replacement.select(size(col(VectorSchema.EMBEDDING))).head(1).headOption.map(_.getInt(0))))
    val onDisk = table.onDiskColumns(checked, dim.getOrElse(table.dim))
    val toAppend = outFiles.fold(onDisk)(onDisk.coalesce)
    graft.core.PlanDump.dump(toAppend, "groupcow_append")
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val tombPath = new org.apache.hadoop.fs.Path(root + ".tombstones")
    val fold = victims.nonEmpty && hfs.exists(tombPath)
    def files() = hfs.listStatus(rootPath).filter(_.isFile).map(_.getPath.getName).toSet
    val before = if (fold) files() else Set.empty[String]
    toAppend.write.mode("append").parquet(root)
    if (victims.nonEmpty) {
      if (fold)
        try foldTombstones(spark, hfs, tombPath, victimIds)
        catch {
          case e: Throwable =>
            (files() -- before).foreach(f =>
              hfs.delete(new org.apache.hadoop.fs.Path(rootPath, f), false))
            throw e
        }
      victims.foreach(f => hfs.delete(new org.apache.hadoop.fs.Path(f), false))
      // data files deleted: ONLY the snapshot manifests referencing a
      // victim expire — a snapshot whose files all survive the group
      // rewrite keeps serving time travel (Delta/Iceberg-style
      // selective expiry, not the vacuum/reindex retention-zero rule,
      // which is for whole-table rewrites where every manifest is dead)
      table.expireSnapshotsReferencing(
        victims.map(f => new org.apache.hadoop.fs.Path(f).getName).toSet)
    }
    // (the replacement files stay unbloomed-conservative until the
    // next victim lookup reads — and then blooms — them)
    table.rebuildIndexTier()
  }

  /** The tombstone fold of a group rewrite: the tombstone table minus
    * the ids the victim files carry (their dead rows leave with the
    * files), read while the victims still exist. Staged BESIDE the
    * table via the table's own FileSystem (the snapshot/index sidecar
    * convention — a driver-local tempdir would break on any non-local
    * Hadoop FS) and swapped in by rename: the old table moves aside
    * first and moves back if the swap fails, so a failure throws with
    * the old tombstones still in place, never with none (every
    * tombstoned row would resurrect). */
  private def foldTombstones(spark: SparkSession, hfs: org.apache.hadoop.fs.FileSystem,
      tombPath: org.apache.hadoop.fs.Path,
      victimIds: org.apache.spark.sql.DataFrame): Unit = {
    val scratch = new org.apache.hadoop.fs.Path(tombPath.toString + "__rewrite")
    val retired = new org.apache.hadoop.fs.Path(tombPath.toString + "__retired")
    try {
      spark.read.schema(tombSchema).parquet(tombPath.toString)
        .join(victimIds, Seq(VectorSchema.ID), "left_anti")
        .write.mode("overwrite").parquet(scratch.toString)
      hfs.delete(retired, true) // a rename onto an existing directory nests inside it
      if (!hfs.rename(tombPath, retired))
        throw new java.io.IOException(s"gvdb: tombstone fold could not move $tombPath aside")
      if (!hfs.rename(scratch, tombPath)) {
        val restored = hfs.rename(retired, tombPath)
        throw new java.io.IOException(s"gvdb: tombstone fold could not rename $scratch " +
          s"to $tombPath" + (if (restored) "" else s"; the tombstones are in $retired"))
      }
      hfs.delete(retired, true)
    } finally {
      hfs.delete(scratch, true)
      ()
    }
  }
}

/** The executed merge. Row classification is one full-outer join of
  * target and source on the merge condition, with presence flags and a
  * first-matching-action CASE — exactly the `MergeRows` semantics,
  * expressed as plain DataFrame operators:
  *
  *  - DELETES-ONLY merges (every action a DELETE) stay merge-on-read:
  *    the matched target ids are tombstoned ([[VectorTable.deleteIds]],
  *    O(matched), no data rewrite) — the cheap CDC-retraction shape;
  *  - merges carrying UPDATE/INSERT actions commit through
  *    [[GvdbRowLevel.groupCopyOnWriteMutated]] on every table, indexed
  *    or not: only the part files holding touched rows are replaced
  *    (Spark's group-based row-level operation at file granularity, so
  *    a CDC batch touching 0.1% of the files rewrites 0.1% of the
  *    table; an insert-only merge is a pure append).
  *
  * A merge whose target can be key-pruned ([[fastPathKey]]) joins a
  * pruned target, pins the classified rows and collects their keys
  * once; any other merge joins the whole target and hands the commit
  * no collected keys (`keys = None`), so its key steps run on the
  * cluster. */
case class GvdbMergeCommand(root: String, targetPlan: LogicalPlan,
    sourcePlan: LogicalPlan, spec: GvdbMergeSpec)
    extends LeafRunnableCommand
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {

  private def matchedActions = spec.matchedActions
  private def notMatchedActions = spec.notMatchedActions
  private def notMatchedBySourceActions = spec.notMatchedBySourceActions

  private val T = "__gvdb_t_present"
  private val S = "__gvdb_s_present"
  private val ACT = "__gvdb_action"
  private val SK = "__gvdb_src_key"
  private val Copy = 0
  private val Discard = -1

  import org.apache.spark.sql.catalyst.expressions.{Cast, EqualTo}

  private def stripCast(e: Expression): Expression = e match {
    case c: Cast => stripCast(c.child)
    case o => o
  }

  /** Whether the target side of the classification join can be
    * key-pruned (guide §1.2/§3: evaluate the id join against the
    * target rows whose id appears among the source keys, not against
    * the whole table). Prunable when (a) there are no NOT MATCHED BY
    * SOURCE actions (those classify every target row), (b) the resolved
    * merge condition carries a conjunct `t.<id> = <expr over source>`,
    * and (c) every INSERT action assigns the id to that same source
    * expression — so an inserted id can never collide with a LIVE row
    * outside the key-pruned candidate set (a target row holding the
    * key would have been MATCHED), keeping the insert-dedup anti-join
    * complete over the restricted join. Returns the resolved source
    * key expression. `fullJoined` is never executed — only analyzed. */
  private def fastPathKey(fullJoined: org.apache.spark.sql.DataFrame,
      idField: Attribute): Option[Expression] = {
    if (notMatchedBySourceActions.nonEmpty) return None
    try {
      val joinNode = fullJoined.queryExecution.analyzed.collectFirst {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
            if j.joinType == org.apache.spark.sql.catalyst.plans.FullOuter => j
      }
      joinNode.flatMap { j =>
        val key = j.condition.toSeq.flatMap(splitConjunctivePredicates).collectFirst {
          case EqualTo(a: AttributeReference, rhs)
              if a.exprId == idField.exprId &&
                rhs.references.subsetOf(j.right.outputSet) && rhs.deterministic => rhs
          case EqualTo(lhs, a: AttributeReference)
              if a.exprId == idField.exprId &&
                lhs.references.subsetOf(j.right.outputSet) && lhs.deterministic => lhs
        }
        key.filter { k =>
          notMatchedActions.forall {
            case InsertAction(_, as) =>
              val assigned = fullJoined
                .select(GvdbRowLevel.assignCol(as, idField))
                .queryExecution.analyzed.collectFirst {
                  case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
                    p.projectList.head match {
                      case al: org.apache.spark.sql.catalyst.expressions.Alias => al.child
                      case e => e
                    }
                }
              assigned.exists(e => stripCast(e).semanticEquals(stripCast(k)))
            case _ => false // non-insert NOT MATCHED action: unpruned
          }
        }
      }
    } catch { case _: Throwable => None } // unresolvable shape: unpruned
  }

  /** One writer turn from the snapshot read through the commit: a
    * MERGE that classified its rows before taking the lock could commit
    * from a stale snapshot — a lost update, or an insert the dedup
    * anti-join never saw collide. The inner mutators reenter. */
  override def run(spark: SparkSession): Seq[Row] =
    graft.core.WriterLock.withLock(new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration), root)(merge(spark))

  private def merge(spark: SparkSession): Seq[Row] = {
    val targetFields = targetPlan.output
    val idField = targetFields.find(_.name == VectorSchema.ID).get
    val tDf = GraftBridge.ofRows(spark, targetPlan)
    val sDf = GraftBridge.ofRows(spark, sourcePlan)
    val fullJoined = tDf.withColumn(T, lit(1))
      .join(sDf.withColumn(S, lit(1)), GraftBridge.column(spec.cond), "full_outer")

    val hasUpdateOrInsert = (matchedActions ++ notMatchedActions ++ notMatchedBySourceActions)
      .exists { case _: DeleteAction => false; case _ => true }

    // Key pruning: the target side of the classification join is
    // pruned down to rows whose id appears among the source keys (at
    // 100 TB: one key-filtered scan instead of a full-table full-outer
    // join), and the classified join is pinned and evaluated ONCE. A
    // merge that needs every target row (NOT MATCHED BY SOURCE), a
    // non-id join condition, or an insert reassigning ids away from
    // the join key joins the whole target instead. Either way the
    // rewrite receives only the MUTATED rows — untouched victim-file
    // rows ride along from the victim files themselves
    // (groupCopyOnWriteMutated).
    val srcKey = fastPathKey(fullJoined, idField)
    // the source keys, held on the driver when they fit under the probe
    // cap: collecting a local source (a temp view of driver rows, a CDC
    // batch) runs no job at all, and neither does shipping the set
    val keySet = srcKey.flatMap { key =>
      val cap = GvdbRowLevel.probeCap.value
      val srcKeys = sDf.select(GraftBridge.column(key).cast("string"))
        .limit(cap + 1).collect().map(_.getString(0))
      if (srcKeys.length > cap) None else Some(new GvdbRowLevel.IdSet(spark, srcKeys))
    }
    try {
      val joined = srcKey match {
        case Some(key) =>
          // the target side keeps the rows whose id is among the source
          // keys: an IdSet predicate over the collected keys, else a
          // semi-join with the distinct keys on the cluster. Source on
          // the LEFT (full outer is symmetric; sides are told apart by
          // the T/S presence columns, never position): on the cluster
          // route the source plan appears twice — once as the join
          // side, once inside the key set — and the analyzer's
          // DeduplicateRelations re-aliases the SECOND occurrence. The
          // key subtree only surfaces the SK alias, so it is the one
          // occurrence whose exprIds may change; the join-side source
          // must keep its original exprIds, which the star-expanded
          // action assignments reference directly.
          val tPruned = keySet match {
            case Some(set) => tDf.where(set.contains(GraftBridge.column(idField)))
            case None => tDf.join(sDf.select(GraftBridge.column(key).as(SK)).distinct(),
              GraftBridge.column(idField) === col(SK), "left_semi")
          }
          sDf.withColumn(S, lit(1))
            .join(tPruned.withColumn(T, lit(1)), GraftBridge.column(spec.cond), "full_outer")
        case _ => fullJoined
      }
      runClassified(spark, joined, srcKey.isDefined, targetFields, idField, hasUpdateOrInsert)
    } finally keySet.foreach(_.close())
  }

  private def runClassified(spark: SparkSession,
      joined: org.apache.spark.sql.DataFrame, pruned: Boolean,
      targetFields: Seq[Attribute], idField: Attribute,
      hasUpdateOrInsert: Boolean): Seq[Row] = {

    // first matching action per row, encoded as a code column:
    // 100+i/200+i/300+i for matched/not-matched/not-matched-by-source
    // action i, 0 = copy the target row, -1 = discard
    def firstAction(actions: Seq[MergeAction], offset: Int, default: Int): Column =
      actions.zipWithIndex.foldRight(lit(default): Column) { case ((a, i), acc) =>
        when(a.condition.map(GraftBridge.column).getOrElse(lit(true)), lit(offset + i))
          .otherwise(acc)
      }
    val act =
      when(col(T).isNotNull && col(S).isNotNull, firstAction(matchedActions, 100, Copy))
        .when(col(T).isNull, firstAction(notMatchedActions, 200, Discard))
        .otherwise(firstAction(notMatchedBySourceActions, 300, Copy))
    val dropCodes: Seq[Int] = Discard +:
      (matchedActions.zipWithIndex.collect { case (_: DeleteAction, i) => 100 + i } ++
        notMatchedBySourceActions.zipWithIndex.collect { case (_: DeleteAction, i) => 300 + i })

    // assignment for `field` under action `code`; an unassigned column
    // keeps its target value (partial UPDATE) — which is NULL on a
    // source-only row, the right INSERT default
    def valueFor(field: Attribute): Column = {
      val branches: Seq[(Int, Column)] =
        matchedActions.zipWithIndex.collect {
          case (UpdateAction(_, as, _), i) => (100 + i, GvdbRowLevel.assignCol(as, field)) } ++
        notMatchedActions.zipWithIndex.collect {
          case (InsertAction(_, as), i) => (200 + i, GvdbRowLevel.assignCol(as, field)) } ++
        notMatchedBySourceActions.zipWithIndex.collect {
          case (UpdateAction(_, as, _), i) => (300 + i, GvdbRowLevel.assignCol(as, field)) }
      branches.foldLeft(GraftBridge.column(field)) { case (acc, (code, v)) =>
        when(col(ACT) === code, v).otherwise(acc)
      }.cast(GvdbRowLevel.relaxedType(field)).as(field.name)
    }

    val updateCodes: Seq[Int] =
      matchedActions.zipWithIndex.collect { case (_: UpdateAction, i) => 100 + i } ++
        notMatchedBySourceActions.zipWithIndex.collect { case (_: UpdateAction, i) => 300 + i }
    val insertCodes: Seq[Int] =
      notMatchedActions.zipWithIndex.collect { case (_: InsertAction, i) => 200 + i }
    val mutatedCodes: Seq[Int] = dropCodes.filter(_ > 0) ++ updateCodes
    def idStr = GraftBridge.column(idField).cast("string")

    // pruned: ONE evaluation of the key-pruned join, pinned with an
    // EAGER localCheckpoint, not persist: the classified set is
    // batch-sized (candidate rows + source), and a checkpoint truncates
    // the lineage to a LogicalRDD leaf — every downstream consumer then
    // plans against a tiny plan, where a persist() would make each of
    // them re-canonicalize the whole join subtree per CacheManager
    // lookup (measured: the driver gap, not the jobs, dominated these
    // entries). Right after it, ONE bounded collect of the narrow
    // (pre-image, post-image, matched) id projection gives the driver
    // every key the commit needs: the cardinality gate, the victim
    // lookup and the ride-along filter run from that set.
    val classified0 = joined.withColumn(ACT, act)
    graft.core.PlanDump.dump(classified0, "merge_classified")
    // an unpruned join is table-sized: never pinned nor collected (a
    // collect's coalesce(1) would run the whole join in one task)
    val classified = if (pruned) classified0.localCheckpoint(true) else classified0
    // the key projection: pre-image = target rows the merge rewrites
    // or deletes (their files must rewrite); post-image = every row it
    // writes (updates and inserts): a RAW dead row sharing a written
    // id — a tombstoned id being re-inserted, or an UPDATE SET id =
    // <dead id> — must be physically purged with its file, or the
    // tombstone that hides it would hide the NEW row too (the MoR
    // anti-join and the footer COUNT(*) arithmetic are id-keyed).
    // Touched = pre ∪ post.
    val keyCols = classified.select(
      when(col(ACT).isin(mutatedCodes.map(Int.box): _*), idStr),
      when(col(ACT).isin((updateCodes ++ insertCodes).map(Int.box): _*),
        valueFor(idField).cast("string")),
      when(col(T).isNotNull && col(S).isNotNull, idStr))
    val keys = if (pruned) GvdbRowLevel.collectKeys(keyCols) else None

    // Cardinality gate (the MergeRowsExec / Delta contract): a target
    // row matched by MULTIPLE source rows would be updated/deleted more
    // than once — or, under our rewrite, emitted more than once — so a
    // merge carrying any WHEN MATCHED clause fails fast instead of
    // silently duplicating ids. From the collected keys when there are
    // any; otherwise an O(matched) shuffle on the id key only, with
    // limit(1) short-circuiting the probe.
    if (matchedActions.nonEmpty) keys match {
      case Some(k) => k.requireSingleMatch()
      case None =>
        val multi = classified.where(col(T).isNotNull && col(S).isNotNull)
          .groupBy(GraftBridge.column(idField)).count()
          .where(col("count") > 1).limit(1).count()
        if (multi > 0) throw GvdbRowLevel.cardinalityViolation
    }

    if (!hasUpdateOrInsert) {
      // pure retraction: tombstone the matched ids, merge-on-read
      new VectorTable(spark, root, 1).deleteIds(
        classified.where(col(ACT).isin(dropCodes.filter(_ > 0).map(Int.box): _*))
          .select(GraftBridge.column(idField).as(VectorSchema.ID)))
      return Seq.empty
    }

    val raw = classified
      .where(!col(ACT).isin(dropCodes.map(Int.box): _*))
      .select((targetFields.map(valueFor) :+ col(T) :+ col(ACT)).toIndexedSeq: _*)
    // Inserted rows (no target side) re-enter the table's first-wins
    // dedup contract here — the group-CoW append bypasses
    // GvdbWrite.insert, so without this a NOT MATCHED INSERT whose id
    // already exists (reachable whenever ON is not id equality) would
    // silently break id uniqueness, and with it the footer COUNT(*)
    // arithmetic and the MoR tombstone anti-join. In-batch first-wins
    // (dropDuplicates) then anti-join against the ids that SURVIVE the
    // merge (not the raw table: an id deleted by this same merge is
    // legitimately re-insertable).
    val survivors = raw.where(col(T).isNotNull)
    val inserted =
      if (notMatchedActions.isEmpty) None
      else Some(raw.where(col(T).isNull)
        .dropDuplicates(VectorSchema.ID)
        .join(survivors.select(col(VectorSchema.ID)), Seq(VectorSchema.ID), "left_anti"))
    // only the MUTATED output rows enter the rewrite; untouched
    // victim-file rows ride along inside groupCopyOnWriteMutated
    val updatesOut = survivors.where(col(ACT).isin(updateCodes.map(Int.box): _*))
    val mutatedOut = inserted.fold(updatesOut)(updatesOut.unionByName(_)).drop(ACT, T)
    GvdbRowLevel.groupCopyOnWriteMutated(spark, root, mutatedOut, keyCols, keys)
    Seq.empty
  }
}

/** Plain holder for the UPDATE spec (see [[GvdbMergeSpec]]). */
case class GvdbUpdateSpec(assignments: Seq[Assignment], condition: Option[Expression])

/** SQL `UPDATE cat.ns.t SET ... WHERE ...` — file-group copy-on-write
  * on every table, indexed or not: the MATCHED rows are evaluated ONCE
  * (pinned), and their assignments plus the untouched rows of victim
  * files re-enter via [[GvdbRowLevel.groupCopyOnWriteMutated]]. */
case class GvdbUpdateCommand(root: String, targetPlan: LogicalPlan,
    spec: GvdbUpdateSpec) extends LeafRunnableCommand {

  /** One writer turn from the snapshot read through the commit (see
    * [[GvdbMergeCommand.run]]). */
  override def run(spark: SparkSession): Seq[Row] =
    graft.core.WriterLock.withLock(new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration), root)(update(spark))

  private def update(spark: SparkSession): Seq[Row] = {
    val t = GraftBridge.ofRows(spark, targetPlan)
    val idField = targetPlan.output.find(_.name == VectorSchema.ID).get
    val condCol = spec.condition.map(GraftBridge.column).getOrElse(lit(true))
    // touched-first: matched rows only, evaluated once and pinned by an
    // eager localCheckpoint (lineage-truncating — see the
    // GvdbMergeCommand classified note), then one bounded collect of
    // their pre/post-image ids drives the commit's key steps
    val matched = t.where(condCol).localCheckpoint(true)
    val fields = targetPlan.output.map { f =>
      GvdbRowLevel.assignCol(spec.assignments, f)
        .cast(GvdbRowLevel.relaxedType(f)).as(f.name)
    }
    val mutated = matched.select(fields.toIndexedSeq: _*)
    graft.core.PlanDump.dump(mutated, "update_result")
    val preId = GraftBridge.column(idField).cast("string")
    val postId = GvdbRowLevel.assignCol(spec.assignments, idField).cast("string")
    // pre-image and post-image ids (see GvdbMergeCommand: an assigned
    // id colliding with a RAW dead row must purge that row's file)
    val keyCols = matched.select(preId, postId, lit(null).cast("string"))
    GvdbRowLevel.groupCopyOnWriteMutated(spark, root, mutated, keyCols,
      GvdbRowLevel.collectKeys(keyCols))
    Seq.empty
  }
}

/** Plain holder for the DELETE spec (see [[GvdbMergeSpec]]). */
case class GvdbDeleteSpec(condition: Expression)

/** SQL `DELETE FROM cat.ns.t WHERE <untranslatable predicate>` — the
  * fallback behind `SupportsDelete`: predicates the source-filter
  * algebra can't express (JSON-path probes, function calls) evaluate
  * over the MoR view and the matching ids are TOMBSTONED
  * ([[VectorTable.appendTombstones]] — still merge-on-read,
  * O(matched), never a rewrite; the facade's `delete(Column)` shape,
  * now reachable from SQL). The matched ids come straight off the
  * target's live view, so the `deleteIds` live-view semi-join guard
  * (needed when a CALLER supplies arbitrary ids) would only re-scan
  * the table to re-prove what the filter already proved — one scan,
  * not two. Translatable predicates never get here — the metadata
  * delete path handles them without reading data rows. */
case class GvdbDeleteCommand(root: String, targetPlan: LogicalPlan,
    spec: GvdbDeleteSpec) extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val idField = targetPlan.output.find(_.name == VectorSchema.ID).get
    val ids = GraftBridge.ofRows(spark, targetPlan)
      .where(GraftBridge.column(spec.condition))
      .select(GraftBridge.column(idField).as(VectorSchema.ID))
    new VectorTable(spark, root, 1).appendTombstones(ids)
    Seq.empty
  }
}
