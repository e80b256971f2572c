package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.VectorSchema
import graft.plans.GvdbRowLevel
import graft.table.VectorTable

/** Keyed upsert over a gvdb table: batch rows REPLACE same-id table
  * rows, new ids insert — the `vdb_upsert` semantics (tombstone-free:
  * a file-group copy-on-write through
  * [[GvdbRowLevel.groupCopyOnWriteMutated]] on every table, indexed or
  * not, so only the part files holding replaced ids rewrite; an
  * all-new batch is a pure append). This is the streaming UPDATE-mode sink's apply
  * (`GvdbStreamingWrite` with `upsert`) and the batch
  * `.option("upsert", "true")` write path.
  *
  * Within a batch, ids are deduplicated first-wins
  * (`dropDuplicates` — micro-batch internal ordering is not defined,
  * the same contract as the insert path). A batch id that was
  * previously DELETED resurrects: its dead raw row's file is a victim
  * (the post-image contract in [[graft.plans.GvdbMergeCommand]]), so
  * the stale tombstone leaves with the file and the new row is
  * visible. */
object GvdbUpsert {

  def apply(spark: SparkSession, root: String, data: DataFrame,
      dimOpt: Option[Int]): Unit = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.core.WriterLock.withLock(fs, root) {
      val shaped = GvdbWrite.shape(data).dropDuplicates(VectorSchema.ID)
      val table = new VectorTable(spark, root, dimOpt.getOrElse(1))
      if (!table.exists) {
        GvdbWrite.insert(spark, root, shaped, overwrite = false, dimOpt)
      } else {
        // touched-first (guide §1.2): ONE pinned batch-side left join
        // classifies every batch row as update-or-insert, under the
        // writer turn taken above (the read and the commit see the same
        // table); untouched victim-file rows ride along inside
        // groupCopyOnWriteMutated
        val E = "__gvdb_exists"
        // eager localCheckpoint, not persist: batch-sized, and the
        // lineage truncation keeps every consumer's plan tiny (see the
        // GvdbMergeCommand classified note)
        val flagged = shaped.join(
            table.df.select(col(VectorSchema.ID), lit(1).as(E)),
            Seq(VectorSchema.ID), "left")
          .localCheckpoint(true)
        val mutated = flagged.drop(E)
        graft.core.PlanDump.dump(mutated, "upsert_result")
        // pre-image = the REPLACED (live-matched) ids, the only rows
        // the ride-along excludes; post-image = every batch id (a dead
        // raw duplicate of an inserted id purges with its file). One
        // bounded collect of those ids drives the commit's key steps.
        val keyCols = flagged.select(when(col(E) === 1, col(VectorSchema.ID)),
          col(VectorSchema.ID), lit(null).cast("string"))
        GvdbRowLevel.groupCopyOnWriteMutated(spark, root, mutated, keyCols,
          GvdbRowLevel.collectKeys(keyCols))
      }
    }
  }
}
