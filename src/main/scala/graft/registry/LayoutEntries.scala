package graft
package registry

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.RoundPortableExpr
import graft.SparkEntry.t

/** Physical layout: partitioning, bucketing, z-order, compaction and
  * schema evolution (`layout_*`). */
object LayoutEntries {

  /** Unique catalog-table suffix per invocation (Bench runs every entry
    * more than once in one session). */
  private val layoutRunSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  def all: Seq[Entry] = Seq(
    // ---- schema evolution: two parquet generations (v2 adds a
    // `quality` column) unioned by a mergeSchema read — v1 rows surface
    // NULL quality; counts/sums must match the SQL twin computed from
    // the base table ----
    Entry("layout_schema_evolution", (s, dir) => {
      import s.implicits._
      val path = SparkEntry.evolutionLayout(s, dir) {
        val tmp = core.Scratch.dir(s, "graft-evolve")
        val docs = s.read.parquet(t(dir, "documents"))
        docs.select($"doc_id", $"lang").write.parquet(s"$tmp/gen=1")
        docs.select($"doc_id", $"lang",
            ($"n_chars" / lit(1000.0)).as("quality"))
          .write.parquet(s"$tmp/gen=2")
        tmp
      }
      s.read.option("mergeSchema", "true").parquet(path)
        .groupBy($"lang")
        .agg(count(lit(1)).as("cnt"), count($"quality").as("n_scored"),
          RoundPortableExpr.r(coalesce(sum($"quality"), lit(0.0)), 3).as("sum_quality"))
    },
      """SELECT lang, 2 * count(*) AS cnt, count(*) AS n_scored,
        |       round(sum(n_chars / 1000.0), 3) AS sum_quality
        |FROM documents GROUP BY 1""".stripMargin),
    // ---- storage-layout operators: the two layouts that kill recurring
    // shuffles/scans at 100 TB, each proven equal to the plain-layout
    // SQL. Partition pruning: only the matching directory is read
    // (PartitionFilters in the scan). Bucketing: equi-joins on the
    // bucket key read both sides pre-partitioned — no join-side
    // exchange (shuffle-free property asserted in Bucketing/PlanShape
    // specs). ----
    Entry("layout_partitioned_read", (s, dir) => {
      import s.implicits._
      val tmp = core.Scratch.dir(s, "graft-part")
      s.read.parquet(t(dir, "events"))
        .write.mode("overwrite").partitionBy("event_type").parquet(tmp)
      s.read.parquet(tmp)
        .where($"event_type" === "click")
        .agg(count(lit(1)).as("cnt"), RoundPortableExpr.r(sum($"value"), 2).as("sum_value"))
    },
      """SELECT CAST(count(*) AS BIGINT) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events WHERE event_type = 'click'""".stripMargin),
    Entry("layout_bucketed_join", (s, dir) => {
      import s.implicits._
      // Bucketing is a one-time LAYOUT investment amortized over every
      // co-located join that follows (the 100 TB story: pay one shuffle
      // at ingest, never again). Memoize the bucketed tables per source
      // dir so repeated runs measure the shuffle-free join, not the
      // setup; first run still pays the full layout cost.
      val (li, o) = SparkEntry.bucketedLayout(s, dir) {
        val run = layoutRunSeq.incrementAndGet()
        val tmp = core.Scratch.dir(s, "graft-bucket")
        def writeBucketed(df: DataFrame, name: String): String = {
          // external table (explicit path): bucket metadata lives in the
          // in-memory catalog, files in the temp dir — nothing persists
          // into a ./spark-warehouse under the working directory
          df.write.mode("overwrite").bucketBy(8, "k").sortBy("k")
            .option("path", s"$tmp/$name").format("parquet").saveAsTable(name)
          name
        }
        (writeBucketed(s.read.parquet(t(dir, "lineitem"))
          .select($"l_orderkey".as("k"), $"l_quantity"), s"graft_bl_li_$run"),
          writeBucketed(s.read.parquet(t(dir, "orders"))
            .select($"o_orderkey".as("k"), $"o_orderpriority"), s"graft_bl_o_$run"))
      }
      s.table(li).join(s.table(o), Seq("k"))
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("cnt"), RoundPortableExpr.r(sum($"l_quantity"), 0).as("sum_qty"))
    },
      """SELECT o_orderpriority, count(*) AS cnt, round(sum(l_quantity), 0) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin),
    // ---- z-order clustering: lineitem laid out along the Morton curve
    // of (l_partkey, l_suppkey), then a 2-D box scan. Correctness = the
    // plain-table twin; the data-skipping proof (z-layout reads ~an
    // order of magnitude fewer rows past the parquet scan than a
    // row-ordered layout for the same box) is ZOrderSpec. Layout cost
    // paid once per source dir, like the bucketed join. ----
    Entry("layout_zorder", (s, dir) => {
      import s.implicits._
      val path = SparkEntry.zorderLayout(s, dir) {
        val tmp = core.Scratch.dir(s, "graft-zorder")
        ops.ZOrder.writeZOrdered(
          s.read.parquet(t(dir, "lineitem"))
            .select($"l_partkey", $"l_suppkey", $"l_quantity"),
          "l_partkey", "l_suppkey", bits = 15, path = tmp, numFiles = 16)
      }
      s.read.parquet(path)
        .where($"l_partkey".between(100, 300) && $"l_suppkey".between(10, 40))
        .agg(count(lit(1)).as("cnt"), RoundPortableExpr.r(sum($"l_quantity"), 0).as("sum_qty"))
    },
      """SELECT count(*) AS cnt, round(sum(l_quantity), 0) AS sum_qty
        |FROM lineitem
        |WHERE l_partkey BETWEEN 100 AND 300 AND l_suppkey BETWEEN 10 AND 40""".stripMargin),
    Entry("layout_compact", (s, dir) => {
      import s.implicits._
      val path = SparkEntry.compactLayout(s, dir) {
        val tmp = core.Scratch.dir(s, "graft-compact")
        val docs = s.read.parquet(t(dir, "documents"))
        docs.repartition(64).write.parquet(s"$tmp/small") // fragmented ingest
        ops.Compaction.compact(s.read.parquet(s"$tmp/small"), s"$tmp/compacted",
          targetFileRows = 256)
        tmp
      }
      s.read.parquet(s"$path/compacted")
        .agg(count(lit(1)).as("cnt"),
          expr("bit_xor(cast(conv(substring(md5(text), 1, 15), 16, 10) as bigint))")
            .as("content_checksum"))
    },
      """SELECT count(*) AS cnt,
        |       bit_xor(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)) AS content_checksum
        |FROM documents""".stripMargin)
  )
}
