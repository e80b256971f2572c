package graft.bench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run: the session, the tracer, and what the timed ops
  * recorded. Workloads call [[timed]] for every op they measure. */
final class Run(val spark: SparkSession, val work: Path, val seed: Long,
    val seconds: Int, val tracer: Tracer) {

  /** Latency samples (ms) of successful ops, by op class. */
  val lat: mutable.Map[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  var attempted = 0
  var failed = 0
  val problems: mutable.ArrayBuffer[String] = mutable.ArrayBuffer[String]()
  /** The run's end-to-end and per-layer values. */
  val e2e: mutable.Map[String, Double] = mutable.LinkedHashMap[String, Double]()
  val layer: mutable.Map[String, Double] = mutable.LinkedHashMap[String, Double]()

  /** Notes on stdout how far into the JVM's life a phase ends. */
  def phase(name: String): Unit =
    println(f"# phase $name ends at ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f s")

  def fail(what: String): Unit = { failed += 1; if (problems.size < 20) problems += what }

  /** Runs one timed op of class `cls`, then checks its answer. A throw
    * or a failed check counts the op as failed and drops its time, so a
    * wrong answer never passes as a fast one. Returns the answer when
    * the op succeeded. */
  def timed[A](cls: String)(body: => A)(check: A => Seq[String]): Option[A] = {
    attempted += 1
    val t0 = System.nanoTime()
    val out = try Right(tracer.op(cls)(body)) catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    out match {
      case Left(e) => fail(s"$cls threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"); None
      case Right(a) =>
        val bad = try check(a) catch { case e: Throwable => Seq(s"check threw $e") }
        if (bad.nonEmpty) { fail(s"$cls: ${bad.mkString("; ")}"); None }
        else { lat.getOrElseUpdate(cls, mutable.ArrayBuffer()) += ms; Some(a) }
    }
  }

  /** An untimed op (set-up, warm-up); a throw aborts the workload. */
  def untimed[A](what: String)(body: => A): A = tracer.op(what)(body)

  def samples(cls: String): Seq[Double] = lat.get(cls).map(_.toSeq).getOrElse(Nil)
  def p(cls: String, q: Double): Double = Stats.pct(samples(cls), q)
  def totalMs(classes: String*): Double = classes.flatMap(samples).sum

  /** Milliseconds the JVM has spent in GC so far. */
  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
}

object Stats {
  /** Percentile by linear interpolation between order statistics. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  /** `a / b`, or 0 when nothing was measured. */
  def ratio(a: Double, b: Double): Double = if (b == 0.0) 0.0 else a / b
}

/** The files a table occupies on disk: its data directory and every
  * sibling sidecar that shares its root path (tombstones, index, meta). */
object TableFiles {
  final case class F(size: Long, mtime: Long)

  def snapshot(root: String): Map[String, F] = {
    val r = Paths.get(root)
    val parent = r.getParent
    val prefix = r.getFileName.toString
    if (!Files.isDirectory(parent)) Map.empty
    else {
      val tops = Files.list(parent).iterator().asScala
        .filter(p => p.getFileName.toString == prefix || p.getFileName.toString.startsWith(prefix + "."))
        .toList
      tops.flatMap { t =>
        if (Files.isDirectory(t)) Files.walk(t).iterator().asScala.filter(Files.isRegularFile(_)).toList
        else List(t)
      }.filterNot(p => p.getFileName.toString.endsWith(".crc"))
        .map(p => p.toString -> F(Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap
    }
  }

  def bytes(s: Map[String, F]): Long = s.valuesIterator.map(_.size).sum

  /** Files that are new or rewritten between two snapshots. */
  def added(before: Map[String, F], after: Map[String, F]): Map[String, F] =
    after.filter { case (p, f) => !before.get(p).contains(f) }

  /** Data (parquet) files of the table's main directory. */
  def dataFiles(s: Map[String, F], root: String): Iterable[String] =
    s.keys.filter(p => p.startsWith(root + "/") && p.endsWith(".parquet"))

  /** What a table's writes put on disk: write count, bytes and files
    * added or rewritten, and rows in the new data files. */
  final class Written {
    var writes = 0; var bytes = 0L; var files = 0L; var rows = 0L
  }

  /** Runs `body`, a write under the table at `root`; when `count`, adds
    * the files it added or rewrote to `into`. */
  def tracked[A](spark: SparkSession, root: String, into: Written, count: Boolean)(body: => A): A = {
    val before = snapshot(root)
    val out = body
    if (count) {
      val added = this.added(before, snapshot(root))
      into.writes += 1
      into.bytes += bytes(added)
      into.files += added.size
      into.rows += rows(spark, dataFiles(added, root))
    }
    out
  }

  /** Rows in parquet files, from their footers. */
  def rows(spark: SparkSession, files: Iterable[String]): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    files.iterator.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(f), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
  }
}
