package graft

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession

/** A local filesystem under its own scheme whose rename of a staged
  * swap directory or file returns false: `*__compacting` (the HNSW
  * graph swap), `*__rewrite` (the tombstone fold and the Bloom-manifest
  * GC), `*__vacuum` (the vacuum data swap), `*__indexing` (the LSH
  * index build's data swap) and `*.tmp` (the sink ledger and the
  * source log). A catalog table whose name ends in one of these fails
  * its rename too. Every other rename (the parquet committer's)
  * succeeds, so writes through it land normally and only the swap
  * fails. */
class SwapRenameFailingFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create(s"${SwapRenameFailingFs.Scheme}:///")
  override def getScheme: String = SwapRenameFailingFs.Scheme
  override def rename(src: Path, dst: Path): Boolean =
    !SwapRenameFailingFs.Staged.exists(src.getName.endsWith) && super.rename(src, dst)
}

object SwapRenameFailingFs {
  val Scheme = "failswap"
  val Staged = Seq("__compacting", "__rewrite", "__vacuum", "__indexing", ".tmp")

  /** `path` (an absolute local path) through the failing filesystem. */
  def on(spark: SparkSession, path: String): String = {
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.$Scheme.impl", classOf[SwapRenameFailingFs].getName)
    s"$Scheme://$path"
  }
}

/** A local filesystem under its own scheme whose delete of an HNSW
  * graph directory (`*.hnsw`, a table's graph; `graph`, a bare one)
  * returns false and deletes nothing. Every other call goes through,
  * so only the delete half of a graph swap fails. */
class GraphDeleteRefusingFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create(s"${GraphDeleteRefusingFs.Scheme}:///")
  override def getScheme: String = GraphDeleteRefusingFs.Scheme
  override def delete(p: Path, recursive: Boolean): Boolean =
    !(p.getName.endsWith(".hnsw") || p.getName == "graph") && super.delete(p, recursive)
}

object GraphDeleteRefusingFs {
  val Scheme = "refusedelete"

  /** `path` (an absolute local path) through the refusing filesystem. */
  def on(spark: SparkSession, path: String): String = {
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.$Scheme.impl", classOf[GraphDeleteRefusingFs].getName)
    s"$Scheme://$path"
  }
}
