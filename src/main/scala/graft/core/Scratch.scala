package graft.core

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The owner of every scratch directory a session's registry runs
  * create: fixture warehouses, per-run outputs and streaming
  * checkpoints live under one root per session, and [[release]]
  * deletes that root when the session is retired
  * (`SparkEntry.releaseSessionCaches`); a JVM shutdown hook deletes
  * what is left. `Iterate`'s checkpoint directory is the one other
  * temp directory: it lives for the whole JVM and has its own hook. */
object Scratch {

  private val roots = mutable.Map[SparkSession, Path]()

  sys.addShutdownHook(roots.synchronized(roots.keys.toList).foreach(release))

  /** A fresh directory named `prefix…` under `session`'s root. */
  def dir(session: SparkSession, prefix: String): String = {
    val root = roots.synchronized(
      roots.getOrElseUpdate(session, Files.createTempDirectory("graft-session")))
    Files.createTempDirectory(root, prefix).toString
  }

  /** Deletes `session`'s root and everything under it. */
  def release(session: SparkSession): Unit =
    roots.synchronized(roots.remove(session))
      .foreach(root => org.apache.commons.io.FileUtils.deleteQuietly(root.toFile))
}
