package graft

import java.nio.file.{Files, Path}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs, and the one owner of a
  * spec's temp directories ([[tempDir]]). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  private var tempRoot: Option[Path] = None

  /** A fresh directory named `prefix…` under this suite's temp root,
    * which is deleted with everything under it after the suite (the
    * test-side counterpart of `core.Scratch`). */
  def tempDir(prefix: String): String = {
    val root = synchronized {
      if (tempRoot.isEmpty) tempRoot = Some(Files.createTempDirectory("graft-spec"))
      tempRoot.get
    }
    Files.createTempDirectory(root, prefix).toString
  }

  /** Spark jobs started while `body` runs, counting those `where`
    * accepts (listener events arrive asynchronously: the bus is
    * drained before the count is read). */
  def jobsOf(body: => Unit,
      where: SparkListenerJobStart => Boolean = _ => true): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (where(e)) { jobs.incrementAndGet(); () }
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.ListenerBusDrain(sc)
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally synchronized {
      tempRoot.foreach(r => org.apache.commons.io.FileUtils.deleteQuietly(r.toFile))
      tempRoot = None
    }
}

object SparkSpec {
  lazy val session: SparkSession =
    core.Sessions.local(4, "spark.sql.warehouse.dir" -> "/tmp/graft-test-warehouse")
}
