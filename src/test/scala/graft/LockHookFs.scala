package graft

import java.util.concurrent.atomic.AtomicReference

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession

/** A local filesystem under its own scheme that runs a one-shot hook
  * just before the next writer-lock marker (`*.lock`) is created — the
  * moment a writer takes its turn. A test arms it with another
  * writer's whole commit to interleave two writers deterministically:
  * the second writer commits exactly before the first one's lock. */
class LockHookFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create(s"${LockHookFs.Scheme}:///")
  override def getScheme: String = LockHookFs.Scheme
  override def create(f: Path, overwrite: Boolean): FSDataOutputStream = {
    if (f.getName.endsWith(".lock")) Option(LockHookFs.hook.getAndSet(null)).foreach(_())
    super.create(f, overwrite)
  }
}

object LockHookFs {
  val Scheme = "lockhook"
  private val hook = new AtomicReference[() => Unit](null)

  /** Runs `body` on its own thread (the writer lock is reentrant per
    * thread) when the next lock marker is created, and waits for it. */
  def beforeNextLock(body: => Unit): Unit = hook.set { () =>
    @volatile var failed: Option[Throwable] = None
    val t = new Thread(() => try body catch { case e: Throwable => failed = Some(e) })
    t.start(); t.join()
    failed.foreach(throw _)
  }

  /** `path` (an absolute local path) through the hooked filesystem. */
  def on(spark: SparkSession, path: String): String = {
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.$Scheme.impl", classOf[LockHookFs].getName)
    s"$Scheme://$path"
  }
}
