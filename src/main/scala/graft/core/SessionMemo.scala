package graft.core

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** A compute-once fixture held per (session, key): the components
  * table, stored ANN code tables, built index warehouses, layout
  * scratch roots. Keyed by session, not key alone: catalog table names
  * and persisted DataFrames are session-scoped artifacts, and a second
  * SparkSession in the same JVM must not inherit handles from a
  * stopped one.
  *
  * Every memo registers itself on construction, so
  * [[SessionMemo.releaseAll]] drops everything a session holds without
  * a hand-kept list, and every read counts toward
  * [[SessionMemo.hits]], so a harness can tell which registry entries
  * consumed a fixture instead of listing them by hand.
  *
  * Values that hold a persisted plan are created with
  * [[SessionMemo.cached]], whose release hook unpersists them;
  * parquet-backed or driver-side values need none. Transient mid-plan
  * persists do not belong here — they go through [[PlanCache]]. */
final class SessionMemo[K, V] private (private val release: Option[V => Unit]) {

  private val held = mutable.Map[(SparkSession, K), V]()

  /** The value for `(session, key)`, built by `build` on first use.
    * The build runs under this memo's lock, so concurrent readers of
    * one memo wait for a single build. Counts a hit for `session`,
    * the read that builds included. */
  def apply(session: SparkSession, key: K)(build: => V): V = {
    SessionMemo.hit(session)
    synchronized(held.getOrElseUpdate((session, key), build))
  }

  /** Drops `(session, key)`, running the release hook on its value. */
  def evict(session: SparkSession, key: K): Unit =
    synchronized(held.remove((session, key))).foreach(v => release.foreach(_(v)))

  /** Number of keys held for `session`. */
  def size(session: SparkSession): Int = synchronized(held.keys.count(_._1 eq session))

  private def releaseSession(session: SparkSession): Unit = {
    val dropped = synchronized {
      held.keys.filter(_._1 eq session).toList.flatMap(held.remove)
    }
    dropped.foreach(v => release.foreach(_(v)))
  }

  SessionMemo.register(this)
}

object SessionMemo {

  private val memos = mutable.Buffer[SessionMemo[_, _]]()
  private val hitCounts = mutable.Map[SparkSession, Long]()

  /** A memo whose values are parquet-backed or driver-side: release
    * only forgets them. */
  def apply[K, V](): SessionMemo[K, V] = new SessionMemo[K, V](None)

  /** A memo whose values hold a persisted plan: `release` unpersists
    * one when its session is released or its key evicted. */
  def cached[K, V](release: V => Unit): SessionMemo[K, V] = new SessionMemo[K, V](Some(release))

  private def register(m: SessionMemo[_, _]): Unit = memos.synchronized { memos += m; () }

  private def all: List[SessionMemo[_, _]] = memos.synchronized(memos.toList)

  private def hit(session: SparkSession): Unit = hitCounts.synchronized {
    hitCounts(session) = hitCounts.getOrElse(session, 0L) + 1
  }

  /** Reads of any memo by `session` since it was last released. */
  def hits(session: SparkSession): Long =
    hitCounts.synchronized(hitCounts.getOrElse(session, 0L))

  /** Keys held for `session` across every memo. */
  def held(session: SparkSession): Int = all.map(_.size(session)).sum

  /** Keys held for `session` by memos whose values hold a persisted
    * plan: each accounts for at most one cached plan. */
  def cachedHeld(session: SparkSession): Int =
    all.filter(_.release.isDefined).map(_.size(session)).sum

  /** Drops every value `session` holds in any memo, unpersisting the
    * cached ones, and resets its hit count. */
  def releaseAll(session: SparkSession): Unit = {
    all.foreach(_.releaseSession(session))
    hitCounts.synchronized { hitCounts.remove(session); () }
  }
}
