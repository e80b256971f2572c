package graft.core

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped lifecycle registry for persisted mid-plan subtrees.
  *
  * Several operators persist a subtree that feeds two or more consumers
  * inside ONE returned plan (the minhash signature table, the BM25
  * term-frequency table, the duplicated-window table). Those persists
  * are load-bearing — without them the corpus is scanned per consumer —
  * but the op returns a LAZY plan, so it cannot eagerly unpersist the
  * way `Similarity.mmrRerank` does. Left alone, a long-lived session
  * accumulates one cached plan per invocation until the ContextCleaner
  * happens to collect it.
  *
  * This registry makes the lifecycle explicit: ops persist through
  * [[persist]], and the caller that MATERIALIZES the plan (Verify's
  * per-query write, a spec, an application's query loop) calls
  * [[release]] once the action completes. Memoized whole-table
  * artifacts (the components table, stored ANN code tables) deliberately
  * do NOT go through here — they are session-lifetime by design, held
  * in a [[SessionMemo]], and torn down by [[SessionMemo.releaseAll]]
  * on session retirement.
  */
object PlanCache {

  private val transientCaches = mutable.Map[SparkSession, mutable.Buffer[DataFrame]]()
  private val transientRdds =
    mutable.Map[SparkSession, mutable.Buffer[org.apache.spark.rdd.RDD[_]]]()

  /** Persist `df` at MEMORY_AND_DISK and register it for later
    * [[release]] by its owning session. Returns `df`. */
  def persist(df: DataFrame): DataFrame = synchronized {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    transientCaches.getOrElseUpdate(df.sparkSession, mutable.Buffer.empty) += df
    df
  }

  /** Register an already-checkpointed RDD (the FINAL round of an
    * iterative computation, which the returned lazy plan still reads)
    * for release with the session's other transient caches. Release
    * deletes reliable-checkpoint files and drops any blocks
    * ([[Iterate.releaseRdd]]) — callers must release only after every
    * downstream result is materialized. */
  def registerRdd(session: SparkSession, rdd: org.apache.spark.rdd.RDD[_]): Unit =
    synchronized {
      transientRdds.getOrElseUpdate(session, mutable.Buffer.empty) += rdd
    }

  /** Unpersist every transient cache registered under `session`.
    * Non-blocking; safe to call with no registrations.
    *
    * Concurrency contract: releasing while ANOTHER query of the same
    * session is still executing is safe for correctness — Spark
    * recomputes an unpersisted plan fragment from lineage — but may
    * cost that query its cache (and a registered RDD checkpoint, which
    * has no lineage, would fail the straggler). Callers running
    * queries concurrently should give each its own `newSession()`
    * (the `q_concurrency`/`ann_index_probe` pattern) so release scopes
    * cleanly per session. */
  def release(session: SparkSession): Unit = {
    val (caches, rdds) = synchronized {
      (transientCaches.remove(session), transientRdds.remove(session))
    }
    caches.foreach(_.foreach { df =>
      try df.unpersist(blocking = false)
      catch { case _: Throwable => () } // a stopped session has nothing to free
    })
    rdds.foreach(_.foreach(Iterate.releaseRdd))
  }

  /** Number of currently-registered transient caches for `session`. */
  def registered(session: SparkSession): Int = synchronized {
    transientCaches.get(session).map(_.size).getOrElse(0) +
      transientRdds.get(session).map(_.size).getOrElse(0)
  }
}
