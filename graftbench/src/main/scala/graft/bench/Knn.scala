package graft.bench

import scala.collection.mutable

import graft.VectorDB
import graft.core.Result
import graft.filters.Filters
import org.apache.spark.sql.Dataset

/** A single k-NN through the `VectorDB` facade, split at its layer
  * calls: embed the text, route (`queryByVector` picks the index or the
  * exact plan), plan, execute. This is the path `VectorDB.query` takes;
  * the split only adds the spans. */
object Knn {

  final case class Answer(hits: Seq[Model.Hit], ds: Dataset[Result])

  def apply(run: Run, db: VectorDB, text: String, preds: Seq[Filters.Pred],
      key: Result => String = keyOf): Answer = {
    val tr = run.tracer
    val vec = tr.span("embed.query")(db.embedder.embed(text))
    val ds = tr.span("VectorDB.route")(db.queryByVector(vec, Gen.K, preds))
    tr.span("plans.knn_planning")(ds.queryExecution.executedPlan)
    val rows = tr.span("VectorDB.knn_exec")(ds.collect())
    Answer(rows.map(r => Model.Hit(key(r), r.distance)).toSeq, ds)
  }

  /** What a workload's timed k-NN ops recorded beside their latency. */
  final class Tally {
    val recalls: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer[Double]()
    val planningMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer[Double]()
    var unfiltered = 0
    var indexRouted = 0
  }

  /** One k-NN op of class `knn_exact` (filtered) or `knn_index`
    * (unfiltered): untimed in the warm-up, timed and checked in the
    * timed loop. Answers must equal brute force over `eligible` modulo
    * ties; with `approximate`, an unfiltered answer need only hold live
    * rows at their true distance. Unfiltered answers add their
    * recall@k, traced runs the planning time and index use. */
  def op(run: Run, timedRun: Boolean, text: String, filtered: Boolean,
      eligible: collection.Map[String, Array[Float]], tally: Tally,
      approximate: Boolean = false)(ask: => Answer): Unit = {
    val cls = if (filtered) "knn_exact" else "knn_index"
    if (!timedRun) run.untimed(s"warm.$cls")(ask)
    else {
      val q = Gen.embed(text)
      def check(a: Answer): Seq[String] =
        if (approximate && !filtered) Model.checkApproximate(a.hits, eligible, q, Gen.K)
        else Model.checkTopK(a.hits, eligible, q, Gen.K)
      run.timed(cls)(ask)(check).foreach { a =>
        if (!filtered) {
          tally.recalls += Model.recall(a.hits, eligible, q, Gen.K)
          tally.unfiltered += 1
          if (run.tracer.on && usedIndex(a.ds)) tally.indexRouted += 1
        }
        if (run.tracer.on) tally.planningMs += planningMs(a.ds)
      }
    }
  }

  /** The model key of a returned row: the document number in its JSON. */
  def keyOf(r: Result): String = Gen.docNo(r.metadata).toString

  /** Analysis + optimization + physical planning time of a query. */
  def planningMs(ds: Dataset[_]): Double =
    ds.queryExecution.tracker.phases.valuesIterator.map(_.durationMs.toDouble).sum

  /** Did the plan probe the persisted HNSW graph? */
  def usedIndex(ds: Dataset[_]): Boolean =
    ds.queryExecution.executedPlan.toString.contains(".hnsw")
}
