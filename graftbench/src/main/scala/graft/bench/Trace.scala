package graft.bench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spans recorded from the benchmark's side of each layer call: one
  * span per op, child spans around each call into a layer. Spark jobs
  * are attributed to the innermost open span through a job-group-style
  * local property, and a listener sums their tasks, task time, rows
  * read, shuffle and spill per span. Everything stays in memory until
  * the run ends. With tracing off, `span` only runs its body. */
final class Tracer(val on: Boolean, sc: SparkContext) {
  import Tracer._

  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var opId = -1L
  private val listener = if (on) Some(new Listener) else None
  listener.foreach(sc.addSparkListener)

  /** Starts a new op: later spans carry its id until the next one. */
  def op[A](name: String)(body: => A): A = { opId += 1; span(name)(body) }

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = spans.size
      val s = Span(id, name, stack.headOption.getOrElse(-1), opId, System.nanoTime(), 0L)
      spans += s
      stack = id :: stack
      sc.setLocalProperty(Prop, id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Prop, stack.headOption.map(_.toString).orNull)
      }
    }

  /** The spans, each with its own Spark work, once the listener has
    * seen every queued event. */
  def finished: Seq[Span] = {
    listener.foreach { l =>
      org.apache.spark.BenchBus.drain(sc)
      spans.foreach(s => s.work = l.work(s.id))
    }
    spans.toSeq
  }
}

object Tracer {
  val Prop = "graftbench.span"

  final class Work {
    var jobs = 0L; var tasks = 0L; var taskMs = 0L; var rowsRead = 0L
    var shuffleBytes = 0L; var spillBytes = 0L
    def +=(o: Work): Unit = {
      jobs += o.jobs; tasks += o.tasks; taskMs += o.taskMs; rowsRead += o.rowsRead
      shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    }
  }

  final case class Span(id: Int, name: String, parent: Int, opId: Long, startNs: Long,
      var endNs: Long) {
    var work = new Work
    def ms: Double = (endNs - startNs) / 1e6
  }

  private final class Listener extends SparkListener {
    private val stageSpan = new ConcurrentHashMap[Int, Int]()
    private val bySpan = new ConcurrentHashMap[Int, Work]()
    private def acc(span: Int): Work = bySpan.computeIfAbsent(span, _ => new Work)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).foreach { s =>
        val span = s.toInt
        acc(span).synchronized(acc(span).jobs += 1)
        e.stageIds.foreach(stageSpan.put(_, span))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { span =>
        val w = acc(span)
        val m = e.taskMetrics
        w.synchronized {
          w.tasks += 1
          if (m != null) {
            w.taskMs += m.executorRunTime
            w.rowsRead += m.inputMetrics.recordsRead
            w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            w.spillBytes += m.diskBytesSpilled
          }
        }
      }

    def work(span: Int): Work = Option(bySpan.get(span)).getOrElse(new Work)
  }

  /** Self time: the span's duration minus what its children cover. */
  def selfMs(spans: Seq[Span]): Map[Int, Double] = {
    val childMs = spans.filter(_.parent >= 0).groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(_.ms).sum }
    spans.map(s => s.id -> (s.ms - childMs.getOrElse(s.id, 0.0))).toMap
  }

  def toJsonLines(spans: Seq[Span]): Iterator[String] = {
    val self = selfMs(spans)
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    spans.iterator.map { s =>
      val w = s.work
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op_id":${s.opId},""" +
        f""""start_ms":${(s.startNs - t0) / 1e6}%.3f,"end_ms":${(s.endNs - t0) / 1e6}%.3f,""" +
        f""""self_ms":${self(s.id)}%.3f,"jobs":${w.jobs},"tasks":${w.tasks},"task_ms":${w.taskMs},""" +
        s""""rows_read":${w.rowsRead},"shuffle_bytes":${w.shuffleBytes},"spill_bytes":${w.spillBytes}}"""
    }
  }

  /** The jobs of a span tree whose root is `root` (the span and all
    * descendants). */
  def subtree(spans: Seq[Span], root: Int): Seq[Span] = {
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    def walk(id: Int): Seq[Span] = spans(id) +: kids.getOrElse(id, Nil).flatMap(c => walk(c.id))
    walk(root)
  }

  def sumWork(ss: Seq[Span]): Work = { val w = new Work; ss.foreach(s => w += s.work); w }
}
