package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.core.Sessions

/** Dev tool for inspecting registry entries, on the bench's session
  * settings ([[Sessions.local]]) against `SPARK_GRAFT_SF_DIR` (default
  * sf0.1) with `SPARK_GRAFT_CPUS` cores (default 32):
  *
  * {{{
  * runMain graft.Prof jobs <name>...
  * runMain graft.Prof plan <outDir> <suffix> <name>...
  * runMain graft.Prof rowlevel <outDir> <name>...
  * }}}
  *
  *  - `jobs`: per-entry job profile (guide §1: measure first; §7.1: the
  *    UI's jobs/stages view, reproduced headless). Runs one UNMEASURED
  *    pass (warms JVM codegen and the session fixture memos, matching
  *    the bench's min-of-passes steady state), then one measured pass
  *    with a listener capturing every job's wall time and the call site
  *    of its trigger. A 5 s entry that is 25 × 0.2 s jobs is a
  *    job-count problem (checkpoint cuts, per-query collect loops); one
  *    4 s job is a plan problem — the two need different fixes and this
  *    tells them apart in one run.
  *  - `plan`: writes each entry's `explain("formatted")` to
  *    `<outDir>/<name><suffix>.txt` — the plan evidence committed under
  *    `plans/`.
  *  - `rowlevel`: runs each entry with `spark.graft.plandump.dir` set,
  *    so the row-level command machinery (MERGE/UPDATE/upsert, whose
  *    joins never appear in the entry's returned plan) writes its
  *    internal `explain("formatted")` dumps under `<outDir>/<name>/`.
  *
  * Names not in the registry are skipped.
  */
object Prof {

  private val usage =
    "usage: graft.Prof jobs <name>... | plan <outDir> <suffix> <name>... | rowlevel <outDir> <name>..."

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    def registered(names: Seq[String]) = names.filter(SparkEntry.queries.contains)
    val command: SparkSession => Unit = args.toList match {
      case "jobs" :: names if names.nonEmpty => jobs(_, sfDir, registered(names))
      case "plan" :: outDir :: suffix :: names if names.nonEmpty =>
        plan(_, sfDir, outDir, suffix, registered(names))
      case "rowlevel" :: outDir :: names if names.nonEmpty =>
        rowLevel(_, sfDir, outDir, registered(names))
      case _ =>
        System.err.println(usage)
        sys.exit(2)
    }
    val spark = Sessions.local(cpus)
    try command(spark)
    finally {
      SparkEntry.releaseSessionCaches(spark)
      spark.stop()
    }
  }

  private def jobs(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    spark.range(1000000).selectExpr("sum(id * 2)").collect()
    case class Job(id: Int, started: Long, site: String, var ended: Long = 0L)
    val byId = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = e.stageInfos.lastOption.map(_.name).getOrElse("?")
        val j = Job(e.jobId, System.nanoTime(), site)
        byId.put(e.jobId, j); order.add(j); ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(byId.get(e.jobId)).foreach(_.ended = System.nanoTime()); ()
      }
    }
    for (name <- names) {
      // pass 1: unmeasured (fixture memos, codegen) — same steady state
      // the bench's min-of-passes reports
      SparkEntry.runEntry(spark, name, sfDir)
      byId.clear(); order.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      SparkEntry.runEntry(spark, name, sfDir)
      val total = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(listener)
      println(f"PROF $name total=$total%.3f s jobs=${order.size}")
      val it = order.iterator()
      var acc = 0.0
      while (it.hasNext) {
        val j = it.next()
        val d = if (j.ended > 0) (j.ended - j.started) / 1e9 else -1.0
        acc += math.max(d, 0)
        println(f"PROF   job=${j.id}%4d ${d}%8.3f s  ${j.site.take(110)}")
      }
      println(f"PROF $name sum_jobs=$acc%.3f s (gap=${total - acc}%.3f s driver/planning)")
    }
  }

  private def plan(spark: SparkSession, sfDir: String, outDir: String, suffix: String,
      names: Seq[String]): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (name <- names) {
      try {
        val txt = SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"$name$suffix.txt"), txt)
        println(s"PLANS wrote $name")
      } catch {
        case e: Throwable => System.err.println(s"PLANS $name FAILED: ${e.getMessage}")
      }
    }
  }

  private def rowLevel(spark: SparkSession, sfDir: String, outDir: String,
      names: Seq[String]): Unit =
    for (name <- names) {
      spark.conf.set("spark.graft.plandump.dir", s"$outDir/$name")
      try {
        SparkEntry.runEntry(spark, name, sfDir)
        println(s"DUMP ok $name")
      } catch {
        case e: Throwable => System.err.println(s"DUMP $name FAILED: ${e.getMessage}")
      } finally spark.conf.unset("spark.graft.plandump.dir")
    }
}
