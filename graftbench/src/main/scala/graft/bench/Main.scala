package graft.bench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run:
  *
  * {{{
  * Main --workload <rag_serve|cdc_apply|corpus_prep> --seed <n> --seconds <s>
  *      --trace <0|1> --work <scratch dir> [--spans <file>]
  * }}}
  *
  * Prints a few `#` diagnostic lines, then as its last line one JSON
  * object: `correct`, `attempted`, `failed` and `metrics` — the
  * end-to-end metrics untraced, the per-layer metrics traced. */
object Main {

  /** Every metric the benchmark prints, with its unit. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ops_per_s" -> "1/s",
    "knn_index_p50_ms" -> "ms", "recall_at_10" -> "ratio", "knn_exact_p50_ms" -> "ms",
    "read_p90_ms" -> "ms", "write_p50_ms" -> "ms", "write_p90_ms" -> "ms",
    "write_amp" -> "ratio", "space_amp" -> "ratio", "rows_per_s" -> "1/s",
    "docs_per_s" -> "1/s", "near_dup_recall" -> "ratio")

  val PerLayer: Seq[(String, String)] = Seq(
    "embed.query_ms" -> "ms", "VectorDB.route_ms" -> "ms", "plans.knn_planning_ms" -> "ms",
    "VectorDB.knn_exec_ms" -> "ms", "VectorDB.jobs_per_knn" -> "count",
    "VectorDB.tasks_per_knn" -> "count", "VectorDB.index_route_share" -> "ratio",
    "table.hnsw_segments" -> "count", "sources.rows_scanned_per_result" -> "ratio",
    "table.live_files" -> "count", "table.tombstones" -> "count",
    "sources.merge_ms" -> "ms", "sources.update_ms" -> "ms", "sources.delete_ms" -> "ms",
    "sources.insert_ms" -> "ms", "sources.upsert_ms" -> "ms", "sources.lookup_ms" -> "ms",
    "plans.dml_planning_ms" -> "ms", "sources.jobs_per_write" -> "count",
    "sources.tasks_per_write" -> "count", "sources.shuffle_bytes_per_write" -> "bytes",
    "table.files_added_per_write" -> "count", "table.bytes_written_per_write" -> "bytes",
    "table.rows_rewritten_per_row_changed" -> "ratio", "table.compact_ms" -> "ms",
    "table.vacuum_ms" -> "ms", "VectorDB.insert_ms" -> "ms", "table.load_s" -> "s",
    "ops.hnsw_build_s" -> "s", "ops.quality_s" -> "s", "ops.exact_dedup_s" -> "s",
    "ops.minhash_s" -> "s", "embed.batch_s" -> "s", "VectorDB.bulk_knn_s" -> "s",
    "ops.busy_ratio" -> "ratio", "ops.shuffle_bytes" -> "bytes", "ops.spill_bytes" -> "bytes",
    "ops.near_dup_precision" -> "ratio", "jvm.gc_ms_per_op" -> "ms", "host.sentinel_ms" -> "ms")

  val Workloads: Map[String, Run => Unit] = Map(
    "rag_serve" -> RagServe.run, "cdc_apply" -> CdcApply.run, "corpus_prep" -> CorpusPrep.run)

  /** Shuffle partitions are fixed, not derived from the host. */
  val ShufflePartitions = 4

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    val body = Workloads.getOrElse(workload, {
      System.err.println(s"unknown workload '$workload' (${Workloads.keys.toSeq.sorted.mkString(", ")})")
      sys.exit(2)
    })
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)

    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", ShufflePartitions.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.catalog.vdb", "graft.sources.GvdbCatalog")
      .config("spark.sql.catalog.vdb.warehouse", work.resolve("vdb").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.local.dir", work.resolve("local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println(f"# phase spark ends at ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f s")

    // fixed-work host sentinel: constant plan, no data, no shuffle; its
    // drift between runs is host contention, not graft
    def sentinel(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 50000000L, 1L, cores).selectExpr("sum(id * 2)").collect()
      (System.nanoTime() - t0) / 1e6
    }

    val tracer = new Tracer(trace, spark.sparkContext)
    val run = new Run(spark, work, seed, seconds, tracer)
    run.phase("session")
    try body(run)
    catch { case e: Throwable => run.fail(s"$workload aborted: $e") }
    // measured once the workload has warmed the JVM
    val sentinelMs = sentinel()

    // closed loop, one client: completed ops per second spent waiting on graft
    val done = run.lat.valuesIterator.map(_.size).sum
    run.e2e("ops_per_s") = Stats.ratio(done, run.lat.valuesIterator.flatten.sum / 1000)
    run.layer("host.sentinel_ms") = sentinelMs
    if (trace) {
      val spans = tracer.finished
      layersFromSpans(run, spans, cores)
      opts.get("spans").foreach { f =>
        Files.write(Paths.get(f), Tracer.toJsonLines(spans).toSeq.mkString("", "\n", "\n").getBytes("UTF-8"))
        println(s"# spans: ${spans.size} written to $f")
      }
    }
    spark.stop()
    run.phase("end")

    run.problems.foreach(p => println(s"# problem: $p"))
    println(s"# host.sentinel_ms ${run.layer("host.sentinel_ms")}")
    if (trace) println("# e2e_traced " + json(run.e2e.toSeq, EndToEnd))
    val metrics = if (trace) json(run.layer.toSeq, PerLayer) else json(run.e2e.toSeq, EndToEnd)
    println(s"""{"correct":${run.failed == 0},"attempted":${run.attempted},"failed":${run.failed},"metrics":$metrics}""")
  }

  /** `{"name":{"value":v,"unit":u},…}` over every declared metric; one
    * the workload did not exercise reads 0. */
  def json(values: Seq[(String, Double)], declared: Seq[(String, String)]): String = {
    val m = values.toMap
    declared.map { case (name, unit) =>
      val v = m.getOrElse(name, 0.0)
      val num = if (v.isNaN || v.isInfinite) "0" else v.toString
      s""""$name":{"value":$num,"unit":"$unit"}"""
    }.mkString("{", ",", "}")
  }

  /** Per-layer numbers taken from the spans of the timed ops. */
  def layersFromSpans(run: Run, spans: Seq[Tracer.Span], cores: Int): Unit = {
    val timedClasses = run.lat.keySet
    val ops = spans.filter(s => s.parent < 0 && timedClasses.contains(s.name))
    def ofClass(cls: String*) = ops.filter(s => cls.contains(s.name))
    def work(ss: Seq[Tracer.Span]) = ss.map(s => Tracer.sumWork(Tracer.subtree(spans, s.id)))
    def meanSpan(name: String): Double = {
      val opIds = ops.map(_.opId).toSet
      Stats.mean(spans.filter(s => s.name == name && opIds.contains(s.opId)).map(_.ms))
    }
    def classMs(cls: String) = Stats.mean(run.samples(cls))

    val knn = work(ofClass("knn_index", "knn_exact"))
    val exact = work(ofClass("knn_exact"))
    val writes = work(ofClass("merge", "update", "delete", "sql_insert", "upsert", "facade_insert"))
    // the batch numbers describe the corpus-prep stages where a run has them
    val batch = if (ofClass(CorpusPrep.Stages: _*).nonEmpty) ofClass(CorpusPrep.Stages: _*) else ops
    val all = work(batch)
    val opMs = batch.map(_.ms).sum
    run.layer ++= Seq(
      "embed.query_ms" -> meanSpan("embed.query"),
      "VectorDB.route_ms" -> meanSpan("VectorDB.route"),
      "VectorDB.knn_exec_ms" -> meanSpan("VectorDB.knn_exec"),
      "VectorDB.jobs_per_knn" -> Stats.mean(knn.map(_.jobs.toDouble)),
      "VectorDB.tasks_per_knn" -> Stats.mean(knn.map(_.tasks.toDouble)),
      "sources.rows_scanned_per_result" -> Stats.ratio(exact.map(_.rowsRead).sum, exact.size * Gen.K),
      "sources.merge_ms" -> classMs("merge"),
      "sources.update_ms" -> classMs("update"),
      "sources.delete_ms" -> classMs("delete"),
      "sources.insert_ms" -> classMs("sql_insert"),
      "sources.upsert_ms" -> classMs("upsert"),
      "sources.lookup_ms" -> classMs("lookup"),
      "table.compact_ms" -> classMs("compact"),
      "table.vacuum_ms" -> classMs("vacuum"),
      "VectorDB.insert_ms" -> classMs("facade_insert"),
      "sources.jobs_per_write" -> Stats.mean(writes.map(_.jobs.toDouble)),
      "sources.tasks_per_write" -> Stats.mean(writes.map(_.tasks.toDouble)),
      "sources.shuffle_bytes_per_write" -> Stats.mean(writes.map(_.shuffleBytes.toDouble)),
      "ops.busy_ratio" -> Stats.ratio(all.map(_.taskMs).sum, opMs * cores),
      "ops.shuffle_bytes" -> Stats.mean(all.map(_.shuffleBytes.toDouble)),
      "ops.spill_bytes" -> Stats.mean(all.map(_.spillBytes.toDouble)))
  }
}
