package graft.bench

import scala.collection.mutable

import graft.VectorDB
import graft.table.VectorTable
import org.apache.spark.sql.functions._

/** Batch LLM data prep. A pass takes a corpus with planted low-quality
  * docs, exact duplicates and near-duplicates through Gopher quality,
  * exact dedup, MinHash-LSH near-dup pairs, embedding,
  * `VectorTable.insert` and a `queryByVectors` panel. `rag_serve` runs
  * small passes beside its serving loop; the `corpus_prep` workload
  * here runs larger ones back to back, plus a few single queries on
  * each prepared table. Throughput and shuffle, with every core busy. */
object CorpusPrep {

  val DocsPerPass = 8000
  /** The untimed warm-up pass runs the same stages on a smaller corpus. */
  val WarmDocs = 2000
  val Setups = 3
  /** Seconds of `--seconds` per timed pass (fixes the pass count). */
  val SecondsPerPass = 5.0
  val Chunks = 4
  val PanelQueries = 50
  val SingleQueries = 3
  /** MinHash-LSH: 5-word shingles, 20 bands × 5 rows, Jaccard ≥ 0.5. */
  val Shingle = 5; val Bands = 20; val Rows = 5; val Threshold = 0.5
  /** The timed op classes of a pass, in order; `load` is `VectorTable.insert`. */
  val Stages: Seq[String] = Seq("quality", "exact_dedup", "minhash", "embed", "load", "bulk_knn")

  def passCount(seconds: Int): Int = math.max(2, (seconds / SecondsPerPass).round.toInt)

  /** The filterable field of a prepared doc: 10% selectivity. */
  def src(id: String): String = "s" + id.last

  /** User bytes of a prepared doc: its metadata JSON and its vector. */
  def userBytes(d: Gen.PrepDoc): Long =
    s"""{"id":"${d.id}","text":"${d.text}","src":"${src(d.id)}"}""".getBytes("UTF-8").length + 4L * Gen.Dim

  /** Panel and single-query texts of one pass. */
  def queries(seed: Long, pass: Int, panel: Int): (IndexedSeq[String], IndexedSeq[(String, Option[String])]) = {
    val r = new java.util.Random(seed * 31337L + pass)
    val texts = (0 until panel).map(_ => Gen.queryText(r))
    val single = (0 until 2 * SingleQueries).map { i =>
      (Gen.queryText(r), if (i % 2 == 1) Some("s" + r.nextInt(10)) else None)
    }
    (texts, single)
  }

  /** Lands raw corpora as parquet, one directory per pass under `dir`. */
  def land(run: Run, dir: String, corpora: Seq[IndexedSeq[Gen.PrepDoc]]): Unit = {
    val spark = run.spark
    import spark.implicits._
    for ((c, p) <- corpora.zipWithIndex)
      spark.sparkContext.parallelize(c.map(d => (d.id, d.text)), 4).toDF("id", "text")
        .write.mode("overwrite").parquet(s"$dir/pass$p")
  }

  /** What the timed passes measured. */
  final class Tally {
    /** Per pass: raw docs and milliseconds spent in its stages. */
    val passes: mutable.ArrayBuffer[(Int, Double)] = mutable.ArrayBuffer[(Int, Double)]()
    var nearFound = 0L
    var nearPlanted = 0L
    var pairsFound = 0L
    var pairsInGroup = 0L
    val written = new TableFiles.Written
    /** Rows and user bytes the prepared tables received. */
    var rowsLoaded = 0L
    var userBytes = 0L
    /** The last prepared table: its root and live user bytes. */
    var lastRoot = ""
    var lastLiveBytes = 0L

    /** Raw docs per second of stage time, median over passes. */
    def docsPerS: Double = Stats.median(passes.map { case (n, ms) => n / (ms / 1000) }.toSeq)
    /** Planted near-duplicate pairs MinHash-LSH found, over all passes. */
    def nearRecall: Double = Stats.ratio(nearFound, nearPlanted)
  }

  /** One pass over `corpus` (landed under `raw/pass<p>`), inserted into
    * a fresh table `prep<p>` in `chunks` and probed with a panel of
    * `panel` queries. Each stage's answer is checked in a timed pass.
    * Returns the prepared table's facade and its live vectors. */
  def pass(run: Run, raw: String, corpus: IndexedSeq[Gen.PrepDoc], p: Int, chunks: Int,
      panel: Int, timedRun: Boolean, tally: Tally): (VectorDB, Map[String, Array[Float]]) = {
    val spark = run.spark
    import spark.implicits._
    val byId = corpus.map(d => d.id -> d).toMap
    val done = mutable.ArrayBuffer[Double]()
    /** One pipeline stage: timed (and checked) in a timed pass. */
    def stage[A](cls: String)(body: => A)(check: A => Seq[String]): A =
      if (!timedRun) run.untimed(s"warm.$cls")(body)
      else {
        val n = run.samples(cls).size
        val out = run.timed(cls)(body)(check)
        if (run.samples(cls).size > n) done += run.samples(cls).last
        out.getOrElse(throw new IllegalStateException(s"$cls failed in pass $p"))
      }

    val kept = stage("quality") {
      graft.ops.TextAnalysis.gopherQuality(spark.read.parquet(s"$raw/pass$p"), "id", "text")
        .where($"r_words" && $"r_wlen" && $"r_symbol" && $"r_alpha" && $"r_stop")
        .select("id", "text").localCheckpoint()
    }(df => Model.checkKept(df.select("id").as[String].collect().toSet, corpus))

    val groups = stage("exact_dedup") {
      graft.ops.Dedup.exact(kept, "text", "id").localCheckpoint()
    }(df => Model.checkExactGroups(df.where($"dup_count" > 1).select("id", "dup_count")
      .as[(String, Long)].collect().toSet, corpus))
    val survivors = kept.join(groups.select("id"), "id")

    val pairs = stage("minhash") {
      val out = graft.ops.Dedup.minhashLshPairs(survivors, "id", "text", Shingle, Bands, Rows, Threshold)
        .select("id_a", "id_b").localCheckpoint()
      // everything cached at this point (the PlanCache signature table
      // and the stage checkpoints) must fit the heap
      if (run.tracer.on) println(s"# cached_bytes pass $p " +
        spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
      graft.core.PlanCache.release(spark)
      out
    }(df => {
      val got = df.as[(String, String)].collect().toSet
      val planted = Model.plantedNearPairs(corpus)
      val same = Model.sameGroup(corpus)
      if (timedRun) {
        tally.nearFound += (got intersect planted).size
        tally.nearPlanted += planted.size
        tally.pairsFound += got.size
        tally.pairsInGroup += got.count { case (a, b) => same(a, b) }
      }
      Nil
    })
    val finalDocs = survivors.join(pairs.select($"id_b".as("id")), Seq("id"), "left_anti")

    val embedded = stage("embed") {
      graft.embed.EmbedOps.withEmbedding(
        finalDocs.withColumn("metadata", to_json(struct($"id", $"text",
          concat(lit("s"), substring($"id", -1, 1)).as("src")))),
        "text", "hashing").localCheckpoint()
    }(_ => Nil)

    val root = run.work.resolve(s"prep$p").toString
    val table = new VectorTable(spark, root, Gen.Dim).create(overwrite = true)
    val expected = embedded.select("id").as[String].collect().toSet
    for (c <- 0 until chunks) {
      val chunk = embedded.where(pmod(hash($"id"), lit(chunks)) === c)
      TableFiles.tracked(spark, root, tally.written, timedRun) {
        stage("load")(table.insert(chunk))(_ => Nil)
      }
    }
    val liveDocs = expected.toSeq.map(byId)
    val vecs = liveDocs.map(d => d.id -> Gen.embed(d.text)).toMap

    val db = new VectorDB(spark, s"prep$p", run.work.toString)
    val (texts, _) = queries(run.seed, p, panel)
    stage("bulk_knn") {
      val qs = texts.zipWithIndex.map { case (t, i) => (i.toLong, Gen.embed(t).toSeq) }
        .toDF("query_id", "embedding")
      db.queryByVectors(qs, Gen.K).select("query_id", "id", "distance").collect()
    }(rows => {
      val byQuery = rows.groupBy(_.getLong(0))
      texts.indices.flatMap { i =>
        val hits = byQuery.getOrElse(i.toLong, Array.empty).map(r => Model.Hit(r.getString(1), r.getDouble(2)))
        Model.checkTopK(hits.toSeq, vecs, Gen.embed(texts(i)), Gen.K).map(s"panel query $i: " + _)
      }
    })
    val rows = table.numRows
    if (rows != expected.size) run.fail(s"pass $p table holds $rows rows, expected ${expected.size}")
    if (timedRun) {
      tally.passes += corpus.size -> done.sum
      tally.rowsLoaded += expected.size
      tally.userBytes += liveDocs.map(userBytes).sum
      tally.lastRoot = root
      tally.lastLiveBytes = liveDocs.map(userBytes).sum
    }
    kept.unpersist(); groups.unpersist(); pairs.unpersist(); embedded.unpersist()
    (db, vecs)
  }

  /** Per-layer numbers of the timed passes: stage seconds per pass. */
  def layers(run: Run, tally: Tally): Seq[(String, Double)] = {
    def perPass(cls: String): Double = Stats.ratio(run.totalMs(cls) / 1000, tally.passes.size)
    Seq(
      "ops.quality_s" -> perPass("quality"),
      "ops.exact_dedup_s" -> perPass("exact_dedup"),
      "ops.minhash_s" -> perPass("minhash"),
      "embed.batch_s" -> perPass("embed"),
      "VectorDB.bulk_knn_s" -> perPass("bulk_knn"),
      "ops.near_dup_precision" -> Stats.ratio(tally.pairsInGroup, tally.pairsFound))
  }

  /** The `corpus_prep` workload: passes of [[DocsPerPass]] docs. */
  def run(run: Run): Unit = {
    val passes = passCount(run.seconds)
    // pass 0 warms up, untimed
    val corpora = (0 to passes).map(p => Gen.corpus(run.seed, p, if (p == 0) WarmDocs else DocsPerPass))

    // set-up: land the raw corpora as parquet, several times
    val setupS = mutable.ArrayBuffer[Double]()
    var raw = ""
    for (i <- 0 until Setups) {
      raw = run.work.resolve(s"raw$i").toString
      run.untimed("setup") {
        val t0 = System.nanoTime()
        land(run, raw, corpora)
        setupS += (System.nanoTime() - t0) / 1e9
      }
    }
    run.phase("setup")

    val tally = new Tally
    val knn = new Knn.Tally
    def prepare(p: Int, timedRun: Boolean): Unit = {
      val (db, vecs) = pass(run, raw, corpora(p), p, Chunks, PanelQueries, timedRun, tally)
      // the prepared table serves single queries too
      for ((text, filter) <- queries(run.seed, p, PanelQueries)._2) {
        val eligible = filter.fold(vecs)(s => vecs.filter { case (id, _) => src(id) == s })
        Knn.op(run, timedRun, text, filter.isDefined, eligible, knn) {
          Knn(run, db, text, filter.toSeq.map(s => graft.filters.Filters.Eq("src", s)), _.id)
        }
      }
    }

    prepare(0, timedRun = false)
    run.phase("warmup")
    val gc0 = run.gcMs
    for (p <- 1 to passes) prepare(p, timedRun = true)
    val gcMs = run.gcMs - gc0
    run.phase("timed")

    val stored = TableFiles.snapshot(tally.lastRoot)
    val loadS = run.totalMs("load") / 1000
    val rowsLoaded = tally.rowsLoaded
    run.e2e ++= Seq(
      "setup_s" -> Stats.median(setupS.toSeq),
      "knn_index_p50_ms" -> run.p("knn_index", 0.5),
      "recall_at_10" -> Stats.mean(knn.recalls.toSeq),
      "knn_exact_p50_ms" -> run.p("knn_exact", 0.5),
      "read_p90_ms" -> run.p("knn_exact", 0.9),
      "write_p50_ms" -> run.p("load", 0.5),
      "write_p90_ms" -> run.p("load", 0.9),
      "write_amp" -> Stats.ratio(tally.written.bytes, tally.userBytes),
      "space_amp" -> Stats.ratio(TableFiles.bytes(stored), tally.lastLiveBytes),
      "rows_per_s" -> Stats.ratio(rowsLoaded, loadS),
      "docs_per_s" -> tally.docsPerS,
      "near_dup_recall" -> tally.nearRecall)
    run.layer ++= layers(run, tally) ++ Seq(
      "table.load_s" -> loadS / passes,
      "table.live_files" -> TableFiles.dataFiles(stored, tally.lastRoot).size.toDouble,
      "plans.knn_planning_ms" -> Stats.mean(knn.planningMs.toSeq),
      "table.files_added_per_write" -> Stats.ratio(tally.written.files, tally.written.writes),
      "table.bytes_written_per_write" -> Stats.ratio(tally.written.bytes, tally.written.writes),
      "table.rows_rewritten_per_row_changed" -> Stats.ratio(tally.written.rows, rowsLoaded),
      "jvm.gc_ms_per_op" -> Stats.ratio(gcMs, run.attempted))
  }
}
