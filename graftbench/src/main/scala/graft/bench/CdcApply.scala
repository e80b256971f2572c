package graft.bench

import scala.collection.mutable

import graft.VectorDB
import graft.sources.GvdbUpsert
import org.apache.spark.sql.DataFrame

/** `cdc_apply`: write-heavy SQL against an un-indexed `vdb.bench.docs`
  * table, one closed-loop client. Each step applies one KB-sized change
  * batch — mostly MERGE upserts, plus UPDATE … WHERE, DELETE … WHERE id
  * IN, INSERT INTO with duplicate content and `GvdbUpsert.apply` epochs
  * — then reads its writes back by id and runs a filtered k-NN through
  * `VectorDB.forName`. Compaction and vacuum run at fixed steps. A burst
  * of unfiltered k-NN probes on the final table closes the run. */
object CdcApply {

  val Table = "vdb.bench.docs"
  val InitialRows = 10000
  val Setups = 3
  /** Change-batch steps per second of `--seconds` (fixes the op count). */
  val StepsPerSecond = 0.5

  /** The write pattern, repeated: M = MERGE, U = UPDATE, D = DELETE,
    * I = INSERT INTO, P = GvdbUpsert.apply; compaction after step 2 and
    * vacuum after step 4 of every eight (after the DELETE at step 3). */
  val Pattern = "MUMDMIPM"
  /** Warm-up: the three row-level rewrite classes (MERGE, UPDATE, upsert),
    * then every read once. */
  val WarmPattern = "MUP"

  /** Unfiltered k-NN probes after the last step, back to back: a query
    * right after a row-level rewrite runs up to 2× slower than one after
    * an INSERT, so probes spread over the steps would measure which write
    * came before; a burst measures the exact route over the table the
    * writes left. Two more, untimed, warm the class up. */
  val Probes = 16
  val WarmProbes = 2

  def stepCount(seconds: Int): Int = math.max(Pattern.length, (seconds * StepsPerSecond).round.toInt)

  sealed trait Write { def rows: Seq[Gen.Doc] }
  final case class Merge(rows: Seq[Gen.Doc]) extends Write
  final case class Update(region: String, cat: String, ver: Int) extends Write { def rows = Nil }
  final case class Delete(ids: Seq[String]) extends Write { def rows = Nil }
  final case class Insert(rows: Seq[Gen.Doc]) extends Write
  final case class Upsert(rows: Seq[Gen.Doc]) extends Write
  final case class Step(write: Write, compact: Boolean, vacuum: Boolean,
      lookup: Seq[String], knn: Gen.Filter, knnText: String)

  def initialDocs(seed: Long): IndexedSeq[Gen.Doc] = {
    val r = new java.util.Random(seed)
    (0 until InitialRows).map(i => Gen.doc(r, i))
  }

  /** The step sequence, generated against a simulation of the table so
    * updates and deletes name live rows and duplicates copy live
    * content. `warm` steps use a separate stream. */
  def steps(seed: Long, n: Int, initial: IndexedSeq[Gen.Doc], warm: Int): (IndexedSeq[Step], IndexedSeq[Step]) = {
    val r = new java.util.Random(seed * 104729L + 3)
    val cur = mutable.LinkedHashMap[Long, Gen.Doc]()
    initial.foreach(d => cur(d.no) = d)
    val ids = mutable.ArrayBuffer[Long](initial.map(_.no): _*)
    var next = InitialRows.toLong
    var ver = 0
    def pickLive(k: Int): Seq[Long] = {
      val s = mutable.LinkedHashSet[Long]()
      while (s.size < k) s += ids(r.nextInt(ids.size))
      s.toSeq
    }
    def fresh(k: Int): Seq[Gen.Doc] = (0 until k).map { _ => next += 1; Gen.doc(r, next) }
    def changed(no: Long): Gen.Doc = { ver += 1; Gen.doc(r, no, ver) }
    def put(ds: Seq[Gen.Doc]): Unit = ds.foreach { d =>
      if (!cur.contains(d.no)) ids += d.no
      cur(d.no) = d
    }
    val all = (0 until warm + n).map { i =>
      val kind = if (i < warm) WarmPattern(i % WarmPattern.length) else Pattern((i - warm) % Pattern.length)
      val w: Write = kind match {
        case 'M' => Merge(pickLive(14).map(changed) ++ fresh(6))
        case 'U' =>
          ver += 1
          val u = Update(Gen.Regions(r.nextInt(Gen.Regions.length)), Gen.Cats(r.nextInt(Gen.Cats.length)), ver)
          cur.valuesIterator.filter(d => d.region == u.region && d.cat == u.cat).toList
            .foreach(d => cur(d.no) = d.copy(ver = u.ver))
          u
        case 'D' => Delete(pickLive(8).map(no => cur(no).id))
        case 'I' => Insert(fresh(16) ++ pickLive(4).map(cur))
        case _ => Upsert(pickLive(10).map(changed) ++ fresh(10))
      }
      w match {
        case Delete(gone) =>
          val nos = gone.map(_.drop(1).toLong).toSet
          nos.foreach(cur.remove)
          ids.filterInPlace(no => !nos.contains(no))
        case _ => put(w.rows)
      }
      val touched = w match {
        case Delete(gone) => gone
        case _ => w.rows.map(_.id).distinct
      }
      val lookup = (touched.take(10) ++ pickLive(2).map(no => cur(no).id)).distinct
      val pos = if (i < warm) i else i - warm
      val (compact, vacuum) =
        if (i < warm) (false, false) else (pos % Pattern.length == 2, pos % Pattern.length == 4)
      Step(w, compact, vacuum, lookup, Gen.filter(r, pos), Gen.queryText(r))
    }
    (all.take(warm), all.drop(warm))
  }

  /** Query texts of the unfiltered probes: warm-up ones first. */
  def probes(seed: Long): IndexedSeq[String] = {
    val r = new java.util.Random(seed * 15485863L + 5)
    (0 until WarmProbes + Probes).map(_ => Gen.queryText(r))
  }

  private def view(run: Run, name: String, rows: Seq[Gen.Doc]): DataFrame = {
    val spark = run.spark
    import spark.implicits._
    val df = rows.map(d => (d.id, d.json, d.embedding.toSeq)).toDF("id", "metadata", "embedding")
    df.createOrReplaceTempView(name)
    df
  }

  def run(run: Run): Unit = {
    val spark = run.spark
    import spark.implicits._
    val docs = initialDocs(run.seed)
    val (warm, timedSteps) = steps(run.seed, stepCount(run.seconds), docs, warm = WarmPattern.length)

    spark.sql("CREATE NAMESPACE IF NOT EXISTS vdb.bench")
    val base = spark.sparkContext.parallelize(docs.map(d => (d.id, d.json, d.embedding.toSeq)), 4)
      .toDF("id", "metadata", "embedding")
    base.createOrReplaceTempView("cdc_base")
    val setupS = mutable.ArrayBuffer[Double]()
    for (_ <- 0 until Setups) {
      spark.sql(s"DROP TABLE IF EXISTS $Table")
      run.untimed("setup") {
        val t0 = System.nanoTime()
        spark.sql(s"CREATE TABLE $Table (id string, metadata string, embedding array<float>) USING gvdb")
        spark.sql(s"INSERT INTO $Table SELECT id, metadata, embedding FROM cdc_base")
        setupS += (System.nanoTime() - t0) / 1e9
      }
    }
    run.phase("setup")
    val root = VectorDB.forName(spark, Table).table.root

    // model: live rows by id
    val live = mutable.LinkedHashMap[String, Gen.Doc]()
    docs.foreach(d => live(d.id) = d)
    def vecsFor(f: Option[Gen.Filter]): collection.Map[String, Array[Float]] =
      live.valuesIterator.filter(d => f.forall(_.accepts(d)))
        .map(d => d.no.toString -> d.embedding).toMap

    val written = new TableFiles.Written
    val maintained = new TableFiles.Written
    var userBytes = 0L
    var rowsChanged = 0L
    var rowsOffered = 0L
    var dupsOffered = 0L
    val knn = new Knn.Tally
    val dmlPlanning = mutable.ArrayBuffer[Double]()

    def sql(stmt: String): Unit = {
      val df = spark.sql(stmt)
      if (run.tracer.on) dmlPlanning += Knn.planningMs(df)
    }

    /** Applies a write to the model; returns rows changed and duplicate
      * rows offered. */
    def model(w: Write): (Long, Long) = w match {
      case Merge(rows) => rows.foreach(d => live(d.id) = d); (rows.size, 0)
      case Upsert(rows) => rows.foreach(d => live(d.id) = d); (rows.size, 0)
      case Insert(rows) =>
        val (dups, fresh) = rows.partition(d => live.contains(d.id))
        fresh.foreach(d => live(d.id) = d); (fresh.size, dups.size)
      case Delete(ids) => ids.foreach(live.remove); (ids.size, 0)
      case Update(region, cat, ver) =>
        val hit = live.valuesIterator.filter(d => d.region == region && d.cat == cat).toList
        hit.foreach(d => live(d.id) = d.copy(ver = ver)); (hit.size, 0)
    }

    def write(w: Write, timedRun: Boolean): Unit = {
      val (cls, body): (String, () => Unit) = w match {
        case Merge(rows) =>
          view(run, "cdc_chg", rows)
          "merge" -> (() => sql(s"""MERGE INTO $Table t USING cdc_chg c ON t.id = c.id
            WHEN MATCHED THEN UPDATE SET metadata = c.metadata, embedding = c.embedding
            WHEN NOT MATCHED THEN INSERT (id, metadata, embedding) VALUES (c.id, c.metadata, c.embedding)"""))
        case Update(region, cat, ver) =>
          "update" -> (() => sql(s"""UPDATE $Table SET metadata = regexp_replace(metadata, '"ver":[0-9]+', '"ver":$ver')
            WHERE get_json_object(metadata, '$$.region') = '$region' AND get_json_object(metadata, '$$.cat') = '$cat'"""))
        case Delete(ids) =>
          "delete" -> (() => sql(s"DELETE FROM $Table WHERE id IN (${ids.map(i => s"'$i'").mkString(",")})"))
        case Insert(rows) =>
          view(run, "cdc_ins", rows)
          "sql_insert" -> (() => sql(s"INSERT INTO $Table SELECT id, metadata, embedding FROM cdc_ins"))
        case Upsert(rows) =>
          val df = view(run, "cdc_up", rows)
          "upsert" -> (() => GvdbUpsert(spark, root, df, Some(Gen.Dim)))
      }
      TableFiles.tracked(spark, root, written, timedRun) {
        if (timedRun) run.timed(cls)(body())(_ => Nil) else run.untimed(s"warm.$cls")(body())
      }
      val (changed, dups) = model(w)
      if (timedRun) {
        userBytes += (w match {
          case Delete(ids) => ids.map(_.length.toLong).sum
          case Update(_, _, _) => 0L
          case _ => w.rows.map(_.userBytes).sum
        })
        rowsChanged += changed
        rowsOffered += (w match { case Delete(ids) => ids.size; case _ => w.rows.size })
        dupsOffered += dups
      }
    }

    def maintenance(cls: String, stmt: String, timedRun: Boolean): Unit = {
      TableFiles.tracked(spark, root, maintained, timedRun) {
        if (timedRun) run.timed(cls)(spark.sql(stmt).collect())(_ => Nil)
        else run.untimed(s"warm.$cls")(spark.sql(stmt).collect())
      }
    }

    def lookup(ids: Seq[String], timedRun: Boolean): Unit = {
      val stmt = s"SELECT id, metadata, embedding FROM $Table WHERE id IN (${ids.map(i => s"'$i'").mkString(",")})"
      def check(rows: Array[org.apache.spark.sql.Row]): Seq[String] =
        Model.checkLookup(ids, id => live.get(id).map(d => (d.json, d.embedding.toSeq)),
          rows.toSeq.map(r => (r.getString(0), r.getString(1), r.getSeq[Float](2))))
      if (timedRun) run.timed("lookup")(spark.sql(stmt).collect())(check)
      else run.untimed("warm.lookup")(spark.sql(stmt).collect())
    }

    def query(text: String, filter: Option[Gen.Filter], timedRun: Boolean): Unit =
      Knn.op(run, timedRun, text, filter.isDefined, vecsFor(filter), knn) {
        Knn(run, run.tracer.span("VectorDB.forName")(VectorDB.forName(spark, Table)),
          text, filter.toSeq.flatMap(_.preds))
      }

    def step(s: Step, timedRun: Boolean, reads: Boolean = true): Unit = {
      write(s.write, timedRun)
      if (s.compact) maintenance("compact", "CALL vdb.system.compact('bench.docs', 5000)", timedRun)
      if (s.vacuum) maintenance("vacuum", "CALL vdb.system.vacuum('bench.docs')", timedRun)
      if (reads) {
        lookup(s.lookup, timedRun)
        query(s.knnText, Some(s.knn), timedRun)
      }
    }

    // warm-up: every write class once, the reads once at the end
    val (warmProbes, timedProbes) = probes(run.seed).splitAt(WarmProbes)
    warm.zipWithIndex.foreach { case (s, i) => step(s, timedRun = false, reads = i == warm.size - 1) }
    warmProbes.foreach(query(_, None, timedRun = false))
    run.phase("warmup")
    val gc0 = run.gcMs
    timedSteps.foreach(step(_, timedRun = true))
    timedProbes.foreach(query(_, None, timedRun = true))
    val gcMs = run.gcMs - gc0
    run.phase("timed")

    // final state: the whole table must equal the model
    val table = spark.sql(s"SELECT id, metadata, embedding FROM $Table").collect()
    val got = table.map(r => r.getString(0) -> (r.getString(1), r.getSeq[Float](2))).toMap
    if (table.length != got.size) run.fail(s"final table holds ${table.length - got.size} duplicate ids")
    val wrong = live.valuesIterator.filterNot(d => got.get(d.id).contains((d.json, d.embedding.toSeq))).size
    val extra = got.keySet.count(id => !live.contains(id))
    if (wrong + extra > 0) run.fail(s"final table: $wrong rows missing or stale, $extra rows not in the model")
    val stored = TableFiles.snapshot(root)

    val changeClasses = Seq("merge", "update", "sql_insert", "upsert")
    val changeMs = changeClasses.flatMap(run.samples)
    val writeS = (changeMs.sum + run.totalMs("delete")) / 1000
    run.e2e ++= Seq(
      "setup_s" -> Stats.median(setupS.toSeq),
      "knn_index_p50_ms" -> run.p("knn_index", 0.5),
      "recall_at_10" -> Stats.mean(knn.recalls.toSeq),
      "knn_exact_p50_ms" -> run.p("knn_exact", 0.5),
      "read_p90_ms" -> run.p("knn_exact", 0.9),
      "write_p50_ms" -> Stats.pct(changeMs, 0.5),
      "write_p90_ms" -> Stats.pct(changeMs, 0.9),
      "write_amp" -> Stats.ratio(written.bytes + maintained.bytes, userBytes),
      "space_amp" -> Stats.ratio(TableFiles.bytes(stored), live.valuesIterator.map(_.userBytes).sum),
      "rows_per_s" -> Stats.ratio(rowsChanged, writeS),
      "docs_per_s" -> Stats.ratio(rowsOffered, writeS),
      // INSERT INTO must skip every duplicate row it is offered
      "near_dup_recall" -> (if (dupsOffered == 0) 1.0
        else 1.0 - math.max(0, table.length - live.size).toDouble / dupsOffered))
    run.layer ++= Seq(
      "table.load_s" -> Stats.median(setupS.toSeq),
      "table.live_files" -> TableFiles.dataFiles(stored, root).size.toDouble,
      "table.tombstones" -> VectorDB.forName(spark, Table).table.tombstoneCount.toDouble,
      "plans.knn_planning_ms" -> Stats.mean(knn.planningMs.toSeq),
      "plans.dml_planning_ms" -> Stats.mean(dmlPlanning.toSeq),
      "table.files_added_per_write" -> Stats.ratio(written.files, written.writes),
      "table.bytes_written_per_write" -> Stats.ratio(written.bytes + maintained.bytes, written.writes),
      "table.rows_rewritten_per_row_changed" -> Stats.ratio(written.rows, rowsChanged),
      "jvm.gc_ms_per_op" -> Stats.ratio(gcMs, run.attempted))
  }
}
