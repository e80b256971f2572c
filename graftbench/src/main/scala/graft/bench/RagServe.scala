package graft.bench

import scala.collection.mutable

import graft.VectorDB

/** `rag_serve`: a read-mostly facade on an HNSW-indexed table, one
  * closed-loop client. Unfiltered queries take the index route,
  * filtered ones the exact route, and a few small insert batches with
  * ~20% duplicate content exercise dedup-on-insert and the HNSW segment
  * append. It never touches the row-level MERGE path. After the serving
  * loop, small corpus-prep passes ([[CorpusPrep.pass]]) measure the
  * batch side of a RAG corpus: quality, dedup, MinHash, embedding,
  * insert and a bulk query panel. */
object RagServe {

  val InitialDocs = 2000
  val BatchNew = 16
  val BatchDup = 4
  val Setups = 3
  /** Untimed warm-up ops: the JIT is still speeding up every serving
    * class after six, so the first timed ops would set the tails. */
  val WarmOps = 10
  /** Timed ops per second of `--seconds`: the op count is fixed by the
    * seed and this rate, never by the clock. */
  val OpsPerSecond = 2.5

  /** Corpus-prep passes: one untimed warm-up pass, then timed ones,
    * all of the same size. */
  val PrepDocs = 1000
  val PrepPasses = 4
  val PrepPanel = 20

  def opCount(seconds: Int): Int = math.max(10, (seconds * OpsPerSecond).round.toInt)

  sealed trait Op
  final case class Query(text: String, filter: Option[Gen.Filter]) extends Op
  final case class Insert(docs: Seq[Gen.Doc]) extends Op

  def initialDocs(seed: Long): IndexedSeq[Gen.Doc] = {
    val r = new java.util.Random(seed)
    (0 until InitialDocs).map(i => Gen.doc(r, i))
  }

  /** The op classes in a fixed order, repeated: X = unfiltered query,
    * E = filtered query, I = insert batch — 35% / 45% / 20%. Every run
    * of a given length sends the same number of each; the seed picks
    * their contents. */
  val Pattern = "XEXEIEXEIXEXEIEXEIEX"

  /** The op sequence: queries with seeded texts and filters, insert
    * batches of 16 new docs plus 4 exact copies of initial docs. */
  def ops(seed: Long, n: Int, stream: Int, initial: IndexedSeq[Gen.Doc]): IndexedSeq[Op] = {
    val r = new java.util.Random(seed * 7919L + stream)
    var next = InitialDocs + stream * 1000000L
    var filters = 0
    (0 until n).map { i =>
      Pattern(i % Pattern.length) match {
        case 'X' => Query(Gen.queryText(r), None)
        case 'E' => filters += 1; Query(Gen.queryText(r), Some(Gen.filter(r, filters)))
        case _ =>
          val fresh = (0 until BatchNew).map { _ => next += 1; Gen.doc(r, next) }
          val dups = (0 until BatchDup).map(_ => initial(r.nextInt(initial.size)))
          Insert(fresh ++ dups)
      }
    }
  }

  def run(run: Run): Unit = {
    val spark = run.spark
    import spark.implicits._
    val warehouse = run.work.resolve("facade").toString
    val docs = initialDocs(run.seed)
    val warm = ops(run.seed, WarmOps, stream = 1, docs)
    val timedOps = ops(run.seed, opCount(run.seconds), stream = 2, docs)
    val corpora = (0 to PrepPasses).map(Gen.corpus(run.seed, _, PrepDocs))

    // model: live docs by document number
    val live = mutable.LinkedHashMap[String, Gen.Doc]()
    docs.foreach(d => live(d.no.toString) = d)

    // set-up, several times on fresh tables; the last one serves
    val setupS = mutable.ArrayBuffer[Double]()
    val loadS = mutable.ArrayBuffer[Double]()
    val buildS = mutable.ArrayBuffer[Double]()
    var db: VectorDB = null
    for (i <- 0 until Setups) {
      if (db != null) db.table.drop()
      run.untimed("setup") {
        val t0 = System.nanoTime()
        db = new VectorDB(spark, s"rag$i", warehouse, newTable = true)
        db.insert(spark.sparkContext.parallelize(docs.map(_.json), 4).toDS(), Some("text"))
        val t1 = System.nanoTime()
        db.table.buildHnswIndex()
        val t2 = System.nanoTime()
        setupS += (t2 - t0) / 1e9; loadS += (t1 - t0) / 1e9; buildS += (t2 - t1) / 1e9
      }
    }

    run.phase("setup")
    // the raw prep corpora, landed once as parquet (input, not set-up)
    val raw = run.work.resolve("raw").toString
    run.untimed("land")(CorpusPrep.land(run, raw, corpora))
    val vecs = mutable.LinkedHashMap[String, Array[Float]]()
    live.foreach { case (k, d) => vecs(k) = d.embedding }
    val written = new TableFiles.Written
    var userBytesWritten = 0L
    var rowsAdded = 0L
    val knn = new Knn.Tally
    val prep = new CorpusPrep.Tally

    def apply(op: Op, timedRun: Boolean): Unit = op match {
      case Query(text, filter) =>
        val eligible = filter match {
          case None => vecs
          case Some(f) => vecs.filter { case (k, _) => f.accepts(live(k)) }
        }
        Knn.op(run, timedRun, text, filter.isDefined, eligible, knn, approximate = true) {
          Knn(run, db, text, filter.toSeq.flatMap(_.preds))
        }
      case Insert(batch) =>
        val ds = spark.createDataset(batch.map(_.json))
        TableFiles.tracked(spark, db.table.root, written, timedRun) {
          if (!timedRun) run.untimed("warm.facade_insert")(db.insert(ds, Some("text")))
          else run.timed("facade_insert")(db.insert(ds, Some("text")))(_ => Nil)
        }
        val fresh = batch.filterNot(d => live.contains(d.no.toString)).distinct
        fresh.foreach { d => live(d.no.toString) = d; vecs(d.no.toString) = d.embedding }
        if (timedRun) {
          userBytesWritten += batch.map(_.userBytes).sum
          rowsAdded += fresh.size
        }
    }
    def prepPass(p: Int, timedRun: Boolean): Unit =
      CorpusPrep.pass(run, raw, corpora(p), p, chunks = 1, PrepPanel, timedRun, prep)

    warm.foreach(apply(_, timedRun = false))
    prepPass(0, timedRun = false)
    run.phase("warmup")
    val gc0 = run.gcMs
    timedOps.foreach(apply(_, timedRun = true))
    (1 to PrepPasses).foreach(prepPass(_, timedRun = true))
    val gcMs = run.gcMs - gc0
    run.phase("timed")

    // final state: the row count must match the model's dedup
    val rows = db.numRows
    if (rows != live.size) run.fail(s"final row count $rows, model ${live.size}")
    val stored = TableFiles.snapshot(db.table.root)

    val insertS = run.totalMs("facade_insert") / 1000
    run.e2e ++= Seq(
      "setup_s" -> Stats.median(setupS.toSeq),
      "knn_index_p50_ms" -> run.p("knn_index", 0.5),
      "recall_at_10" -> Stats.mean(knn.recalls.toSeq),
      "knn_exact_p50_ms" -> run.p("knn_exact", 0.5),
      "read_p90_ms" -> run.p("knn_exact", 0.9),
      "write_p50_ms" -> run.p("facade_insert", 0.5),
      "write_p90_ms" -> run.p("facade_insert", 0.9),
      "write_amp" -> Stats.ratio(written.bytes, userBytesWritten),
      "space_amp" -> Stats.ratio(TableFiles.bytes(stored), live.valuesIterator.map(_.userBytes).sum),
      "rows_per_s" -> Stats.ratio(rowsAdded, insertS),
      "docs_per_s" -> prep.docsPerS,
      "near_dup_recall" -> prep.nearRecall)
    run.layer ++= CorpusPrep.layers(run, prep) ++ Seq(
      "table.load_s" -> Stats.median(loadS.toSeq),
      "ops.hnsw_build_s" -> Stats.median(buildS.toSeq),
      "table.hnsw_segments" -> db.table.hnswIndexMeta.map(_.segments.toDouble).getOrElse(0.0),
      "table.live_files" -> TableFiles.dataFiles(stored, db.table.root).size.toDouble,
      "table.tombstones" -> db.table.tombstoneCount.toDouble,
      "VectorDB.index_route_share" -> Stats.ratio(knn.indexRouted, knn.unfiltered),
      "plans.knn_planning_ms" -> Stats.mean(knn.planningMs.toSeq),
      "table.files_added_per_write" -> Stats.ratio(written.files, written.writes),
      "table.bytes_written_per_write" -> Stats.ratio(written.bytes, written.writes),
      "table.rows_rewritten_per_row_changed" -> Stats.ratio(written.rows, rowsAdded),
      "jvm.gc_ms_per_op" -> Stats.ratio(gcMs, run.attempted))
  }
}
