package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.{PortableRounding, VectorKernels}

/** Segment-local HNSW (Malkov & Yashunin 2018, arXiv:1603.09320) — the
  * graph index the reference builds on bulk load
  * (/root/reference/duckvdb.py:37-41,45).
  *
  * HNSW's greedy walk is inherently sequential, which is why a naive
  * port doesn't fit bulk-synchronous Spark. The production answer —
  * the one Lucene/Elasticsearch ship — is SEGMENTED: split the corpus
  * into deterministic segments, build one independent in-memory HNSW
  * per segment inside `mapPartitions` (sequential is free within a
  * partition), fan the broadcast query panel out to every segment, and
  * merge the per-segment top-k by a single window rank. At 100 TB the
  * segments are the natural parallel unit (one per partition /
  * executor core); build cost is embarrassingly parallel, search cost
  * is one map-side pass plus an O(queries · segments · k) merge, and a
  * new data batch is a NEW segment — append never touches built graphs
  * (see [[appendSegments]]).
  *
  * Determinism (so the recall gate is oracle-checkable): segment
  * membership is hash-partitioning on the id column; insertion order is
  * ids ascending within a segment; a node's level comes from splitmix64
  * of its id (not an RNG stream, so it is independent of row order);
  * all heap orderings tie-break on node id. Every surfaced candidate is
  * scored inside its segment by the SAME cosine kernel + portable
  * rounding as [[Similarity.bruteTopK]], so the HNSW layer only decides
  * WHICH ≤ segments·k candidates survive — the returned distances and
  * ordering are engine-reproducible.
  */
object Hnsw {

  /** Measured-good segment sizing (BENCHNOTES round-6 HNSW table: the
    * 100× corpus at ~8k vectors/segment built in 14.2 s with recall
    * 0.99, where a fixed small segment count measured 84.7 s): one
    * graph per ~8k vectors, floor 1. This is the DEFAULT everywhere a
    * segment count is not given — pass an explicit `numSegments` only
    * to pin a layout (e.g. a test fixture or an existing on-disk
    * segmentation). */
  val RowsPerSegment = 8000L

  def autoSegments(nRows: Long): Int =
    math.max(1L, (nRows + RowsPerSegment - 1) / RowsPerSegment).toInt

  /** On-disk schema of a persisted graph ([[buildGraph]]'s rows). Every
    * graph read passes it ([[readGraph]]): opening the graph then only
    * lists its files. Without it every open runs Spark's parquet
    * schema-inference job — on the serving path, one job per query. */
  val GraphSchema: StructType =
    StructType.fromDDL("seg INT, id BIGINT, adj ARRAY<ARRAY<BIGINT>>, emb ARRAY<FLOAT>")

  def readGraph(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(GraphSchema).parquet(path)

  /** The engine's distance contract — bit-identical to the
    * `round_portable(cosine_distance(c_emb, q_emb), 4)` column of
    * [[Similarity.bruteTopK]]: the same kernel, the same rounding. */
  private def exactDistance(candidate: Array[Float], q: ArrayData): Double =
    PortableRounding.round(
      VectorKernels.cosineDistance(UnsafeArrayData.fromPrimitiveArray(candidate), q), 4)

  /** splitmix64 finalizer — the repo's standard deterministic hash
    * (same family as [[graft.functions.LshBucketsExpr]]). */
  private[graft] def mix64(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Node level ~ floor(-ln(U) · 1/ln(M)), U derived from the id so the
    * level is a pure function of the key (insert-order independent). */
  private[graft] def levelOf(id: Long, m: Int): Int = {
    val u = ((mix64(id) >>> 11).toDouble + 0.5) / (1L << 53).toDouble // (0,1)
    math.floor(-math.log(u) / math.log(m.toDouble)).toInt
  }

  /** One segment's in-memory HNSW over (ids, vecs), ids ascending.
    * Diversity-heuristic neighbor selection (the paper's Algorithm 4)
    * for both insertion and overfull-list pruning; level-0 degree cap
    * 2M, upper levels M, per the paper. */
  private[ops] final class SegmentIndex(
      ids: Array[Long], vecs: Array[Array[Float]], m: Int, efConstruction: Int) {
    private val maxM0 = 2 * m
    private val levels = ids.map(id => levelOf(id, m))
    // adj(node)(level) = neighbor node indexes
    private val adj: Array[Array[mutable.ArrayBuffer[Int]]] =
      levels.map(l => Array.fill(l + 1)(mutable.ArrayBuffer.empty[Int]))
    private var entry = -1
    private var topLevel = -1

    /** Per-node adjacency with neighbor NODE IDS (level-indexed) — the
      * persistable form of the graph ([[Hnsw.buildGraph]]). */
    def adjacencyIds(node: Int): Array[Array[Long]] =
      adj(node).map(_.map(ids(_)).toArray)

    /** Restore a built graph from persisted adjacency (aligned with
      * `ids`): fills edges and re-derives the entry point (top level,
      * min id — the same node the build path promotes last). Neighbor
      * ids not present in `ids` are dropped: if a reader ever splits a
      * segment's rows across partitions, each part restores as a
      * smaller valid graph and recall degrades gate-visibly instead of
      * the probe crashing. */
    def restore(adjIds: Array[Array[Array[Long]]]): Unit = {
      val idToIdx = mutable.HashMap[Long, Int]()
      var i = 0
      while (i < ids.length) { idToIdx(ids(i)) = i; i += 1 }
      i = 0
      while (i < ids.length) {
        var lev = 0
        while (lev < adjIds(i).length && lev < adj(i).length) {
          adj(i)(lev).clear()
          adj(i)(lev) ++= adjIds(i)(lev).flatMap(idToIdx.get)
          lev += 1
        }
        if (levels(i) > topLevel || (levels(i) == topLevel && (entry < 0 || ids(i) < ids(entry)))) {
          topLevel = levels(i); entry = i
        }
        i += 1
      }
    }

    private def dist(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) 1.0 else 1.0 - dot / math.sqrt(na * nb)
    }

    /** Greedy descent at `level`: hill-climb to the local minimum. */
    private def greedy(q: Array[Float], start: Int, level: Int): Int = {
      var cur = start
      var curD = dist(q, vecs(cur))
      var improved = true
      while (improved) {
        improved = false
        val ns = adj(cur)(level)
        var i = 0
        while (i < ns.length) {
          val n = ns(i)
          val d = dist(q, vecs(n))
          if (d < curD || (d == curD && n < cur)) { curD = d; cur = n; improved = true }
          i += 1
        }
      }
      cur
    }

    /** Algorithm 2: beam search at `level` with beam width `ef`.
      * Returns (dist, node) ascending, ≤ ef entries. */
    private def searchLayer(q: Array[Float], start: Int, ef: Int, level: Int)
        : mutable.ArrayBuffer[(Double, Int)] = {
      val visited = mutable.HashSet[Int](start)
      implicit val asc: Ordering[(Double, Int)] = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int)
      val candidates = mutable.PriorityQueue[(Double, Int)]()(asc.reverse) // min-heap
      val result = mutable.PriorityQueue[(Double, Int)]()(asc)             // max-heap
      val d0 = dist(q, vecs(start))
      candidates.enqueue((d0, start)); result.enqueue((d0, start))
      while (candidates.nonEmpty) {
        val (cd, c) = candidates.dequeue()
        if (cd > result.head._1 && result.size >= ef) { candidates.clear() }
        else {
          val ns = adj(c)(level)
          var i = 0
          while (i < ns.length) {
            val n = ns(i)
            if (!visited.contains(n)) {
              visited += n
              val d = dist(q, vecs(n))
              if (result.size < ef || d < result.head._1 ||
                  (d == result.head._1 && n < result.head._2)) {
                candidates.enqueue((d, n)); result.enqueue((d, n))
                if (result.size > ef) result.dequeue()
              }
            }
            i += 1
          }
        }
      }
      val out = mutable.ArrayBuffer[(Double, Int)]()
      out ++= result.dequeueAll.reverse
      out
    }

    /** Algorithm 4 (SELECT-NEIGHBORS-HEURISTIC): take candidates
      * closest-first, keeping one only if it is closer to the anchor
      * than to every neighbor already kept — edges stay DIVERSE, so on
      * clustered data the graph keeps inter-cluster highways instead
      * of m redundant same-cluster links (the known failure mode of
      * naive nearest-m selection). The paper's keepPrunedConnections
      * flag is ON: pruned candidates backfill the list to `max`
      * closest-first, so neighbor lists stay at capacity and tight
      * clusters cannot leave the layer graph DISCONNECTED (measured: a
      * single-segment graph over 10 tight clusters was stuck at recall
      * 0.72 at any beam width without the backfill, 1.0 with it — a
      * disconnected component is unreachable at every ef). Determinism:
      * candidates arrive (dist, id)-sorted and both passes are exact. */
    private def selectHeuristic(
        anchor: Array[Float], w: Iterable[(Double, Int)], max: Int): mutable.ArrayBuffer[Int] = {
      val r = mutable.ArrayBuffer[Int]()
      val pruned = mutable.ArrayBuffer[Int]()
      val it = w.iterator
      while (it.hasNext && r.length < max) {
        val (d, n) = it.next()
        if (r.forall(e => dist(vecs(n), vecs(e)) >= d)) r += n
        else pruned += n
      }
      var i = 0
      while (r.length < max && i < pruned.length) { r += pruned(i); i += 1 }
      r
    }

    private def connect(a: Int, b: Int, level: Int): Unit = {
      val cap = if (level == 0) maxM0 else m
      adj(a)(level) += b
      if (adj(a)(level).length > cap) {
        val cands = adj(a)(level)
          .map(n => (dist(vecs(a), vecs(n)), n)).sorted
        val kept = selectHeuristic(vecs(a), cands, cap)
        adj(a)(level).clear(); adj(a)(level) ++= kept
      }
    }

    def insert(node: Int): Unit = {
      val l = levels(node)
      if (entry < 0) { entry = node; topLevel = l; return }
      var ep = entry
      var lev = topLevel
      while (lev > l) { ep = greedy(vecs(node), ep, lev); lev -= 1 }
      lev = math.min(topLevel, l)
      while (lev >= 0) {
        val w = searchLayer(vecs(node), ep, efConstruction, lev)
        val neighbors = selectHeuristic(vecs(node), w, m)
        neighbors.foreach { n =>
          connect(node, n, lev); connect(n, node, lev)
        }
        ep = w.head._2
        lev -= 1
      }
      if (l > topLevel) { entry = node; topLevel = l }
    }

    /** Top-k (id, distance) for query `q` with beam `efSearch` (≥ k):
      * the beam picks the nodes, [[exactDistance]] scores them against
      * the segment's own vectors. */
    def search(q: Array[Float], k: Int, efSearch: Int): Array[(Long, Double)] = {
      if (entry < 0) return Array.empty
      var ep = entry
      var lev = topLevel
      while (lev > 0) { ep = greedy(q, ep, lev); lev -= 1 }
      val qa = UnsafeArrayData.fromPrimitiveArray(q)
      searchLayer(q, ep, math.max(efSearch, k), 0)
        .take(k).map { case (_, n) => (ids(n), exactDistance(vecs(n), qa)) }.toArray
    }
  }

  private[graft] type GraphRow = (Int, Long, Array[Array[Long]], Array[Float])

  private val byDistance: Ordering[(Double, Long)] =
    Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)

  /** One persisted segment's rows → its searchable graph (no rebuild). */
  private def restoreSegment(rows: Array[GraphRow], m: Int): SegmentIndex = {
    val sorted = rows.sortBy(_._2)
    val idx = new SegmentIndex(sorted.map(_._2), sorted.map(_._4), m, efConstruction = m)
    idx.restore(sorted.map(_._3))
    idx
  }

  /** The one scoring path of every probe: beam-search each query against
    * one segment and emit the scored (query_id, neighbor_id, distance)
    * hits. Self-exclusion searches one extra slot, so the query's own
    * segment still contributes k real neighbors once its self hit drops
    * (with few segments the lost slot is not masked by other segments). */
  private def scoreSegment(
      idx: SegmentIndex, panel: Iterator[(Long, Array[Float])],
      k: Int, efSearch: Int, excludeSelf: Boolean): Iterator[(Long, Long, Double)] =
    panel.flatMap { case (qid, qv) =>
      idx.search(qv, k + (if (excludeSelf) 1 else 0), efSearch).iterator.collect {
        case (nid, d) if !excludeSelf || nid != qid => (qid, nid, d)
      }
    }

  /** Per-query top-k over scored hits from many segments, ties on the
    * smaller neighbor id. */
  private def topKPerQuery(hits: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("distance").asc, col("neighbor_id").asc)
    hits.withColumn("rank", row_number().over(w)).where(col("rank") <= k).drop("rank")
  }

  private def collectPanel(queries: DataFrame, idCol: String, embCol: String)
      : Array[(Long, Array[Float])] =
    queries.select(col(idCol), col(embCol)).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)

  /** Segmented HNSW top-k, every surfaced candidate scored in its
    * segment. Same (query_id, neighbor_id, distance) contract as
    * [[Similarity.bruteTopK]].
    *
    * `queries` must be a bounded serving panel (it is collected and
    * broadcast); bulk query batches go through [[probeGraphBulk]]
    * instead. `numSegments` defaults to the measured-good
    * ~[[RowsPerSegment]] rows per graph (one `count()` metadata job);
    * pass an explicit value only to pin a layout. */
  def searchTopK(
      queries: DataFrame, candidates: DataFrame, k: Int,
      m: Int = 16, efConstruction: Int = 128, efSearch: Int = 96,
      numSegments: Int = 0, idCol: String = "vec_id", embCol: String = "embedding",
      excludeSelf: Boolean = true): DataFrame = {
    val spark = candidates.sparkSession
    import spark.implicits._
    val segs = if (numSegments > 0) numSegments else autoSegments(candidates.count())
    val bc = spark.sparkContext.broadcast(collectPanel(queries, idCol, embCol))
    val hits = candidates.select(col(idCol).as("_1"), col(embCol).as("_2"))
      .repartition(segs, col("_1"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val seg = it.toArray.sortBy(_._1)
        if (seg.isEmpty) Iterator.empty
        else {
          val idx = new SegmentIndex(seg.map(_._1), seg.map(_._2), m, efConstruction)
          var i = 0
          while (i < seg.length) { idx.insert(i); i += 1 }
          scoreSegment(idx, bc.value.iterator, k, efSearch, excludeSelf)
        }
      }.toDF("query_id", "neighbor_id", "distance")
    topKPerQuery(hits, k)
  }

  /** Segment-append (the Lucene pattern, and the reference's own
    * bulk-load-only index contract): `delta` becomes NEW segments —
    * existing graphs are never touched — and search fans over
    * base ∪ delta segments. Here that is literally
    * `base.union(delta)` re-segmented deterministically by id hash, so
    * the same rows land in the same segments regardless of which batch
    * delivered them; an id-range split of the corpus yields the
    * identical index either way. */
  def appendSegments(base: DataFrame, delta: DataFrame): DataFrame =
    base.unionByName(delta)

  /** Build the PERSISTABLE index: one graph per segment, exported as
    * rows (seg, id, adj) where `adj` is the node's level-indexed
    * neighbor-id lists — the durable form of the reference's bulk-load
    * HNSW (duckvdb.py:45: index built once at load, probed later).
    * Write these rows to parquet next to the vectors; [[probeGraph]]
    * searches them without rebuilding. Segment membership is
    * `pmod(hash(id), numSegments)` (computable in SQL, stable across
    * batches); `segOffset` names NEW segments for an appended batch so
    * an append NEVER rewrites built graphs — the Lucene segment
    * lifecycle. `m` is part of the on-disk contract (levels derive
    * from it); probe with the same value. `numSegments = 0` (the
    * default) auto-sizes to ~[[RowsPerSegment]] rows per graph.
    *
    * Partition `i` holds exactly segment `i` (the segment number is the
    * shuffle partition id, not a hash of it), so a write of these rows
    * lands one segment per part file and [[segmentSizes]] reads the
    * segment sizes from the files' footers. */
  def buildGraph(
      vectors: DataFrame, numSegments: Int = 0, segOffset: Int = 0,
      m: Int = 16, efConstruction: Int = 128,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val nSegs = if (numSegments > 0) numSegments else autoSegments(vectors.count())
    vectors.select(pmod(hash(col(idCol)), lit(nSegs)).cast("int").as("_1"),
        col(idCol).as("_2"), col(embCol).as("_3"))
      .repartitionById(nSegs, col("_1"))
      .as[(Int, Long, Array[Float])]
      .mapPartitions { it =>
        val rows = it.toArray
        if (rows.isEmpty) Iterator.empty
        else buildSegment(rows.head._1 + segOffset, rows.map(r => (r._2, r._3)),
          m, efConstruction).iterator
      }.toDF("seg", "id", "adj", "emb")
  }

  /** One segment's graph rows (seg, id, adj, emb) over `rows`
    * (vec_id, vector): inserted in ascending id order into one
    * [[SegmentIndex]] — the graph [[buildGraph]] gives the same rows as
    * a segment. The indexed insert builds its delta segment with it on
    * the driver. */
  private[graft] def buildSegment(seg: Int, rows: Array[(Long, Array[Float])],
      m: Int, efConstruction: Int): Array[GraphRow] = {
    val sorted = rows.sortBy(_._1)
    val idx = new SegmentIndex(sorted.map(_._1), sorted.map(_._2), m, efConstruction)
    var i = 0
    while (i < sorted.length) { idx.insert(i); i += 1 }
    Array.tabulate(sorted.length)(i => (seg, sorted(i)._1, idx.adjacencyIds(i), sorted(i)._2))
  }

  /** Probe a persisted graph: [[probeSegments]]'s map-only pass plus
    * the per-query window that trims its partition-local top-k lists to
    * the global top-k. `m` must match the build. */
  def probeGraph(
      graph: DataFrame, queries: DataFrame, k: Int,
      m: Int = 16, efSearch: Int = 96,
      idCol: String = "vec_id", embCol: String = "embedding",
      excludeSelf: Boolean = true): DataFrame =
    topKPerQuery(probeSegments(graph, queries, k, m, efSearch, idCol, embCol, excludeSelf), k)

  /** The serving probe's single MAP-ONLY pass over the graph table. The
    * segment rows carry their vectors (the Lucene segment layout — index
    * and data co-reside), so each graph partition restores its
    * segments, beam-searches the broadcast panel and scores every
    * surfaced id against the segment's own `emb` — no shuffle, no join.
    * Each partition keeps its own top-k per query (distance, then id),
    * so the output is a superset of the global top-k with exact
    * distances: a caller that ranks again (the facade's
    * `ORDER BY distance, id LIMIT k`) needs no window. `queries` must be
    * a bounded serving panel (collected and broadcast); bulk batches go
    * through [[probeGraphBulk]]. */
  private[graft] def probeSegments(
      graph: DataFrame, queries: DataFrame, k: Int,
      m: Int = 16, efSearch: Int = 96,
      idCol: String = "vec_id", embCol: String = "embedding",
      excludeSelf: Boolean = true): DataFrame = {
    val spark = graph.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(collectPanel(queries, idCol, embCol))
    graphRows(graph).mapPartitions { it =>
      // parquet preserves the build's file-per-segment layout, but a
      // reader may coalesce files — group by seg so each graph
      // restores whole regardless of the read partitioning
      it.toArray.groupBy(_._1).valuesIterator
        .flatMap(rows => scoreSegment(restoreSegment(rows, m), bc.value.iterator,
          k, efSearch, excludeSelf))
        .toArray.groupBy(_._1).valuesIterator
        .flatMap(_.sortBy(h => (h._3, h._2))(byDistance).take(k))
    }.toDF("query_id", "neighbor_id", "distance")
  }

  private def graphRows(graph: DataFrame) = {
    import graph.sparkSession.implicits._
    graph.select(col("seg").as("_1"), col("id").as("_2"), col("adj").as("_3"), col("emb").as("_4"))
      .as[GraphRow]
  }

  /** Metadata-FILTERED probe with selectivity-adaptive oversampling —
    * the HNSW counterpart of
    * [[graft.ops.MlAnn.ivfProbeFilteredAdaptive]]: the graph indexes
    * the FULL corpus and the predicate arrives at query time as the
    * eligible-id set. The per-segment search width scales by
    * 1/selectivity, holding the EXPECTED eligible candidates at
    * oversample·k, then the survivors rerank to k. Below `exactCutoff`
    * selectivity the filtered corpus is already small and the probe
    * degenerates to the exact scan over survivors — correct and
    * selectivity-priced, the same escape hatch as the IVF path.
    *
    * Selectivity pricing costs ONE job, not three: `eligible` must be
    * drawn from the indexed corpus (the caller filters the same table
    * the graph indexes), so its own count IS the matched count — one
    * job over the filtered scan, never a graph-sized semi-join. The
    * index size comes from `totalHint` when the caller maintains it as
    * a build-time stat ([[graft.table.VectorTable.HnswIndexMeta]]
    * `rows` — the facade always passes it); the `graph.count()`
    * fallback serves ad-hoc graphs that never persisted a stat. */
  def probeGraphFiltered(graph: DataFrame, queries: DataFrame, k: Int,
      eligible: DataFrame,
      m: Int = 16, efSearch: Int = 96,
      idCol: String = "vec_id", embCol: String = "embedding",
      oversample: Int = 3, exactCutoff: Double = 0.05,
      excludeSelf: Boolean = true, totalHint: Long = -1L): DataFrame = {
    // NOT persisted: elig is read twice (the pricing count here + the
    // candidate join inside the RETURNED lazy plan), but a per-call
    // PlanCache.persist has no release point before the caller
    // materializes — a long-lived serving session would accumulate one
    // cached eligible set per filtered query. Recomputing the filtered
    // scan once is the bounded price of staying memory-flat.
    val elig = eligible.select(col(idCol).as("id"))
    val total = if (totalHint >= 0L) totalHint else graph.count()
    val matched = elig.count()
    val sel = if (total == 0) 1.0 else math.min(1.0, matched.toDouble / total)
    if (sel <= exactCutoff) {
      val vecs = graph.join(elig, Seq("id"), "left_semi")
        .select(col("id").as(idCol), col("emb").as(embCol))
      Similarity.bruteTopK(queries, vecs, k, idCol, embCol, excludeSelf)
    } else {
      val kEff = math.min(total, math.ceil(oversample * k / sel).toLong).toInt
      // the partition-local candidate lists need no global trim of
      // their own: the rank after the eligibility join trims to k
      val cands = probeSegments(graph, queries, kEff, m,
        math.max(efSearch, 2 * kEff), idCol, embCol, excludeSelf)
      // explicit select: the Seq-key join reorders columns (key first)
      // and both branches must present the same (query, neighbor,
      // distance) contract
      topKPerQuery(cands.join(elig.select(col("id").as("neighbor_id")), Seq("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"), col("distance")), k)
    }
  }

  /** Distributed BULK-batch probe of a persisted graph — the
    * [[IvfPq.search]] design applied to segments: no driver-side query
    * collect, so the batch side scales past serving size (10k+ query
    * batches, the offline dedup/link join shape).
    *
    * Unlike IVF cells, HNSW segments are not selective — every query
    * must walk every segment's graph — so the fan-out is
    * (query × segment) BY CONSTRUCTION, not a pruning loss. The plan:
    * queries are exploded map-side to one probe row per (query,
    * segment) — the distinct segment ids are a bounded int list, one
    * tiny job — and CO-GROUPED with the graph rows on the segment id.
    * Each group restores its segment's adjacency once, beam-searches
    * its co-located probe rows and scores their hits against the
    * segment's own vectors; only scored (query_id, neighbor_id,
    * distance) triples leave the group, and a per-query window merges
    * them. Shuffle cost: graph rows once (zero when the graph table is
    * already seg-partitioned) + queries × segments probe rows;
    * per-query work is O(segments · log segRows) exactly like the
    * serving path, so wall clock is linear in batch size. */
  def probeGraphBulk(
      graph: DataFrame, queries: DataFrame, k: Int,
      m: Int = 16, efSearch: Int = 96,
      idCol: String = "vec_id", embCol: String = "embedding",
      excludeSelf: Boolean = true): DataFrame = {
    val spark = graph.sparkSession
    import spark.implicits._
    val segIds = graph.select(col("seg")).distinct().collect().map(_.getInt(0)).sorted
    val fan = queries
      .select(explode(lit(segIds)).as("seg"), col(idCol).as("qid"), col(embCol).as("qv"))
      .as[(Int, Long, Array[Float])]
    val hits = graphRows(graph).groupByKey(_._1).cogroup(fan.groupByKey(_._1)) {
      (_, rowIt, qIt) =>
        val rows = rowIt.toArray
        if (rows.isEmpty) Iterator.empty
        else scoreSegment(restoreSegment(rows, m), qIt.map { case (_, qid, qv) => (qid, qv) },
          k, efSearch, excludeSelf)
    }.toDF("query_id", "neighbor_id", "distance")
    topKPerQuery(hits, k)
  }

  /** Lucene-style segment merge policy: HNSW graphs don't merge
    * structurally, so compaction REBUILDS the vectors of the segments
    * in `small` into `numSegments` fresh graphs (named from
    * `segOffset`, disjoint from survivors), passing every other segment
    * through untouched — the amortized maintenance that keeps probe
    * cost bounded while streaming appends accumulate small
    * batchId-keyed segments. Rebuild cost is proportional to the SMALL
    * segments only; a caller picks them from [[segmentSizes]] when
    * their count crosses its merge threshold, exactly like a Lucene
    * merge policy. */
  def compactSegments(
      graph: DataFrame, small: Set[Int], numSegments: Int, segOffset: Int,
      m: Int = 16, efConstruction: Int = 128): DataFrame = {
    val isSmall = col("seg").isin(small.toSeq: _*)
    val rebuilt = buildGraph(
      graph.where(isSmall).select(col("id").as("vec_id"), col("emb").as("embedding")),
      numSegments, segOffset, m, efConstruction)
    graph.where(!isSmall).unionByName(rebuilt)
  }

  /** Rows per segment of the persisted graph at `graphPath`, read on the
    * driver from its part files' parquet footers — no Spark job. A file
    * whose `seg` statistics have min = max holds one segment (every
    * [[buildGraph]] file does) and answers from its row count; any
    * other file (a compaction's pass-through rows, a graph written
    * before one segment per file) has its `seg` column read. Each file
    * is read at most once per JVM: memoized per (path, length, mtime),
    * as graph files are immutable once written. Every merge-policy
    * trigger sizes segments through this. */
  def segmentSizes(spark: SparkSession, graphPath: String): Map[Int, Long] = {
    val p = new org.apache.hadoop.fs.Path(graphPath)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Map.empty
    else fs.listStatus(p).iterator.filter(_.getPath.getName.startsWith("part-"))
      .flatMap(st => segmentSizesOf(st, conf))
      .foldLeft(Map.empty[Int, Long]) { case (acc, (seg, n)) =>
        acc.updated(seg, acc.getOrElse(seg, 0L) + n)
      }
  }

  private val segmentSizesMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), Seq[(Int, Long)]]

  private def segmentSizesOf(st: org.apache.hadoop.fs.FileStatus,
      conf: org.apache.hadoop.conf.Configuration): Seq[(Int, Long)] =
    segmentSizesMemo.computeIfAbsent(
      (st.getPath.toString, st.getLen, st.getModificationTime),
      _ => {
        import scala.jdk.CollectionConverters._
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
        try {
          val blocks = r.getFooter.getBlocks.asScala.toSeq.filter(_.getRowCount > 0)
          val ranges = blocks.map(_.getColumns.asScala.find(_.getPath.toDotString == "seg")
            .map(_.getStatistics).collect {
              case s: org.apache.parquet.column.statistics.IntStatistics if s.hasNonNullValue =>
                (s.getMin, s.getMax)
            })
          if (blocks.isEmpty) Nil
          else ranges.distinct match {
            case Seq(Some((lo, hi))) if lo == hi => Seq(lo -> blocks.map(_.getRowCount).sum)
            case _ => readSegColumn(r).groupBy(identity).view.mapValues(_.size.toLong).toSeq
          }
        } finally r.close()
      })

  /** Every `seg` value of one open graph file, read with parquet-mr. */
  private def readSegColumn(r: org.apache.parquet.hadoop.ParquetFileReader): Seq[Int] = {
    val fileSchema = r.getFooter.getFileMetaData.getSchema
    val proj = new org.apache.parquet.schema.MessageType(
      fileSchema.getName, fileSchema.getType(fileSchema.getFieldIndex("seg")))
    r.setRequestedSchema(proj)
    val io = new org.apache.parquet.io.ColumnIOFactory().getColumnIO(proj, fileSchema)
    Iterator.continually(r.readNextRowGroup()).takeWhile(_ != null).flatMap { pages =>
      val rows = io.getRecordReader(pages,
        new org.apache.parquet.example.data.simple.convert.GroupRecordConverter(proj))
      Iterator.fill(pages.getRowCount.toInt)(rows.read().getInteger(0, 0))
    }.toSeq
  }

  /** Rewrites the graph at `graphPath` with the segments `small` rebuilt
    * by [[compactSegments]]. The swap is delete-then-rename — the
    * single-writer contract of the table layer (SURVEY.md §7.4);
    * readers mid-swap belong to the same job. A failed delete or rename
    * throws: a kept old directory would swallow the rename (the new
    * graph nested inside the old one), and a failed rename leaves the
    * graph deleted — either way the caller must not advance its
    * sidecar over a graph that is not there. */
  private[graft] def compactGraph(spark: SparkSession, graphPath: String, small: Set[Int],
      numSegments: Int, segOffset: Int, m: Int, efConstruction: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(graphPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(graphPath + "__compacting")
    compactSegments(readGraph(spark, graphPath), small, numSegments, segOffset, m, efConstruction)
      .write.mode("overwrite").parquet(tmp.toString)
    if (!fs.delete(p, true))
      throw new java.io.IOException(
        s"HNSW compaction: delete $p failed; the compacted graph is in $tmp")
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"HNSW compaction: rename $tmp -> $p failed")
  }

  /** The Lucene merge-policy TRIGGER for a parquet-persisted graph:
    * when at least `mergeAt` segments have accumulated at or below
    * `maxRows` (the streaming-append regime — every micro-batch lands
    * a small segment), rebuild exactly those ([[compactGraph]]);
    * otherwise do nothing but read the footers ([[segmentSizes]]).
    * Rebuilt segments take NEGATIVE ids growing downward from
    * min(existing, 0) — append paths hand out non-negative
    * (batchId-keyed) ids, so repeated compactions and future appends
    * can never collide (a seg-id collision would silently merge two
    * graphs at restore time and degrade recall). Returns whether a
    * compaction ran. */
  def compactIfNeeded(spark: org.apache.spark.sql.SparkSession, graphPath: String,
      maxRows: Long, mergeAt: Int,
      m: Int = 16, efConstruction: Int = 128): Boolean = {
    val sizes = segmentSizes(spark, graphPath)
    val small = sizes.filter(_._2 <= maxRows)
    if (small.size < mergeAt) false
    else {
      val nRebuilt = autoSegments(small.values.sum)
      val nextSeg = math.min(sizes.keys.min, 0) - nRebuilt
      compactGraph(spark, graphPath, small.keySet, nRebuilt, nextSeg, m, efConstruction)
      true
    }
  }
}
