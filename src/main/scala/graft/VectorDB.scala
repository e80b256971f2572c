package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Result, VectorSchema}
import graft.embed.{EmbedOps, Embedder, Embedders}
import graft.filters.Filters
import graft.functions.{JsonUuid5, RoundPortableExpr, VectorFunctions}
import graft.table.VectorTable

/** The engine facade — same capabilities as the reference's
  * `ModalVectorDB` (vdb.py:13-68): named vector table + pluggable
  * embedder + dedup insert + filtered k-NN query.
  *
  * Query lifecycle (SURVEY.md §3.1): embed the query text driver-side
  * (the vector enters the plan as a literal, mirroring the reference's
  * bound `?` parameter) → scan → filter → distance projection →
  * distinct → orderBy(distance) → limit(k). Catalyst plans the
  * sort+limit as `TakeOrderedAndProject` (per-partition top-k heaps,
  * driver merge) — the same Top-N strategy DuckDB uses, but
  * partition-parallel, so it scales out with executors.
  */
class VectorDB(
    val spark: SparkSession,
    val name: String,
    val warehouse: String,
    embedderName: String = "hashing",
    embedderParams: Map[String, String] = Map.empty,
    val dim: Int = 64,
    newTable: Boolean = false) {

  val embedder: Embedder = Embedders.forName(embedderName, embedderParams)
  require(embedder.dim == dim, s"embedder dim ${embedder.dim} != table dim $dim")

  val table = new VectorTable(spark, s"$warehouse/$name", dim).create(overwrite = newTable)

  /** Bulk insert of JSON documents (reference `insert`, vdb.py:44-59).
    * When `embeddings` is absent, texts are embedded partition-parallel
    * (the reference's distributed `.map` fan-out); `embedField` selects a
    * JSON field to embed instead of the whole document (vdb.py:52-56).
    * Ids are UUIDv5 content hashes of the document (duckvdb.py:50). */
  def insert(metadatas: Dataset[String], embedField: Option[String] = None): Unit = {
    val docs = metadatas.toDF(VectorSchema.METADATA)
    val withText = docs.withColumn("__text",
      embedField match {
        case Some(f) => coalesce(get_json_object(col(VectorSchema.METADATA), s"$$.$f"),
          col(VectorSchema.METADATA))
        case None => col(VectorSchema.METADATA)
      })
    val embedded = EmbedOps.withEmbedding(withText, "__text", embedderName, embedderParams)
      .drop("__text")
    insertEmbedded(embedded)
  }

  /** Insert with caller-precomputed embeddings (vdb.py:87). `df` must
    * carry `metadata` (JSON text) and `embedding` columns. */
  def insertEmbedded(df: DataFrame): Unit = {
    val withId = df.withColumn(VectorSchema.ID, JsonUuid5.jsonUuid5Col(col(VectorSchema.METADATA)))
    table.insert(withId)
  }

  /** Filtered k-NN by query text (vdb.py:61-64 → duckvdb.py:103-120). */
  def query(text: String, k: Int = 10, filters: Seq[Filters.Pred] = Nil): Dataset[Result] =
    queryByVector(embedder.embed(text), k, filters)

  /** Filtered k-NN by query vector. `useVariant` routes the JSON-path
    * predicates through Spark 4's binary Variant (`parse_json` once per
    * row + typed `variant_get`) instead of per-predicate
    * `get_json_object` string re-parses — same semantics
    * (FiltersSpec proves agreement), faster on many-predicate filters.
    *
    * When the table carries a persisted HNSW index
    * ([[graft.table.VectorTable.buildHnswIndex]]) and the query is
    * UNFILTERED, the probe runs against the graph instead of
    * brute-forcing the corpus — the reference's own index contract
    * (duckvdb.py:37-45: the HNSW index serves unfiltered scans;
    * filtered queries bypass index access). `useIndex = false` forces
    * the exact path (the correctness baseline the index's recall gate
    * compares against). */
  def queryByVector(
      vec: Array[Float], k: Int = 10, filters: Seq[Filters.Pred] = Nil,
      useVariant: Boolean = false, useIndex: Boolean = true,
      indexFilteredProbe: Boolean = false): Dataset[Result] = {
    import spark.implicits._
    require(vec.length == dim, s"query dim ${vec.length} != table dim $dim")
    // tombstone-widened probe width, CAPPED at WidenCap·k: None past
    // the cap routes the query down the exact path (see probeWidth)
    val widened = if (useIndex && filters.isEmpty) probeWidth(k) else None
    // the graph is opened only for a route that can probe it: an exact
    // query never touches the index sidecar or lists the .hnsw files
    val hnsw =
      if (widened.isDefined || (useIndex && indexFilteredProbe)) table.hnswGraph else None
    hnsw match {
      case Some(graph) if widened.isDefined => indexedKnn(graph, vec, k, widened.get)
      // OPT-IN extension past the reference contract: route a FILTERED
      // query through the selectivity-adaptive graph probe
      // (Hnsw.probeGraphFiltered) instead of the exact corpus scan.
      // Default stays exact — approximate filtered answers are a
      // recall-gated choice, never a silent one. (Tombstone-safe at any
      // debt: the eligible set is drawn from the live view, so dead
      // rows are ineligible and the 1/selectivity oversampling prices
      // them — no unbounded widening here.)
      case Some(graph) if useIndex && indexFilteredProbe =>
        indexedFilteredKnn(graph, vec, k, filters, useVariant)
      // the other two persisted tiers (single index slot — at most one
      // of the three exists): same contract as the HNSW route —
      // unfiltered queries probe the index, filtered queries stay
      // exact (the reference's own index scope, duckvdb.py:37-45)
      // unless the caller opts into the filtered probe below
      case None if widened.isDefined && table.ivfPqIndexMeta.isDefined =>
        val (ix, codes) = table.ivfPqIndex.get
        ivfpqKnn(ix, codes, vec, k, widened.get)
      case None if widened.isDefined && table.bqIndexMeta.isDefined =>
        bqKnn(table.bqCodes.get, vec, k, widened.get)
      // tier parity for the OPT-IN filtered probe: cell-intersected
      // eligible-set search for IVF-PQ, code-side prefilter for BQ —
      // same contract as the HNSW route (eligible set from the live
      // filtered view, so tombstoned/ineligible rows never score and
      // approximation touches recall only, never filter correctness)
      case None if useIndex && indexFilteredProbe && table.ivfPqIndexMeta.isDefined =>
        ivfpqFilteredKnn(vec, k, filters, useVariant)
      case None if useIndex && indexFilteredProbe && table.bqIndexMeta.isDefined =>
        bqFilteredKnn(vec, k, filters, useVariant)
      case _ =>
        val compiled =
          if (useVariant) Filters.compileVariant(filters, col(VectorSchema.METADATA))
          else Filters.compile(filters, col(VectorSchema.METADATA))
        table.df
          .where(compiled)
          .select(
            col(VectorSchema.ID),
            col(VectorSchema.METADATA),
            VectorFunctions.cosineDistance(col(VectorSchema.EMBEDDING), typedlit(vec)).as("distance"))
          .dropDuplicates() // the reference's SELECT DISTINCT (duckvdb.py:111)
          .orderBy(col("distance").asc, col(VectorSchema.ID).asc)
          .limit(k)
          .as[Result]
    }
  }

  /** BULK k-NN — one query PER ROW of `queries` (`query_id` Long,
    * `embedding` Array[Float]): the batch-retrieval shape (RAG corpus
    * joins, eval panels) the serving loop of [[queryByVector]] is wrong
    * for. When the table carries a persisted HNSW graph and the batch
    * is unfiltered, the probe is [[graft.ops.Hnsw.probeGraphBulk]]'s
    * distributed (query × segment) cogroup — no driver-side panel, so
    * wall clock stays linear in batch size; the IVF-PQ tier routes
    * through [[graft.ops.IvfPq.search]] (distributed in both
    * dimensions) and the BQ tier through the Hamming cascade
    * (query batch broadcast — serving-to-moderate batches); otherwise
    * every query runs the exact distance pass against the (filtered)
    * corpus in ONE distributed plan. Tombstone widening and the metadata join mirror
    * the serving path. Returns (query_id, id, metadata, distance), k
    * rows per query, distance-ascending (ties on id). */
  def queryByVectors(
      queries: DataFrame, k: Int = 10, filters: Seq[Filters.Pred] = Nil,
      useVariant: Boolean = false, useIndex: Boolean = true): DataFrame = {
    val qdf = queries.select(col("query_id").as("vec_id"), col(VectorSchema.EMBEDDING))
    val widened = if (useIndex && filters.isEmpty) probeWidth(k) else None
    def liveSurrogates = table.df.select(
      xxhash64(col(VectorSchema.ID)).as("vec_id"),
      col(VectorSchema.EMBEDDING).as("embedding"))
    val hits = (if (widened.isDefined) table.hnswGraph else None) match {
      case Some(graph) if widened.isDefined =>
        val meta = table.hnswIndexMeta.get
        ops.Hnsw.probeGraphBulk(graph, qdf, widened.get, m = meta.m, excludeSelf = false)
      // bulk tier parity: the IVF-PQ probe is already distributed in
      // BOTH dimensions (probe rows equi-join the cell-pruned codes —
      // no driver panel), so a bulk batch routes straight through it;
      // the BQ cascade broadcasts the query batch against the code
      // scan — right for serving-to-moderate batch sizes (the
      // unbounded-batch shape stays the HNSW cogroup above).
      // excludeSelf = false everywhere: user query_ids and xxhash64
      // surrogates are distinct key spaces.
      case None if widened.isDefined && table.ivfPqIndexMeta.isDefined =>
        val meta = table.ivfPqIndexMeta.get
        val (ix, codes) = table.ivfPqIndex.get
        ops.IvfPq.search(qdf, ix, codes, liveSurrogates, widened.get,
          nProbe = meta.nProbe, shortlistFactor = meta.shortlistFactor,
          nProbeMax = math.min(ix.nCells, 2 * meta.nProbe), adaptRatio = 1.5,
          excludeSelf = false, keepDistance = true)
      case None if widened.isDefined && table.bqIndexMeta.isDefined =>
        val meta = table.bqIndexMeta.get
        ops.Similarity.bqTopKFromCodes(table.bqCodes.get, qdf, liveSurrogates,
          widened.get, coarseFactor = meta.coarseFactor,
          fineFactor = meta.fineFactor, excludeSelf = false,
          center = Some(meta.mean).filter(_.nonEmpty))
      case _ =>
        val compiled =
          if (useVariant) Filters.compileVariant(filters, col(VectorSchema.METADATA))
          else Filters.compile(filters, col(VectorSchema.METADATA))
        val corpus = table.df.where(compiled).select(
          xxhash64(col(VectorSchema.ID)).as("vec_id"),
          col(VectorSchema.EMBEDDING))
        // exact fallback: the broadcast-panel brute pass — right for
        // bounded (filtered / un-indexed) batches; the UNBOUNDED batch
        // path is the graph probe above, which never collects or
        // broadcasts the query side
        ops.Similarity.bruteTopK(qdf, corpus, k, excludeSelf = false)
    }
    // metadata join by surrogate against the (filtered) LIVE view:
    // tombstoned candidates drop here, then the per-query window rank
    // trims the widened probe back to k. No broadcast hint on the hits
    // side — queries×k rows broadcast only when Spark sizes them small.
    val compiled =
      if (useVariant) Filters.compileVariant(filters, col(VectorSchema.METADATA))
      else Filters.compile(filters, col(VectorSchema.METADATA))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("distance").asc, col(VectorSchema.ID).asc)
    table.df.where(compiled)
      .withColumn("__h", xxhash64(col(VectorSchema.ID)))
      .join(hits.select(col("query_id"), col("neighbor_id").as("__h"), col("distance")),
        Seq("__h"))
      .select(col("query_id"), col(VectorSchema.ID), col(VectorSchema.METADATA), col("distance"))
      .withColumn("__rk", row_number().over(w)).where(col("__rk") <= k).drop("__rk")
  }

  /** Bulk retrieval by TEXT — [[queryByVectors]] with the embedding
    * step attached: `texts` (query_id Long, text String) are embedded
    * partition-parallel through the registry embedder (the same
    * distributed map the ingest path uses), then routed through the
    * bulk probe. The full batch-RAG shape: embed the panel where it
    * lives, never collect it. */
  def queryByTexts(texts: DataFrame, k: Int = 10, filters: Seq[Filters.Pred] = Nil,
      useVariant: Boolean = false, useIndex: Boolean = true): DataFrame = {
    val embedded = EmbedOps.withEmbedding(
        texts.select(col("query_id"), col("text")), "text", embedderName, embedderParams)
      .select(col("query_id"), col(VectorSchema.EMBEDDING))
    queryByVectors(embedded, k, filters, useVariant, useIndex)
  }

  /** The shared tail of every single-query index route: the probe's
    * surfaced surrogate ids (`neighbor_id`) broadcast into a join with
    * an id+metadata column-pruned scan of `view`, then the reference's
    * DISTINCT … ORDER BY distance, id LIMIT k (duckvdb.py:111-120).
    * `distance` is the probe's exact column or a kernel recomputation
    * over the view's embedding. Tombstoned or filtered-out rows drop at
    * the join (their ids left the view); a surrogate collision merely
    * adds a spurious candidate that the limit drops. */
  private def withMetadata(view: DataFrame, hits: DataFrame, distance: Column,
      k: Int): Dataset[Result] = {
    import spark.implicits._
    view
      .withColumn("__h", xxhash64(col(VectorSchema.ID)))
      .join(broadcast(hits.withColumnRenamed("neighbor_id", "__h")), Seq("__h"))
      .select(col(VectorSchema.ID), col(VectorSchema.METADATA), distance.as("distance"))
      .dropDuplicates()
      .orderBy(col("distance").asc, col(VectorSchema.ID).asc)
      .limit(k)
      .as[Result]
  }

  /** Exact distance to `vec` over the view's embedding column — the
    * distance of the routes whose probe keeps no exact score. */
  private def kernelDistance(vec: Array[Float]): Column =
    RoundPortableExpr.r(
      VectorFunctions.cosineDistance(col(VectorSchema.EMBEDDING), typedlit(vec)), 4)

  /** The persisted-index probe, lazy end to end: nothing runs until the
    * returned Dataset does. [[graft.ops.Hnsw.probeSegments]] is one
    * map-only pass over the graph table (index and vectors co-reside):
    * each partition beam-searches its segments and scores the surfaced
    * ids exactly (portable-rounded to 4 decimals — the engine's
    * cross-engine distance contract), keeping its own top-kProbe. Those
    * candidates broadcast straight into the metadata join, whose final
    * distance-ordered limit is the only global trim, so the route needs
    * no shuffle of its own and never scans the corpus embeddings. */
  private def indexedKnn(
      graph: DataFrame, vec: Array[Float], k: Int, kProbe: Int): Dataset[Result] = {
    import spark.implicits._
    val meta = table.hnswIndexMeta.get
    val q = Seq((0L, vec)).toDF("vec_id", "embedding")
    val hits = ops.Hnsw.probeSegments(graph, q, kProbe, m = meta.m, excludeSelf = false)
    withMetadata(table.df, hits, col("distance"), k)
  }

  /** The persisted IVF-PQ probe: [[graft.ops.IvfPq.search]] prunes the
    * cell-partitioned code scan to the query's nProbe cells (a
    * directory-level PartitionFilter), ADC-ranks the codes, and
    * exact-reranks the shortlist against the LIVE surrogate vectors —
    * tombstoned candidates drop at that rerank join, and the probe is
    * widened by the tombstone count so k live rows always survive.
    * Distances for the returned rows are recomputed through the same
    * exact kernel + portable rounding as every other route. */
  private def ivfpqKnn(
      ix: ops.IvfPq.Index, codes: DataFrame, vec: Array[Float], k: Int,
      kProbe: Int): Dataset[Result] = {
    import spark.implicits._
    val meta = table.ivfPqIndexMeta.get
    // Long.MinValue query surrogate: never collides with xxhash64 ids
    // in practice, and the kernel's self-exclusion then never bites
    val q = Seq((Long.MinValue, vec)).toDF("vec_id", "embedding")
    val live = table.df
    val corpus = live.select(
      xxhash64(col(VectorSchema.ID)).as("vec_id"),
      col(VectorSchema.EMBEDDING).as("embedding"))
    // query-adaptive widening: meta.nProbe is the FLOOR; queries near
    // Voronoi boundaries (where fixed-nProbe recall is lost) probe up
    // to 2×nProbe cells within a 1.5× centroid-distance band — raises
    // the measured mean recall 0.82→0.89 (sf0.01) / 0.74→0.87 (sf0.1,
    // 50-query panel) at the same shortlist cost for interior queries
    val hits = ops.IvfPq.search(q, ix, codes, corpus, kProbe,
        nProbe = meta.nProbe, shortlistFactor = meta.shortlistFactor,
        nProbeMax = math.min(ix.nCells, 2 * meta.nProbe), adaptRatio = 1.5)
    withMetadata(live, hits, kernelDistance(vec), k)
  }

  /** The persisted BQ probe: the Hamming → sign-asymmetric → exact
    * cascade ([[graft.ops.Similarity.bqTopKFromCodes]]) scans only the
    * packed sign codes; floats are resident only for the exact-rerank
    * shortlist, which joins the LIVE surrogate vectors — tombstoned
    * candidates drop there, with the probe widened by the tombstone
    * count. */
  private def bqKnn(codes: DataFrame, vec: Array[Float], k: Int,
      kProbe: Int): Dataset[Result] = {
    import spark.implicits._
    val meta = table.bqIndexMeta.get
    val q = Seq((Long.MinValue, vec)).toDF("vec_id", "embedding")
    val live = table.df
    val corpus = live.select(
      xxhash64(col(VectorSchema.ID)).as("vec_id"),
      col(VectorSchema.EMBEDDING).as("embedding"))
    val hits = ops.Similarity.bqTopKFromCodes(codes, q, corpus, kProbe,
        coarseFactor = meta.coarseFactor, fineFactor = meta.fineFactor,
        center = Some(meta.mean).filter(_.nonEmpty))
    withMetadata(live, hits, col("distance"), k)
  }

  /** Filtered probe through the persisted IVF-PQ tier
    * ([[graft.ops.IvfPq.searchFiltered]]): the predicate's survivors
    * (live, filtered view) form the eligible surrogate set; the code
    * table is semi-joined down to it BEFORE ADC ranking, with nProbe
    * scaled by 1/selectivity (exact fallback below the cutoff). The
    * metadata join runs against the FILTERED view, so every output row
    * satisfies the predicate even under a surrogate collision. */
  private def ivfpqFilteredKnn(
      vec: Array[Float], k: Int,
      filters: Seq[Filters.Pred], useVariant: Boolean): Dataset[Result] = {
    import spark.implicits._
    val meta = table.ivfPqIndexMeta.get
    val (ix, codes) = table.ivfPqIndex.get
    val compiled =
      if (useVariant) Filters.compileVariant(filters, col(VectorSchema.METADATA))
      else Filters.compile(filters, col(VectorSchema.METADATA))
    val filteredView = table.df.where(compiled)
    val corpus = filteredView.select(
      xxhash64(col(VectorSchema.ID)).as("vec_id"),
      col(VectorSchema.EMBEDDING).as("embedding"))
    val q = Seq((Long.MinValue, vec)).toDF("vec_id", "embedding")
    val hits = ops.IvfPq.searchFiltered(q, ix, codes, corpus, k,
        eligible = corpus.select(col("vec_id")),
        nProbe = meta.nProbe, shortlistFactor = meta.shortlistFactor)
    withMetadata(filteredView, hits, kernelDistance(vec), k)
  }

  /** Filtered probe through the persisted BQ tier: a CODE-SIDE
    * prefilter — the packed sign codes are semi-joined down to the
    * predicate's eligible surrogates before the Hamming cascade, so
    * ineligible rows never enter any shortlist and the recall
    * character equals the unfiltered cascade's (no cell pruning to
    * compensate for; at tight selectivities the coarse shortlist
    * covers the whole eligible set and the cascade degenerates to
    * exact). */
  private def bqFilteredKnn(
      vec: Array[Float], k: Int,
      filters: Seq[Filters.Pred], useVariant: Boolean): Dataset[Result] = {
    import spark.implicits._
    val meta = table.bqIndexMeta.get
    val compiled =
      if (useVariant) Filters.compileVariant(filters, col(VectorSchema.METADATA))
      else Filters.compile(filters, col(VectorSchema.METADATA))
    val filteredView = table.df.where(compiled)
    val corpus = filteredView.select(
      xxhash64(col(VectorSchema.ID)).as("vec_id"),
      col(VectorSchema.EMBEDDING).as("embedding"))
    val eligCodes = table.bqCodes.get.join(
      corpus.select(col("vec_id").as("neighbor_id")), Seq("neighbor_id"), "left_semi")
    val q = Seq((Long.MinValue, vec)).toDF("vec_id", "embedding")
    val hits = ops.Similarity.bqTopKFromCodes(eligCodes, q, corpus, k,
        coarseFactor = meta.coarseFactor, fineFactor = meta.fineFactor,
        center = Some(meta.mean).filter(_.nonEmpty))
    withMetadata(filteredView, hits, col("distance"), k)
  }

  /** Filtered probe through the persisted graph: the predicate compiles
    * against the table view, the survivors' SURROGATE ids (xxhash64 of
    * the string id — the graph's key space) form the eligible set, and
    * [[graft.ops.Hnsw.probeGraphFiltered]] widens the per-segment
    * search by 1/selectivity (exact fallback below the cutoff). The
    * metadata join runs against the FILTERED table view, so every
    * output row satisfies the predicate even under a surrogate
    * collision — approximation affects recall only, never filter
    * correctness. */
  private def indexedFilteredKnn(
      graph: DataFrame, vec: Array[Float], k: Int,
      filters: Seq[Filters.Pred], useVariant: Boolean): Dataset[Result] = {
    import spark.implicits._
    val meta = table.hnswIndexMeta.get
    val compiled =
      if (useVariant) Filters.compileVariant(filters, col(VectorSchema.METADATA))
      else Filters.compile(filters, col(VectorSchema.METADATA))
    val filteredView = table.df.where(compiled)
    val eligible = filteredView
      .select(xxhash64(col(VectorSchema.ID)).as("vec_id"))
    val q = Seq((0L, vec)).toDF("vec_id", "embedding")
    // totalHint = the index-size stat maintained at build/append time:
    // the probe prices selectivity from metadata + one filtered-scan
    // count instead of two graph-sized jobs per query
    val hits = ops.Hnsw.probeGraphFiltered(graph, q, k, eligible,
        m = meta.m, excludeSelf = false, totalHint = meta.rows)
    withMetadata(filteredView, hits, col("distance"), k)
  }

  /** Tombstone-widened probe width, CAPPED at [[VectorDB.WidenCap]]·k.
    *
    * Merge-on-read deletes never rewrite a persisted index, so every
    * tombstoned-but-indexed row can occupy a probe slot: the probe
    * widens to k + tombstones so k LIVE rows always survive the
    * metadata join (worst case: the k nearest are all deleted). Left
    * unbounded, that widening grows linearly with delete debt — a
    * 10%-deleted 1 B-row table would ask the index for 100 M
    * candidates, and the per-segment beam with it. So the widening is
    * capped: Some(k + tombstones) while that stays ≤ WidenCap·k; None
    * past the cap, routing the query down the EXACT path — correct at
    * any debt, and past the cap the probe beam would be doing
    * brute-force-sized work anyway (measured crossover: see WidenCap).
    * [[indexDeleteDebt]] tells the caller a rebuild is due. */
  private[graft] def probeWidth(k: Int): Option[Int] = {
    val t = table.tombstoneCount
    if (t <= (VectorDB.WidenCap - 1L) * k) Some(k + t.toInt) else None
  }

  /** Delete debt of the persisted index: tombstoned / indexed rows
    * (indexed = live + tombstoned, since merge-on-read deletes never
    * rewrite the index). The rebuild-scheduling signal: queries stay
    * correct at any debt (widened probe under the cap, exact fallback
    * past it), but past-cap queries stop benefiting from the index —
    * vacuum() folds the debt and rebuilds the active tier. Costs one
    * count job; a metadata read when no delete ever ran. */
  def indexDeleteDebt: Double = {
    val t = table.tombstoneCount
    if (t == 0L) 0.0 else t.toDouble / (table.numRows + t)
  }

  def numRows: Long = table.numRows
}

object VectorDB {

  /** Opens the facade over a CATALOG-registered gvdb table name
    * (`"cat.ns.table"`): resolves through the session's catalog
    * manager to the table's data root (managed directory or external
    * LOCATION), so the host-language facade and the SQL surfaces
    * operate on the SAME files — the reference's one-name-one-database
    * contract (vdb.py:15-16) across both access styles. */
  def forName(spark: SparkSession, qualifiedName: String,
      embedderName: String = "hashing",
      embedderParams: Map[String, String] = Map.empty,
      dim: Int = 64): VectorDB = {
    val parts = spark.sessionState.sqlParser.parseMultipartIdentifier(qualifiedName)
    require(parts.length >= 2, s"expected catalog.[ns.]table, got '$qualifiedName'")
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(
      parts.tail.init.toArray, parts.last)
    spark.sessionState.catalogManager.catalog(parts.head) match {
      case tc: org.apache.spark.sql.connector.catalog.TableCatalog =>
        tc.loadTable(ident) match {
          case g: graft.sources.GvdbTable =>
            val root = g.dataRoot
            val cut = root.lastIndexOf('/')
            new VectorDB(spark, root.substring(cut + 1), root.substring(0, cut),
              embedderName, embedderParams, dim)
          case other => throw new IllegalArgumentException(
            s"'$qualifiedName' is not a gvdb table (${other.getClass.getName})")
        }
      case _ => throw new IllegalArgumentException(
        s"'${parts.head}' is not a table catalog")
    }
  }
  /** Probe-widening cap factor c: an indexed probe widens to at most
    * c·k candidates under tombstone delete debt, then falls back to
    * the exact path ([[VectorDB.probeWidth]]).
    *
    * Measured (200k × dim-64 corpus, local[32], k=10, min-of-3; see
    * BENCHNOTES.md widen-cap row): the graph probe is latency-FLAT
    * through the cap region — c=4 (kProbe=40) times within noise of
    * the undeleted probe (~1.0 s) — and the exact fallback costs only
    * ~1.3× that, while the uncapped probe grows with debt (2.1× by
    * kProbe = 10 240 = 5% of the corpus, past the exact scan). Latency
    * is the lesser hazard, though: kProbe candidates are COLLECTED and
    * broadcast in the metadata join, and the per-segment beam holds
    * ≥ kProbe entries per query — both linear in delete debt if
    * unbounded (a 10%-deleted 1 B-row table would probe for 100 M
    * candidates). Since results are identical on both sides of the cap
    * (the exact path is the recall oracle), the cap is set at the
    * SMALLEST factor that keeps routine maintenance debt (deletes
    * ≤ 3·k between vacuums) on the index: past that, the right spend
    * is a rebuild, not a wider beam — [[VectorDB.indexDeleteDebt]] is
    * the signal. */
  val WidenCap = 4
}
