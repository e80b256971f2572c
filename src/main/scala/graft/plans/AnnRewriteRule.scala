package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StringType}

import graft.functions.{CosineDistance, LshBucketsExpr}

/** Opt-in optimizer rule (SURVEY.md §4 stretch goal): rewrites a
  * brute-force cosine top-k plan —
  *
  * {{{ Limit(k, Sort(distance ASC, ..., Project(..., cosine_distance(emb, <literal qvec>) AS distance, child))) }}}
  *
  * — into an index-assisted plan. Two probe shapes, tried in order:
  *
  *  1. **Persisted index tier** — whichever of the single index slot's
  *     three shapes the table carries
  *     ([[graft.table.VectorTable.buildHnswIndex]] graph /
  *     [[graft.table.VectorTable.buildIvfPqIndex]] codes /
  *     [[graft.table.VectorTable.buildBqIndex]] sign codes): when the
  *     plan bottoms out at a BARE scan of a table with an index
  *     sidecar, the rule probes that index AT PLANNING TIME (the
  *     classic planner-consults-index move: beam-search the graph /
  *     ADC-rank the cell-pruned codes / run the Hamming cascade for
  *     the query literal, collect the k+slack candidate row keys) and
  *     plants `xxhash64(id) IN (<candidates>)` below the distance
  *     projection — the scan then evaluates one hash + set probe per
  *     row instead of a 2·dim-flop distance, and the distance
  *     expression runs over ≤ k+slack rows, semantically UNCHANGED
  *     (same kernel, same rounding, same ordering — only the candidate
  *     set is approximate). Bare scan only: a predicate between the
  *     projection and the scan would make a global top-k candidate
  *     list under-return, so filtered plans fall through to shape 2.
  *  2. **LSH bucket prefilter**: rows whose stored (or inline-computed)
  *     sign-random-projection buckets collide with the query's in any
  *     hash table are scored; everything else is skipped.
  *
  * Both are approximate (recall < 1 possible), so the rule is OFF by
  * default and enabled per session:
  *
  *   - `spark.graft.ann.autoRewrite=true` to enable,
  *   - `spark.graft.ann.tables` / `spark.graft.ann.bits` /
  *     `spark.graft.ann.seed` to tune the LSH shape.
  *
  * At scale the win is the scored-row count: the graph probe scores
  * O(k) rows; the bucket prefilter keeps ~tables/2^B of the corpus —
  * either way the Parquet scan stays partition-parallel.
  */
class AnnRewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private def conf(key: String, default: String): String =
    spark.sessionState.conf.getConfString(key, default)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf("spark.graft.ann.autoRewrite", "false").toBoolean) return plan
    plan.transformDown {
      case limit @ GlobalLimit(_, LocalLimit(_, lchild)) =>
        // a column-pruning Project may sit between limit and sort (the
        // optimizer pushes the outer SELECT's pruning below the limit —
        // the shape every SQL/TVF top-k takes); look through it and
        // re-wrap on rewrite
        val (rewrap, core) = stripPruningProjects(lchild)
        core match {
          case sort @ Sort(SortOrder(distAttr: Attribute, Ascending, _, _) +: _, true, sortChild, _) =>
            val k = limit.limitExpr match {
              case Literal(i: Int, _) => i
              case _ => -1
            }
            var done = false
            val newChild = sortChild.transformDown {
              case p @ Project(projList, pchild) if !done && definesCosineDistance(projList, distAttr).isDefined =>
                val (embAttr, qvec) = definesCosineDistance(projList, distAttr).get
                done = true
                pchild match {
                  // idempotence: the optimizer batch runs rules to fixpoint —
                  // if a probe predicate (either shape) is already in place,
                  // leave the plan unchanged instead of stacking another
                  // copy per iteration
                  case Filter(cond, _) if cond.exists(e =>
                      e.isInstanceOf[ArraysOverlap] || isProbeInFilter(e)) => p
                  case _ =>
                    graphProbeFilter(pchild, qvec, k)
                      .orElse(bucketPredicate(embAttr, qvec, pchild)) match {
                      case Some(probePred) => Project(projList, Filter(probePred, pchild))
                      case None => p // no profitable shape: keep the exact plan
                    }
                }
            }
            if (done) GlobalLimit(limit.limitExpr,
              LocalLimit(limit.limitExpr, rewrap(sort.copy(child = newChild))))
            else limit
          case _ => limit
        }
    }
  }

  /** Peels attribute-only Projects, returning a function that restores
    * them around a rewritten child. */
  private def stripPruningProjects(p: LogicalPlan): (LogicalPlan => LogicalPlan, LogicalPlan) =
    p match {
      case pr: Project if pr.projectList.forall(_.isInstanceOf[Attribute]) =>
        val (f, core) = stripPruningProjects(pr.child)
        (child => pr.copy(child = f(child)), core)
      case other => (identity, other)
    }

  private def isProbeInFilter(e: Expression): Boolean = e match {
    case In(_: XxHash64, _) => true
    case InSet(_: XxHash64, _) => true
    case _ => false
  }

  /** projList entry `Alias(CosineDistance(attr, Literal), name)` whose
    * exprId matches the sort attribute. A monotonic rounding wrapper
    * (`round_portable`, used by every oracle-compared query) is looked
    * through: rank order under round(d) is compatible with rank order
    * under d, so the bucket prefilter stays valid. */
  private def definesCosineDistance(
      projList: Seq[NamedExpression], distAttr: Attribute): Option[(Attribute, ArrayData)] =
    projList.collectFirst {
      case a @ Alias(CosineDistance(emb: Attribute, Literal(q: ArrayData, ArrayType(FloatType, _))), _)
          if a.exprId == distAttr.exprId => (emb, q)
      case a @ Alias(graft.functions.RoundPortableExpr(
            CosineDistance(emb: Attribute, Literal(q: ArrayData, ArrayType(FloatType, _))), _), _)
          if a.exprId == distAttr.exprId => (emb, q)
    }

  // ---- shape 1: the persisted-graph probe ----

  /** The single parquet root of a bare scan (no filters, no joins —
    * only column-pruning projections between `plan` and the relation);
    * None when the plan is anything else. */
  private def bareScanPath(plan: LogicalPlan): Option[String] = plan match {
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation if fs.location.rootPaths.length == 1 =>
        Some(fs.location.rootPaths.head.toString)
      // the gvdb format's relation (covers the gvdb_knn TVF's plan —
      // SQL users get the same planning-time index consult); a
      // version-pinned snapshot reports None (index tracks the live
      // table)
      case g: graft.sources.GvdbRelation => g.indexableRoot
      case _ => None
    }
    // the gvdb format's V2 table (covers spark.read.format("gvdb"),
    // USING gvdb temp views, the gvdb TVFs and catalog tables — SQL
    // users get the same planning-time index consult). Injected-rule
    // invocations see the pre-pushdown relation; extraOptimizations
    // ones run after pushdown and see the ScanRelation wrapper.
    case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
      r.table match {
        case g: graft.sources.GvdbTable => g.indexableRoot
        case _ => None
      }
    case sr: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
      sr.relation.table match {
        case g: graft.sources.GvdbTable => g.indexableRoot
        case _ => None
      }
    case p: Project if p.projectList.forall(_.isInstanceOf[Attribute]) =>
      bareScanPath(p.child)
    case _ => None
  }

  /** Distinct tombstoned ids of the root's merge-on-read side table —
    * the probe-widening bound. Zero-cost (one existence check) when no
    * delete ever ran; one id-column distinct-count job otherwise. */
  private def tombstoneDebt(root: String): Long = {
    val p = new org.apache.hadoop.fs.Path(root + ".tombstones")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else scala.util.Try(
      spark.read.parquet(p.toString)
        .select(graft.core.VectorSchema.ID).distinct().count()).getOrElse(0L)
  }

  private def sidecarText(path: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      Some(try scala.io.Source.fromInputStream(in).mkString finally in.close())
    }
  }

  /** `m` from the table's persisted HNSW meta sidecar, if the scan
    * root has one (the probe must search with the build's `m` — levels
    * derive from it). */
  private def hnswM(root: String): Option[Int] =
    sidecarText(root + ".hnsw_index.json").flatMap(txt =>
      """"m"\s*:\s*(\d+)""".r.findFirstMatchIn(txt).map(_.group(1).toInt))

  /** (nProbe, shortlistFactor) from an IVF-PQ meta sidecar — the
    * build-pinned probe defaults the recall gates were measured at. */
  private def ivfpqParams(root: String): Option[(Int, Int)] =
    sidecarText(root + ".ivfpq_index.json").flatMap(txt =>
      """"nProbe"\s*:\s*(\d+).*"shortlistFactor"\s*:\s*(\d+)""".r
        .findFirstMatchIn(txt).map(g => (g.group(1).toInt, g.group(2).toInt)))

  /** (coarseFactor, fineFactor) from a BQ meta sidecar. */
  /** BQ tier parameters INCLUDING the centering mean — read through
    * the table's own meta parser so the consult probes centered codes
    * with a centered query (the sidecar's contract). */
  private def bqParams(root: String): Option[(Int, Int, Seq[Float])] =
    if (sidecarText(root + ".bq_index.json").isEmpty) None
    else new graft.table.VectorTable(spark, root, 1).bqIndexMeta
      .map(m => (m.coarseFactor, m.fineFactor, m.mean))

  /** Probes whichever persisted index tier the scan root carries
    * (.hnsw graph, .ivfpq codes+artifact, .bq sign codes — the single
    * index slot, so at most one exists) for the plan's query literal
    * and returns the candidate-key IN-predicate, or None when any
    * precondition fails (no bare scan, no sidecar, no string `id`
    * column — the key the surrogates were built over — or no literal
    * limit). The probe itself runs here, at planning time, exactly
    * like a B-tree consult: k + 8 candidates (slack absorbs rounding
    * ties at the k boundary), one tiny job over the index artifact. */
  private def graphProbeFilter(
      pchild: LogicalPlan, qvec: ArrayData, k: Int): Option[Expression] = {
    if (k <= 0) return None
    (for {
      root <- bareScanPath(pchild)
      idAttr <- pchild.output.find(a =>
        a.name == graft.core.VectorSchema.ID && a.dataType == StringType)
      // merge-on-read delete debt: the persisted index still carries
      // tombstoned rows, and on a gvdb scan the MoR anti-join removes
      // them ABOVE the planted candidate filter — so the probe must
      // widen by the tombstone count or the query under-returns
      // (< k live rows). Same capped-widening rule as the facade
      // (VectorDB.probeWidth): past WidenCap·k the widened beam is
      // doing brute-force-sized work, so the rewrite abstains and the
      // plan stays exact.
      debt = tombstoneDebt(root)
      if debt <= (graft.VectorDB.WidenCap - 1L) * k
    } yield {
      import spark.implicits._
      import org.apache.spark.sql.{functions => F}
      // +8 slack absorbs rounding ties at the k boundary; +debt keeps
      // k LIVE candidates under merge-on-read deletes
      val kProbe = k + 8 + debt.toInt
      // surrogate-keyed live vectors for the code tiers' exact rerank
      def corpus = spark.read.parquet(root).select(
        F.xxhash64(F.col(graft.core.VectorSchema.ID)).as("vec_id"),
        F.col(graft.core.VectorSchema.EMBEDDING).as("embedding"))
      // Long.MinValue query key: disjoint from xxhash64 surrogates, so
      // the kernels' self-exclusion never bites
      def q = Seq((Long.MinValue, qvec.toFloatArray)).toDF("vec_id", "embedding")
      // an EMPTY candidate list (empty index) must fall through to the
      // bucket-prefilter shape: In(hash, Nil) would constant-fold to
      // false and the query would silently return zero rows instead of
      // an approximate answer. Same fallthrough for an UNREADABLE index
      // (sidecar present, artifact lost) — a planning-time index
      // consult must degrade, never fail the query.
      val hits = scala.util.Try {
        hnswM(root) match {
          case Some(m) =>
            val graph = graft.ops.Hnsw.readGraph(spark, root + ".hnsw")
            val qg = Seq((0L, qvec.toFloatArray)).toDF("vec_id", "embedding")
            // the map-only pass's partition-local lists are a superset of
            // the global top-kProbe; the exact scoring above the IN-filter
            // ranks them, so no window is needed here
            graft.ops.Hnsw.probeSegments(graph, qg, kProbe, m = m, excludeSelf = false)
              .select("neighbor_id").collect().map(_.getLong(0))
          case None => ivfpqParams(root) match {
            case Some((nProbe, slf)) =>
              val (ix, codes) = graft.ops.IvfPq.loadIndex(spark, root + ".ivfpq")
              graft.ops.IvfPq.search(q, ix, codes, corpus, kProbe,
                  nProbe = nProbe, shortlistFactor = slf,
                  nProbeMax = math.min(ix.nCells, 2 * nProbe), adaptRatio = 1.5)
                .select("neighbor_id").collect().map(_.getLong(0))
            case None => bqParams(root) match {
              case Some((cf, ff, mean)) =>
                val codes = spark.read.parquet(root + ".bq")
                graft.ops.Similarity.bqTopKFromCodes(codes, q, corpus, kProbe,
                    coarseFactor = cf, fineFactor = ff,
                    center = Some(mean).filter(_.nonEmpty))
                  .select("neighbor_id").collect().map(_.getLong(0))
              case None => Array.empty[Long]
            }
          }
        }
      }.getOrElse(Array.empty[Long])
      if (hits.isEmpty) None
      else Some(In(new XxHash64(Seq(idAttr)), hits.toSeq.sorted.map(Literal(_))))
    }).flatten
  }

  // ---- shape 2: the LSH bucket prefilter ----

  private def bucketPredicate(
      embAttr: Attribute, qvec: ArrayData, pchild: LogicalPlan): Option[Expression] = {
    val dim = qvec.numElements()
    val tables = conf("spark.graft.ann.tables", "8").toInt
    val bits = conf("spark.graft.ann.bits", "12").toInt
    val seed = conf("spark.graft.ann.seed", "42").toLong
    // Prefer the PERSISTED index column (VectorTable.buildAnnIndex, the
    // reference's index-on-bulk-load): filtering on stored buckets costs
    // one array-overlap per row; recomputing lsh_buckets inline costs
    // tables × bits projections per row — more than the distance it
    // avoids. Inline compute remains the un-indexed fallback.
    val stored = pchild.output.find(a =>
      a.name == graft.core.VectorSchema.ANN_BUCKETS &&
        a.dataType.isInstanceOf[ArrayType] &&
        a.dataType.asInstanceOf[ArrayType].elementType == LongType)
    // a gvdb-format scan HIDES the stored bucket column (internal
    // sidecar columns never leak through the format schema), so on an
    // LSH-indexed gvdb root the stored-bucket fast path can never fire
    // — and the inline fallback would PESSIMIZE (tables × bits
    // projections per row > the distance scan it avoids). Abstain:
    // the exact plan is the better plan there.
    val lshIndexedButHidden = stored.isEmpty &&
      bareScanPath(pchild).exists(root => sidecarText(root + ".ann_index.json").isDefined)
    if (lshIndexedButHidden) None
    else {
      val bucketsExpr = stored.getOrElse(LshBucketsExpr(embAttr, dim, tables, bits, seed))
      // query buckets computed once here on the driver, shipped as a literal
      val qBuckets = LshBucketsExpr(Literal(qvec, ArrayType(FloatType)), dim, tables, bits, seed)
        .eval(null).asInstanceOf[ArrayData]
      Some(ArraysOverlap(bucketsExpr,
        Literal(qBuckets.copy(), ArrayType(LongType, containsNull = false))))
    }
  }
}
