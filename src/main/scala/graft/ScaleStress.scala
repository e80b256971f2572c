package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale-stress harness: runs the heavy dedup/CC/decontamination/stream
  * queries against a synthesized 10× (sf1-equivalent) corpus under the
  * same local[32] budget, measuring wall time and spill/shuffle bytes —
  * the evidence that the "designed for 100 TB" plan shapes actually
  * scale ≲ linearly (results recorded in BENCHNOTES.md).
  *
  * The 10× corpus is derived from the sf0.1 fixtures by unioning
  * `copies` TRANSLITERATED copies: copy k rotates the lowercase
  * alphabet by k inside `text`, so token hashes, shingles, simhashes
  * and winnow fingerprints all differ across copies and the
  * near-duplicate STRUCTURE scales linearly (10× the clusters) —
  * verbatim copies would instead weld every document into a 10-clique
  * and blow the pair count up quadratically, measuring the synthetic
  * data rather than the engine. Ids are offset per copy so copies
  * never join. Events keep their timestamps (10× the keys, same time
  * range — the streaming state grows by key cardinality, which is the
  * axis that matters). Scratch data lives under /tmp like the layout
  * queries' temp dirs; /root/testdata is never written.
  *
  * Usage: `runMain graft.ScaleStress [query...]` — defaults to the six
  * heavy queries from the round-3 review. Env:
  * SPARK_GRAFT_STRESS_SRC (default /root/testdata/sf0.1),
  * SPARK_GRAFT_STRESS_DIR (default /tmp/graft-sf1),
  * SPARK_GRAFT_STRESS_COPIES (default 10),
  * SPARK_GRAFT_STRESS_BASELINE=0 to skip the sf0.1 baseline pass.
  */
object ScaleStress {

  private def rotate(s: String, k: Int): String = {
    val r = k % s.length
    s.drop(r) + s.take(r)
  }

  /** Copy-k transliteration — a DISTINCT bijective char map for every
    * k < 130. The letter rotation alone repeats at k = 26, which would
    * make copy 26 a VERBATIM copy of copy 0 (different doc_ids) and
    * weld cross-copy cliques; composing with a vowel-cycle keyed by
    * k/26 keeps all 26 × 5 combinations distinct, so token identity
    * breaks across every pair of copies at 100× too. */
  private def transliterate(c: org.apache.spark.sql.Column, k: Int): org.apache.spark.sql.Column = {
    val abc = "abcdefghijklmnopqrstuvwxyz"
    val vow = "aeiou"
    translate(translate(c, abc, rotate(abc, k % 26)), vow, rotate(vow, (k / 26) % 5))
  }

  /** Synthesizes `target/embeddings.parquet` as `copies`×src: copy k
    * circularly shifts the 64 dims by k mod 64 (same norms, distinct
    * vectors for k < 64) with offset ids — a corpus-dimension stress
    * fixture for the ANN family (perf evidence; recall gates stay on
    * the real fixtures). */
  def generateEmbeddings(spark: SparkSession, src: String, target: String, copies: Int): Unit = {
    import spark.implicits._
    if (new java.io.File(s"$target/embeddings.parquet").exists) return
    new java.io.File(target).mkdirs()
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    (0 until copies).map { k =>
      val r = k % 64
      val shifted =
        if (r == 0) $"embedding"
        else expr(s"concat(slice(embedding, ${r + 1}, ${64 - r}), slice(embedding, 1, $r))")
      emb.select(($"vec_id" + lit(k * 10000000L)).as("vec_id"),
        shifted.as("embedding"), $"label")
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$target/embeddings.parquet")
  }

  /** Synthesizes `target/{documents,events}.parquet` as `copies`×src.
    * Events stay ONE FILE named events.parquet — the streaming source
    * glob-filters on that exact file name. */
  def generate(spark: SparkSession, src: String, target: String, copies: Int): Unit = {
    import spark.implicits._
    if (new java.io.File(s"$target/documents.parquet").exists &&
        new java.io.File(s"$target/events.parquet").exists) return
    new java.io.File(target).mkdirs()
    val docs = spark.read.parquet(s"$src/documents.parquet")
    (0 until copies).map { k =>
      docs.select(($"doc_id" + lit(k * 10000000L)).as("doc_id"),
        transliterate($"text", k).as("text"),
        $"lang", $"source", $"n_chars")
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$target/documents.parquet")
    val ev = spark.read.parquet(s"$src/events.parquet") // ts copied as stored (any encoding)
    val evX = (0 until copies).map { k =>
      ev.select(($"event_id" + lit(k * 100000000L)).as("event_id"), $"ts",
        ($"user_id" + lit(k * 10000000L)).as("user_id"),
        $"event_type", $"value", $"props")
    }.reduce(_ unionByName _)
    val tmp = s"$target/__events_tmp"
    evX.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles
      .find(_.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no parquet part written under $tmp"))
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$target/events.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    new java.io.File(tmp).listFiles.foreach(_.delete())
    new java.io.File(tmp).delete()
  }

  /** Synthesizes `target/customer.parquet` as `copies`×src with keys
    * offset per copy and names REGENERATED from the new key (same
    * `Customer#%09d` shape the blocking join parses), so the fuzzy-ER
    * block distribution scales the way a real customer table would. */
  def generateCustomer(spark: SparkSession, src: String, target: String, copies: Int): Unit = {
    import spark.implicits._
    if (new java.io.File(s"$target/customer.parquet").exists) return
    new java.io.File(target).mkdirs()
    val cust = spark.read.parquet(s"$src/customer.parquet")
    (0 until copies).map { k =>
      cust.select(($"c_custkey" + lit(k * 1000000L)).as("c_custkey"),
        $"c_nationkey", $"c_acctbal", $"c_mktsegment")
    }.reduce(_ unionByName _)
      .withColumn("c_name", format_string("Customer#%09d", $"c_custkey"))
      .write.mode("overwrite").parquet(s"$target/customer.parquet")
  }

  /** Synthesizes `target/{orders,lineitem}.parquet` as `copies`×src:
    * order/part/supplier keys offset per copy (orders join their own
    * copy's customers via the `generateCustomer` offset scheme; parts
    * never co-occur across copies, so market-basket pair counts scale
    * linearly instead of welding cross-copy cliques), dates / statuses
    * / amounts kept — the SCD2 run-length structure and the regression
    * moments scale in rows, not in distribution. */
  def generateRelational(spark: SparkSession, src: String, target: String, copies: Int): Unit = {
    import spark.implicits._
    // fixed-cardinality dimensions copy verbatim: region/nation are
    // bounded by geography (customer copies keep c_nationkey in the
    // same 0..24 space), supplier by the fixture's supplier count —
    // scaling them would break the FK semantics the joins exercise
    new java.io.File(target).mkdirs()
    Seq("region", "nation", "supplier").foreach { tname =>
      if (!new java.io.File(s"$target/$tname.parquet").exists &&
          new java.io.File(s"$src/$tname.parquet").exists)
        spark.read.parquet(s"$src/$tname.parquet")
          .write.mode("overwrite").parquet(s"$target/$tname.parquet")
    }
    if (new java.io.File(s"$target/orders.parquet").exists &&
        new java.io.File(s"$target/lineitem.parquet").exists &&
        new java.io.File(s"$target/part.parquet").exists) return
    if (new java.io.File(s"$target/orders.parquet").exists &&
        new java.io.File(s"$target/lineitem.parquet").exists) {
      // fixture predates the part table — backfill just that file
      val pt0 = spark.read.parquet(s"$src/part.parquet")
      (0 until copies).map { k =>
        pt0.select(($"p_partkey" + lit(k * 1000000L)).as("p_partkey"),
          $"p_name", $"p_brand", $"p_type", $"p_size", $"p_retailprice")
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$target/part.parquet")
      return
    }
    new java.io.File(target).mkdirs()
    val ord = spark.read.parquet(s"$src/orders.parquet")
    (0 until copies).map { k =>
      ord.select(($"o_orderkey" + lit(k * 100000000L)).as("o_orderkey"),
        ($"o_custkey" + lit(k * 1000000L)).as("o_custkey"),
        $"o_orderstatus", $"o_totalprice", $"o_orderdate", $"o_orderpriority")
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$target/orders.parquet")
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    (0 until copies).map { k =>
      li.select(($"l_orderkey" + lit(k * 100000000L)).as("l_orderkey"),
        ($"l_partkey" + lit(k * 1000000L)).as("l_partkey"),
        ($"l_suppkey" + lit(k * 1000000L)).as("l_suppkey"),
        $"l_linenumber", $"l_quantity", $"l_extendedprice", $"l_discount",
        $"l_tax", $"l_returnflag", $"l_linestatus", $"l_shipdate")
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$target/lineitem.parquet")
    // parts: keys offset, brand/price/size kept — per-brand groups
    // (the skyline sweep's partitions) scale in rows, frontiers stay
    // distribution-realistic
    val pt = spark.read.parquet(s"$src/part.parquet")
    (0 until copies).map { k =>
      pt.select(($"p_partkey" + lit(k * 1000000L)).as("p_partkey"),
        $"p_name", $"p_brand", $"p_type", $"p_size", $"p_retailprice")
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$target/part.parquet")
  }

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_STRESS_SRC", "/root/testdata/sf0.1")
    val target = sys.env.getOrElse("SPARK_GRAFT_STRESS_DIR", "/tmp/graft-sf1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_STRESS_COPIES", "10").toInt
    val baseline = sys.env.getOrElse("SPARK_GRAFT_STRESS_BASELINE", "1") == "1"
    val names = if (args.nonEmpty) args.toSeq
    else Seq("dedup_minhash_lsh", "sim_decontaminate", "ml_minhash_dedup",
      "dedup_components", "dedup_keep_one", "stream_interval_join")
    // Shuffle partitions scale with the corpus (the brief's sizing rule:
    // partitions must fit the executor memory budget at the target SF) —
    // 32 at the 10× round, 320 at 100×; a fixed 32 over a 100× corpus
    // makes ~700 MB reduce partitions whose sort buffers spill under the
    // 8 GiB harness heap, which measures the partition SIZING, not the
    // plan. Overridable via SPARK_GRAFT_STRESS_PARTITIONS.
    val shufParts = sys.env.getOrElse("SPARK_GRAFT_STRESS_PARTITIONS",
      math.max(32, math.min(512, 32 * copies / 10)).toString)
    val spark = graft.core.Sessions.local(32,
      "spark.sql.shuffle.partitions" -> shufParts,
      // recursive-CTE safety valve scales with the corpus: the digit
      // walk emits ~|customer|·depth rows, which crosses the 1M
      // default at the 10× corpus (a conf guard, not a plan hazard —
      // the per-iteration frontier join stays keyed and bounded)
      "spark.sql.cteRecursionRowLimit" -> (100000000L).toString)
    generate(spark, src, target, copies)
    generateEmbeddings(spark, src, target, copies)
    generateCustomer(spark, src, target, copies)
    generateRelational(spark, src, target, copies)

    val spillMem = new java.util.concurrent.atomic.AtomicLong
    val spillDisk = new java.util.concurrent.atomic.AtomicLong
    val shufWrite = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null) {
          spillMem.addAndGet(m.memoryBytesSpilled)
          spillDisk.addAndGet(m.diskBytesSpilled)
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })
    spark.range(1000000).selectExpr("sum(id * 2)").collect() // codegen warmup

    def run(name: String, dir: String, tag: String): Double = {
      val (m0, d0, w0) = (spillMem.get, spillDisk.get, shufWrite.get)
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir).queryExecution.toRdd.foreach(_ => ())
      val secs = (System.nanoTime() - t0) / 1e9
      graft.core.PlanCache.release(spark) // transient caches die with the run
      Thread.sleep(500) // listener bus is async; let stage metrics drain
      println(f"[stress] $tag%-6s $name%-22s $secs%8.2f s" +
        f"  spillMem=${(spillMem.get - m0) / 1048576}%5d MB" +
        f"  spillDisk=${(spillDisk.get - d0) / 1048576}%5d MB" +
        f"  shufWrite=${(shufWrite.get - w0) / 1048576}%5d MB")
      secs
    }

    for (name <- names) {
      if (name == "ivfpq_bulk") ivfpqBulk(spark, src)
      else if (name == "ivfpq_corpus") ivfpqCorpus(spark, src, target, copies)
      else if (name == "hnsw_corpus") hnswCorpus(spark, src, target, copies)
      else if (name == "hnsw_bulk") hnswBulk(spark, src)
      else if (name == "vdb_bulk") vdbBulk(spark, src)
      else if (name == "hnsw_compact") hnswCompact(spark, src, target, copies)
      else if (name == "tier_serving") tierServing(spark, src, target, copies)
      else if (name == "widen_debt") widenDebt(spark, src, target, copies)
      else if (name == "semantic_scaled") semanticScaled(spark, src, target, copies)
      else if (name == "gvdb_source") gvdbSource(spark, src, target, copies)
      else if (name == "gvdb_stream") gvdbStream(spark, src, target, copies)
      else if (name == "gvdb_changes") gvdbChanges(spark, src, target, copies)
      else if (name == "gvdb_manyfiles") gvdbManyFiles(spark)
      else if (name == "tier_recall_384") tierRecall384(spark, src)
      else if (name == "gvdb_merge") gvdbMerge(spark, src, target, copies)
      else if (name == "gvdb_victim_lookup") gvdbVictimLookup(spark, src, target, copies)
      else if (name == "gvdb_victim_bloom") gvdbVictimBloom(spark, src, target, copies)
      else if (name == "gvdb_compact_tail") gvdbCompactTail(spark, src, target, copies)
      else if (name == "gvdb_filter_pruned") gvdbFilterPruned(spark, src, target, copies)
      else if (name == "graph_distributed") graphDistributed(spark, src)
      else {
        val base = if (baseline) run(name, src, "sf0.1") else 0.0
        val big = run(name, target, s"sf1")
        if (baseline && base > 0)
          println(f"[stress] ratio  $name%-22s ${big / base}%8.2fx for ${copies}x data")
      }
    }
    SparkEntry.releaseSessionCaches(spark)
    spark.stop()
  }

  /** The DISTRIBUTED graph iterations, kept measured (r12 judge item
    * 5): every sf0.1 graph fixture falls under the 200k-edge
    * local-finish bound, so the bench times the driver loop and a
    * regression in the distributed star-contraction / power-iteration /
    * peel paths would be invisible to it. This leg re-runs each graph
    * registry entry twice — default confs (local finish) and
    * `localEdgeMax=0` (forced distributed) — timing both AND pinning
    * row-for-row output parity between the paths (the
    * ComponentsStarSpec contract, here over every operator at sf0.1).
    * Numbers land in BENCHNOTES. */
  private def graphDistributed(spark: SparkSession, src: String): Unit = {
    val entries = Seq("graph_pagerank", "graph_ppr", "graph_bfs", "graph_kcore",
      "graph_hits", "graph_label_prop", "graph_clustering_coeff",
      "dedup_components", "pipeline_er")
    for (name <- entries) {
      def runOnce(forceDistributed: Boolean): (Double, Seq[String]) = {
        if (forceDistributed) {
          spark.conf.set("spark.graft.graph.localEdgeMax", "0")
          spark.conf.set("spark.graft.cc.localEdgeMax", "0")
        } else {
          spark.conf.unset("spark.graft.graph.localEdgeMax")
          spark.conf.unset("spark.graft.cc.localEdgeMax")
        }
        // the components table is memoized per (session, dir): evict
        // it, or the forced run would read the local run's labels
        SparkEntry.componentsMemo.evict(spark, src)
        try {
          val t0 = System.nanoTime()
          val rows = SparkEntry.queries(name)(spark, src).collect()
          val secs = (System.nanoTime() - t0) / 1e9
          graft.core.PlanCache.release(spark)
          (secs, rows.map(_.toString).sorted.toSeq)
        } finally {
          spark.conf.unset("spark.graft.graph.localEdgeMax")
          spark.conf.unset("spark.graft.cc.localEdgeMax")
        }
      }
      val (tLocal, rowsLocal) = runOnce(forceDistributed = false)
      val (tDist, rowsDist) = runOnce(forceDistributed = true)
      val parity = rowsLocal == rowsDist
      println(f"[stress] graphdist $name%-24s local=$tLocal%7.2f s  distributed=$tDist%7.2f s" +
        f"  parity=${if (parity) "OK" else "MISMATCH"}")
      require(parity, s"$name: local-finish and distributed outputs differ")
    }
  }

  /** SemDeDup at scale, CONFIGURED for scale: the registry query pins
    * k = 8 so the oracle fixture exercises the prune, but the op's
    * contract (and the paper's regime) is k ∝ corpus size, keeping
    * E[cluster size] — and so per-reducer pair work — constant. This
    * runs the op on the `copies`× embeddings corpus with k scaled by
    * `copies`; the fixed-k registry entry at 10× is the wrong
    * configuration by design (pair count grows ~copies² within each
    * cluster) and is measured alongside for contrast. */
  private def semanticScaled(spark: SparkSession, src: String, target: String, copies: Int): Unit = {
    import spark.implicits._
    generateEmbeddings(spark, src, target, copies)
    def runOnce(dir: String, k: Int, tag: String): Unit = {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val t0 = System.nanoTime()
      ops.Dedup.semanticDedup(emb, "vec_id", "embedding",
          ops.Dedup.seedCentroids(emb, "vec_id", "embedding", k), pairThreshold = 0.7)
        .queryExecution.toRdd.foreach(_ => ())
      val s = (System.nanoTime() - t0) / 1e9
      graft.core.PlanCache.release(spark)
      println(f"[stress] semantic_scaled $tag%-18s k=$k%-4d $s%8.2f s")
    }
    runOnce(src, 8, "sf0.1")
    runOnce(target, 8 * copies, s"sf1-k-scaled")
  }

  /** Corpus-dimension stress for the segmented HNSW, CONFIGURED for
    * scale: the registry query pins numSegments = 4 (right for the
    * 2k-row recall fixture); the op's contract is segments sized
    * ~constant (one graph per executor core at cluster scale), so this
    * scales numSegments with the corpus (~8k vectors/segment) and
    * measures build+search wall plus mean recall@10 against the exact
    * brute-force pass over the SAME scaled corpus — the evidence that
    * per-segment build stays bounded and the candidate-union merge
    * keeps recall as segments multiply. */
  private def hnswCorpus(spark: SparkSession, src: String, target: String, copies: Int): Unit = {
    import spark.implicits._
    generateEmbeddings(spark, src, target, copies)
    val emb = spark.read.parquet(s"$target/embeddings.parquet")
    val n = emb.count()
    val numSeg = math.max(4, (n / 8192L).toInt)
    val q = emb.where($"vec_id" < 10)
    val t0 = System.nanoTime()
    val ann = ops.Hnsw.searchTopK(q, emb, k = 10, numSegments = numSeg)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ann.queryExecution.toRdd.foreach(_ => ())
    val tAnn = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val exact = ops.Similarity.bruteTopK(q, emb, k = 10)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    exact.queryExecution.toRdd.foreach(_ => ())
    val tExact = (System.nanoTime() - t1) / 1e9
    val recall = ops.Similarity.recallAtK(ann, exact, k = 10)
      .agg(avg($"recall")).head.getDouble(0)
    println(f"[stress] hnsw_corpus n=$n segs=$numSeg build+search $tAnn%8.2f s" +
      f"  brute $tExact%8.2f s  mean-recall@10 $recall%.3f")
    ann.unpersist(); exact.unpersist()
  }

  /** Corpus-dimension stress for the IVF-PQ index: build (KMeans +
    * codebooks + encode + cell-partitioned persist) and probe over a
    * `copies`× embeddings corpus, timed separately — the evidence that
    * the index family scales in the CORPUS dimension (the recall gates
    * run on the real fixtures; this measures the plan). nCells scales
    * with sqrt(N) as the IVF sizing rule suggests. */
  private def ivfpqCorpus(spark: SparkSession, src: String, target: String, copies: Int): Unit = {
    import spark.implicits._
    generateEmbeddings(spark, src, target, copies)
    val emb = spark.read.parquet(s"$target/embeddings.parquet")
    val n = emb.count()
    val nCells = math.max(16, math.sqrt(n.toDouble).toInt / 4)
    val t0 = System.nanoTime()
    val (ix, c0) = ops.IvfPq.build(emb, dim = 64, nCells = nCells, m = 8, k = 256)
    val path = s"$target/__ivfpq_corpus"
    ops.IvfPq.persistCodes(c0, path)
    val tBuild = (System.nanoTime() - t0) / 1e9
    println(f"[stress] ivfpq_corpus build  n=$n nCells=$nCells $tBuild%8.2f s")
    val codes = ops.IvfPq.loadCodes(spark, path)
    val q = emb.where($"vec_id" < 1000)
    def probe(tag: String): Double = {
      val t1 = System.nanoTime()
      ops.IvfPq.search(q, ix, codes, emb, k = 10, nProbe = 8)
        .queryExecution.toRdd.foreach(_ => ())
      val s = (System.nanoTime() - t1) / 1e9
      graft.core.PlanCache.release(spark)
      println(f"[stress] ivfpq_corpus probe($tag) 1000q $s%8.2f s")
      s
    }
    probe("warm-up")
    probe("steady")
  }

  /** Serving-probe stress for the persisted IVF-PQ/BQ TABLE tiers (the
    * facade route, not the bare op): each tier builds over the
    * `copies`× corpus through VectorDB, then five k=10 serving queries
    * time the indexed route and one times the exact leg — evidence the
    * per-query serving cost is index-bound (codes/cell-pruned scan),
    * not corpus-bound, as the corpus scales. */
  private def tierServing(spark: SparkSession, src: String, target: String, copies: Int): Unit = {
    import spark.implicits._
    generateEmbeddings(spark, src, target, copies)
    for (tier <- Seq("ivfpq", "bq")) {
      val emb = spark.read.parquet(s"$target/embeddings.parquet")
      val n = emb.count()
      val wh = graft.core.Scratch.dir(spark, s"stress-$tier")
      val db = new VectorDB(spark, "items", wh, "hashing", Map("dim" -> "64"),
        dim = 64, newTable = true)
      val t0 = System.nanoTime()
      db.insertEmbedded(emb.select(
        to_json(struct($"vec_id", $"label")).as("metadata"), $"embedding"))
      if (tier == "ivfpq")
        db.table.buildIvfPqIndex(nCells = math.max(16, math.sqrt(n.toDouble).toInt / 4))
      else db.table.buildBqIndex()
      val tBuild = (System.nanoTime() - t0) / 1e9
      val panel = emb.where($"vec_id" < 5).select($"vec_id", $"embedding").collect()
        .sortBy(_.getLong(0)).map(_.getSeq[Float](1).toArray)
      def probe(useIndex: Boolean): Double = {
        val t1 = System.nanoTime()
        panel.foreach(qv => db.queryByVector(qv, k = 10, useIndex = useIndex).collect())
        (System.nanoTime() - t1) / 1e9 / panel.length
      }
      probe(useIndex = true) // warm
      println(f"[stress] tier_serving $tier%-6s n=$n build=$tBuild%8.2f s" +
        f"  indexed/query=${probe(useIndex = true)}%6.2f s" +
        f"  exact/query=${probe(useIndex = false)}%6.2f s")
    }
  }

  /** Delete-debt stress for the capped probe-widening
    * ([[VectorDB.probeWidth]]): an HNSW-indexed warehouse over the
    * `copies`× corpus, serving latency measured at debt 0 (kProbe=k),
    * debt 3k (the widest CAPPED probe, kProbe=4k) and ~30% deletes
    * (past the cap — exact-path fallback). Evidence for the r9 brief:
    * indexed-query latency stays FLAT as delete debt grows, because
    * widening is bounded and past-cap queries pay the exact scan, not
    * a debt-proportional beam. */
  private def widenDebt(spark: SparkSession, src: String, target: String, copies: Int): Unit = {
    import spark.implicits._
    generateEmbeddings(spark, src, target, copies)
    val emb = spark.read.parquet(s"$target/embeddings.parquet")
    val n = emb.count()
    val wh = graft.core.Scratch.dir(spark, "stress-widen")
    val db = new VectorDB(spark, "items", wh, "hashing", Map("dim" -> "64"),
      dim = 64, newTable = true)
    db.insertEmbedded(emb.select(
      to_json(struct($"vec_id", $"label")).as("metadata"), $"embedding"))
    db.table.buildHnswIndex()
    val qv = emb.where($"vec_id" === 0).select($"embedding").head.getSeq[Float](0).toArray
    val mdId = org.apache.spark.sql.functions
      .get_json_object(col(graft.core.VectorSchema.METADATA), "$.vec_id").cast("long")
    def probe(tag: String): Unit = {
      db.queryByVector(qv, k = 10).collect() // warm
      val t1 = System.nanoTime()
      (1 to 3).foreach(_ => db.queryByVector(qv, k = 10).collect())
      val s = (System.nanoTime() - t1) / 1e9 / 3
      println(f"[stress] widen_debt n=$n $tag%-28s kProbe=${db.probeWidth(10)}" +
        f"  indexed/query=$s%6.2f s")
    }
    probe("debt=0")
    db.table.delete(mdId >= 1000 && mdId < 1030) // 30 = 3k: widest capped probe
    probe("debt=3k (capped widen)")
    db.table.delete(mdId % 10 < 3) // ~30%: past the cap, exact fallback
    probe("debt=30% (exact fallback)")
  }

  /** Query-batch-dimension stress for the distributed HNSW probe
    * ([[graft.ops.Hnsw.probeGraphBulk]]): the same persisted graph
    * probed by 1k and then 10k queries. The serving path
    * ([[graft.ops.Hnsw.probeGraph]]) collects the panel to the driver
    * — right for serving, wrong for bulk batches; the cogrouped
    * (query × segment) fan-out must scale ≈ linearly in the batch
    * size (compare the ivfpq_bulk row). */
  private def hnswBulk(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val path = "/tmp/graft-hnsw-stress"
    ops.Hnsw.buildGraph(emb).write.mode("overwrite").parquet(path)
    val graph = spark.read.parquet(path)
    val n = emb.count().toInt
    def batch(nq: Int) = {
      // offset ids: never equal to a corpus id (self-exclusion stays
      // cold); per-copy where() instead of limit() — GlobalLimit would
      // funnel the batch through one partition
      val copies = (nq + n - 1) / n
      (0 until copies).map { c =>
        val take = math.min(n, nq - c * n)
        emb.where($"vec_id" < take)
          .select(($"vec_id" + lit((c + 1) * 1000000L)).as("vec_id"), $"embedding")
      }.reduce(_ unionByName _)
    }
    def time(nq: Int): Double = {
      val t0 = System.nanoTime()
      ops.Hnsw.probeGraphBulk(graph, batch(nq), k = 10)
        .queryExecution.toRdd.foreach(_ => ())
      val secs = (System.nanoTime() - t0) / 1e9
      graft.core.PlanCache.release(spark)
      println(f"[stress] hnsw_bulk nq=$nq%-6d $secs%8.2f s")
      secs
    }
    time(1000) // warm (codegen + graph read)
    val t1k = time(1000)
    val t10k = time(10000)
    println(f"[stress] ratio  hnsw_bulk             ${t10k / t1k}%8.2fx for 10x queries")
  }

  /** Batch-dimension stress for the FACADE bulk path
    * ([[VectorDB.queryByVectors]]): the full lifecycle a bulk consumer
    * sees — persisted table + HNSW index, then 1k vs 10k query
    * batches through the facade (graph cogroup probe + metadata join).
    * Must scale ≈ linearly in batch size like the raw hnsw_bulk row;
    * the delta vs that row is the metadata-join tax. */
  /** The `gvdb` DataSource path at corpus scale: format-write (dedup
    * insert), tombstone a label slice, then read back through
    * `format("gvdb")` three ways — MoR census (count over the
    * anti-join), a pruned+pushed id-prefix projection, and the logical
    * full row scan. Linearity of all three legs vs the `copies`×
    * corpus is the evidence the DSv1 surface adds no super-linear
    * stage on top of the table read it delegates to (the anti-join's
    * build side is the tombstone list, which broadcasts at any corpus
    * size where deletes stay proportional). */
  private def gvdbSource(spark: SparkSession, src: String, target: String, copies: Int): Unit = {
    import spark.implicits._
    generate(spark, src, target, copies) // documents corpus (embeddings is only 2k rows — job-floor noise)
    def runOnce(dir: String, tag: String): (Double, Double, Double) = {
      val root = s"/tmp/graft-gvdb-stress-$tag/tbl"
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val t0 = System.nanoTime()
      docs.select(concat(lit("d"), format_string("%09d", $"doc_id")).as("id"),
          to_json(struct($"lang", $"source", $"n_chars")).as("metadata"),
          array($"n_chars".cast("float"), ($"doc_id" % 97).cast("float"),
            ($"doc_id" % 89).cast("float"), lit(1.0f)).as("embedding"))
        .write.format("gvdb").option("dim", "4").mode("overwrite").save(root)
      val tLoad = (System.nanoTime() - t0) / 1e9
      val tbl = new graft.table.VectorTable(spark, root, 4)
      tbl.delete(get_json_object(col("metadata"), "$.lang") === "de")
      val t1 = System.nanoTime()
      val live = spark.read.format("gvdb").load(root).count()
      val tCensus = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      val pruned = spark.read.format("gvdb").load(root)
        .where($"id".startsWith("d00000")).select($"id").count()
      val tPruned = (System.nanoTime() - t2) / 1e9
      graft.core.PlanCache.release(spark)
      println(f"[stress] gvdb_source $tag%-7s load=$tLoad%7.2f s" +
        f"  census=$tCensus%6.2f s (live=$live)  pruned=$tPruned%6.2f s (rows=$pruned)")
      tbl.drop()
      (tLoad, tCensus, tPruned)
    }
    val (l0, c0, p0) = runOnce(src, "sf0.1")
    val (l1, c1, p1) = runOnce(target, "sf1")
    println(f"[stress] ratio  gvdb_source           load=${l1 / l0}%5.2fx" +
      f" census=${c1 / c0}%5.2fx pruned=${p1 / p0}%5.2fx for ${copies}x data")
  }

  /** The V2 streaming insert feed at corpus scale: the documents
    * corpus loads as a gvdb table, then drains through
    * `readStream.format("gvdb")` with bounded admission
    * (maxFilesPerTrigger) under Trigger.AvailableNow. The work per
    * micro-batch is one narrow scan of the admitted files — throughput
    * should track the corpus (rows/s roughly flat), with the
    * per-trigger overhead amortized by admission sizing. */
  private def gvdbStream(spark: SparkSession, src: String, target: String, copies: Int): Unit = {
    import spark.implicits._
    generate(spark, src, target, copies)
    def runOnce(dir: String, tag: String): Double = {
      val root = s"/tmp/graft-gvdb-streamstress-$tag/tbl"
      spark.read.parquet(s"$dir/documents.parquet")
        .select(concat(lit("d"), format_string("%09d", $"doc_id")).as("id"),
          to_json(struct($"lang", $"n_chars")).as("metadata"),
          array($"n_chars".cast("float")).as("embedding"))
        // (AQE coalesces the small write into few part files, so the
        // drain lands in 1-2 batches here — the multi-batch admission
        // mechanics are spec-pinned in GvdbSourceSpec; this leg
        // measures drain THROUGHPUT at corpus scale)
        .write.format("gvdb").option("dim", "1").mode("overwrite").save(root)
      val n = new java.util.concurrent.atomic.AtomicLong
      val batches = new java.util.concurrent.atomic.AtomicInteger
      val cp = graft.core.Scratch.dir(spark, s"graft-streamstress-cp")
      val t0 = System.nanoTime()
      val q = spark.readStream.format("gvdb")
        .option("maxFilesPerTrigger", "8").load(root)
        .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          n.addAndGet(b.count()); batches.incrementAndGet(); ()
        }
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[stress] gvdb_stream $tag%-7s ${n.get}%8d rows in ${batches.get}%3d batches," +
        f" $secs%7.2f s (${n.get / secs}%.0f rows/s)")
      new graft.table.VectorTable(spark, root, 1).drop()
      secs
    }
    val s0 = runOnce(src, "sf0.1")
    val s1 = runOnce(target, "sf1")
    println(f"[stress] ratio  gvdb_stream           ${s1 / s0}%5.2fx for ${copies}x data")
  }

  /** SQL MERGE at corpus scale — the two cost classes measured
    * separately: a CDC batch carrying updates/inserts is COPY-ON-WRITE
    * (one table rewrite, cost ∝ table size — the vacuum contract), a
    * deletes-only batch stays MERGE-ON-READ (tombstones, cost ∝
    * matched ids + one read of the MoR view). The ratio rows document
    * that the CoW leg scales with the corpus while the MoR leg stays
    * near-flat — exactly the split a 100 TB CDC pipeline relies on. */
  private def gvdbMerge(spark: SparkSession, src: String, target: String, copies: Int): Unit = {
    import spark.implicits._
    generate(spark, src, target, copies)
    def runOnce(dir: String, tag: String): (Double, Double) = {
      val wh = graft.core.Scratch.dir(spark, s"graft-mergestress-$tag")
      val cat = "gms" + java.lang.Long.toHexString(System.nanoTime())
      spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GvdbCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      spark.sql(s"CREATE NAMESPACE $cat.s")
      spark.sql(s"CREATE TABLE $cat.s.docs " +
        "(id string, metadata string, embedding array<float>) USING gvdb")
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      docs.select(concat(lit("d"), format_string("%09d", $"doc_id")).as("id"),
          to_json(struct($"lang", $"n_chars")).as("metadata"),
          array($"n_chars".cast("float")).as("embedding"))
        .createOrReplaceTempView("ms_base")
      spark.sql(s"INSERT INTO $cat.s.docs SELECT * FROM ms_base")
      // CDC batch: ~10% updates + ~5% inserts (CoW leg)
      docs.where($"doc_id" % 10 === 0)
        .select(concat(lit("d"), format_string("%09d", $"doc_id")).as("id"),
          to_json(struct($"lang", ($"n_chars" + 1).as("n_chars"))).as("metadata"),
          array(($"n_chars" + 1).cast("float")).as("embedding"))
        .unionByName(docs.where($"doc_id" % 20 === 1)
          .select(concat(lit("n"), format_string("%09d", $"doc_id")).as("id"),
            to_json(struct($"lang", $"n_chars")).as("metadata"),
            array($"n_chars".cast("float")).as("embedding")))
        .createOrReplaceTempView("ms_changes")
      val t0 = System.nanoTime()
      spark.sql(s"""MERGE INTO $cat.s.docs t USING ms_changes c ON t.id = c.id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
      val tCow = (System.nanoTime() - t0) / 1e9
      // deletes-only batch: ~1% retractions (MoR leg)
      docs.where($"doc_id" % 100 === 3)
        .select(concat(lit("d"), format_string("%09d", $"doc_id")).as("id"))
        .createOrReplaceTempView("ms_dels")
      val t1 = System.nanoTime()
      spark.sql(s"""MERGE INTO $cat.s.docs t USING ms_dels c ON t.id = c.id
        WHEN MATCHED THEN DELETE""")
      val tMor = (System.nanoTime() - t1) / 1e9
      val live = spark.sql(s"SELECT count(*) AS n FROM $cat.s.docs").head().getLong(0)
      println(f"[stress] gvdb_merge $tag%-7s cow=$tCow%7.2f s  mor_delete=$tMor%6.2f s (live=$live)")
      spark.sql(s"DROP TABLE $cat.s.docs"); spark.sql(s"DROP NAMESPACE $cat.s")
      Seq("ms_base", "ms_changes", "ms_dels").foreach(spark.catalog.dropTempView)
      graft.core.PlanCache.release(spark)
      (tCow, tMor)
    }
    val (c0, m0) = runOnce(src, "sf0.1")
    val (c1, m1) = runOnce(target, "sf1")
    println(f"[stress] ratio  gvdb_merge            cow=${c1 / c0}%5.2fx mor=${m1 / m0}%5.2fx for ${copies}x data")
  }

  /** Victim-lookup pruning for the file-group CoW: a table built from
    * B sequential insert batches with monotone id prefixes (the CDC
    * build shape — each batch's files span only that batch's id range,
    * because the dedup insert hash-shuffles WITHIN a batch), then a
    * CLUSTERED touch set (ids from one batch). The pruned lookup
    * (footer id stats → candidate files → id scan of candidates) must
    * read bytes ∝ the touched batch's files while the UNPRUNED lookup
    * (full id→file scan, the pre-r12 shape) reads the whole id column —
    * at 10× data the pruned side stays flat, the full side grows 10×.
    * Both must name the same victim files (the correctness tie). */
  private def gvdbVictimLookup(spark: SparkSession, src: String, target: String,
      copies: Int): Unit = {
    import spark.implicits._
    generate(spark, src, target, copies)
    // records read is the exact, compression-independent measure of
    // scan work (byte counts at fixture scale drown in footer and
    // page-header constants)
    val recsRead = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) {
          recsRead.addAndGet(te.taskMetrics.inputMetrics.recordsRead); ()
        }
    })
    def measure(body: => Unit): Long = {
      Thread.sleep(500); recsRead.set(0L); body; Thread.sleep(700); recsRead.get
    }
    def runOnce(dir: String, tag: String): Unit = {
      val wh = graft.core.Scratch.dir(spark, s"graft-victim-$tag")
      val root = s"$wh/docs"
      val base = spark.read.parquet(s"$dir/documents.parquet")
      // FIXED rows per batch — the CDC reality: a bigger table means
      // MORE ingest batches, not bigger ones, so the pruned lookup's
      // work (∝ one batch's files) must stay flat across corpus scale.
      // Batch boundaries by QUANTILE (the scaled corpus has sparse
      // doc_id copies at k·10⁷ offsets — value-sliced batches would be
      // mostly empty).
      val batches = math.max(8, (base.count() / 625L).toInt)
      val bounds = base.stat.approxQuantile("doc_id",
        (1 until batches).map(_.toDouble / batches).toArray, 0.001)
      val edges = (Double.NegativeInfinity +: bounds.toSeq) :+ Double.PositiveInfinity
      // ids: a batch-ordinal prefix (keeps per-batch file ranges
      // disjoint — the monotone-key CDC shape) + an md5 suffix (kills
      // columnar compression, so scan bytes track rows the way a real
      // id column's do)
      def mkId(b: Int) = concat(format_string("b%02d:", lit(b)),
        md5($"doc_id".cast("string")))
      for (b <- 0 until batches) {
        base.where($"doc_id" >= edges(b) && $"doc_id" < edges(b + 1))
          .select(mkId(b).as("id"),
            to_json(struct($"lang", $"n_chars")).as("metadata"),
            array($"n_chars".cast("float")).as("embedding"))
          .write.format("gvdb").option("dim", "1")
          .mode(if (b == 0) "overwrite" else "append").save(root)
      }
      // clustered touches: 200 ids from the LAST insert batch
      val touched = base.orderBy($"doc_id".desc).limit(200)
        .select(mkId(batches - 1).as("id"))
        .distinct().localCheckpoint(true)
      var pruned: Array[String] = Array.empty
      val bPruned = measure {
        pruned = graft.plans.GvdbRowLevel.victimLookup(spark, root, touched)._1.sorted
      }
      var full: Array[String] = Array.empty
      val bFull = measure {
        full = spark.read.format("parquet").load(root)
          .select($"id", input_file_name().as("f"))
          .join(touched, Seq("id"), "left_semi")
          .select($"f").distinct().collect().map(_.getString(0)).sorted
      }
      require(pruned.sameElements(full),
        s"pruned victim lookup must find the full scan's victims: " +
          s"${pruned.length} vs ${full.length}")
      val tableRows = graft.sources.GvdbFooters.rowCount(spark, root)
      println(f"[stress] gvdb_victim_lookup $tag%-7s rows=$tableRows%9d" +
        f"  pruned_recs=$bPruned%9d  full_recs=$bFull%9d  victims=${pruned.length}")
    }
    runOnce(src, "sf0.1")
    runOnce(target, "sf1")
  }

  /** Victim-lookup pruning under CONTENT-HASH ids — the layout the
    * range probe cannot touch: every batch's md5 ids span the whole
    * hex keyspace, so footer min/max keeps ALL files candidates and
    * the first lookup reads the full id column (the bootstrap — it
    * builds the per-file blooms from that same cached pass). The
    * SECOND lookup probes the blooms: records read must collapse to
    * the touched batch's files (+ fpp ride-alongs) and stay flat at
    * 10× data while the bootstrap/full side grows 10×. Victims must
    * match the full scan's on every lookup (the soundness tie). */
  private def gvdbVictimBloom(spark: SparkSession, src: String, target: String,
      copies: Int): Unit = {
    import spark.implicits._
    generate(spark, src, target, copies)
    val recsRead = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) {
          recsRead.addAndGet(te.taskMetrics.inputMetrics.recordsRead); ()
        }
    })
    def measure(body: => Unit): Long = {
      Thread.sleep(500); recsRead.set(0L); body; Thread.sleep(700); recsRead.get
    }
    def runOnce(dir: String, tag: String): Unit = {
      val wh = graft.core.Scratch.dir(spark, s"graft-vbloom-$tag")
      val root = s"$wh/docs"
      val base = spark.read.parquet(s"$dir/documents.parquet")
      val batches = math.max(8, (base.count() / 625L).toInt)
      val bounds = base.stat.approxQuantile("doc_id",
        (1 until batches).map(_.toDouble / batches).toArray, 0.001)
      val edges = (Double.NegativeInfinity +: bounds.toSeq) :+ Double.PositiveInfinity
      // content-hash ids: NO batch prefix — each file's id range spans
      // the keyspace, which is what defeats min/max pruning
      val mkId = md5($"doc_id".cast("string"))
      for (b <- 0 until batches) {
        base.where($"doc_id" >= edges(b) && $"doc_id" < edges(b + 1))
          .select(mkId.as("id"),
            to_json(struct($"lang", $"n_chars")).as("metadata"),
            array($"n_chars".cast("float")).as("embedding"))
          .write.format("gvdb").option("dim", "1")
          .mode(if (b == 0) "overwrite" else "append").save(root)
      }
      val touched = base.orderBy($"doc_id".desc).limit(200)
        .select(mkId.as("id")).distinct().localCheckpoint(true)
      var boot: Array[String] = Array.empty
      val bBoot = measure {
        boot = graft.plans.GvdbRowLevel.victimLookup(spark, root, touched)._1.sorted
      }
      var pruned: Array[String] = Array.empty
      val bPruned = measure {
        pruned = graft.plans.GvdbRowLevel.victimLookup(spark, root, touched)._1.sorted
      }
      var full: Array[String] = Array.empty
      val bFull = measure {
        full = spark.read.format("parquet").load(root)
          .select($"id", input_file_name().as("f"))
          .join(touched, Seq("id"), "left_semi")
          .select($"f").distinct().collect().map(_.getString(0)).sorted
      }
      require(boot.sameElements(full) && pruned.sameElements(full),
        s"bloom victim lookup must find the full scan's victims: " +
          s"${boot.length}/${pruned.length} vs ${full.length}")
      val tableRows = graft.sources.GvdbFooters.rowCount(spark, root)
      // the pruned pass reads one MANIFEST row per live file (the
      // bloom probe — metadata, ~5 B/data-row) plus the surviving
      // candidates' DATA rows; at fixture scale (20-row files) the
      // manifest rows are visible in recordsRead, so report them for
      // subtraction — the 100 TB claim is about the data term
      val manifestRows = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(new org.apache.hadoop.fs.Path(root))
        .count(_.getPath.getName.startsWith("part-")).toLong
      println(f"[stress] gvdb_victim_bloom $tag%-7s rows=$tableRows%9d" +
        f"  bootstrap_recs=$bBoot%9d  bloom_recs=$bPruned%9d (manifest=$manifestRows%5d)" +
        f"  full_recs=$bFull%9d  victims=${pruned.length}")
    }
    runOnce(src, "sf0.1")
    runOnce(target, "sf1")
  }

  /** In-place compaction at scale: the table's BULK lives in large
    * files (grows with the corpus), the small-file TAIL is fixed-size
    * CDC churn. compactSmallFiles must read/write ∝ the tail — flat
    * records at 10× corpus — while leaving the bulk untouched (same
    * large-file count before and after). */
  private def gvdbCompactTail(spark: SparkSession, src: String, target: String,
      copies: Int): Unit = {
    import spark.implicits._
    generate(spark, src, target, copies)
    val recsRead = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) {
          recsRead.addAndGet(te.taskMetrics.inputMetrics.recordsRead); ()
        }
    })
    def runOnce(dir: String, tag: String): Unit = {
      val wh = graft.core.Scratch.dir(spark, s"graft-ctail-$tag")
      val root = s"$wh/docs"
      val table = new graft.table.VectorTable(spark, root, 1).create()
      val base = spark.read.parquet(s"$dir/documents.parquet")
        .select($"doc_id".cast("string").as("id"),
          to_json(struct($"lang", $"n_chars")).as("metadata"),
          array($"n_chars".cast("float")).as("embedding"))
      table.insert(base.repartition(8)) // the bulk: grows with the corpus
      // the tail: FIXED 20 × 25-row churn batches regardless of corpus
      for (b <- 0 until 20)
        table.insert(base.limit(500).where(
            substring($"id", -2, 2) === f"$b%02d")
          .withColumn("id", concat(lit("churn-"), lit(b), lit("-"), $"id"))
          .coalesce(1))
      val statsBefore = graft.sources.GvdbFooters.idStats(spark, root)
      val bigBefore = statsBefore.count(_._2 >= 250L)
      Thread.sleep(500); recsRead.set(0L)
      val removed = table.compactSmallFiles(targetFileRows = 500)
      Thread.sleep(700)
      val recs = recsRead.get
      val statsAfter = graft.sources.GvdbFooters.idStats(spark, root)
      val bigAfter = statsAfter.count(_._2 >= 250L)
      require(removed >= 2 && bigAfter >= bigBefore,
        s"compaction must fold the tail without rewriting the bulk: " +
          s"removed=$removed big=$bigBefore->$bigAfter")
      println(f"[stress] gvdb_compact_tail $tag%-7s rows=${table.numRows}%9d" +
        f"  files=${statsBefore.size}%4d->${statsAfter.size}%4d  compact_recs=$recs%9d" +
        f"  removed=$removed")
    }
    runOnce(src, "sf0.1")
    runOnce(target, "sf1")
  }

  /** JSON-path file-skipping at scale: a gvdb table with materialized
    * extract columns (range-clustered on `$.lang`), filtered by
    * `get_json_object(metadata,'$.lang') = <value>` at several
    * selectivities. Records read must track MATCHING rows (files whose
    * lang range overlaps), not the table — the ratio filtered/full
    * stays ≈ selectivity at 1× and 10×, which is the 100 TB claim:
    * a selective JSON filter no longer reads the corpus. */
  private def gvdbFilterPruned(spark: SparkSession, src: String, target: String,
      copies: Int): Unit = {
    import spark.implicits._
    generate(spark, src, target, copies)
    val recsRead = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) {
          recsRead.addAndGet(te.taskMetrics.inputMetrics.recordsRead); ()
        }
    })
    def measure(body: => Unit): Long = {
      Thread.sleep(500); recsRead.set(0L); body; Thread.sleep(700); recsRead.get
    }
    def runOnce(dir: String, tag: String): Unit = {
      val wh = graft.core.Scratch.dir(spark, s"graft-fprune-$tag")
      val root = s"$wh/docs"
      spark.read.parquet(s"$dir/documents.parquet")
        .select($"doc_id".cast("string").as("id"),
          to_json(struct($"lang", $"n_chars")).as("metadata"),
          array($"n_chars".cast("float")).as("embedding"))
        .write.format("gvdb").option("dim", "1")
        .option("extractPaths", "$.lang").mode("overwrite").save(root)
      val tbl = spark.read.format("gvdb").load(root)
      val total = tbl.count()
      def filtered(lang: String): (Long, Long) = {
        val q = tbl.where(get_json_object($"metadata", "$.lang") === lang)
        require(q.queryExecution.executedPlan.toString.contains("PushedJsonFilters"),
          "filter must map onto the extract column")
        var n = 0L
        val recs = measure { n = q.count() }
        (n, recs)
      }
      // the unfiltered baseline must actually SCAN (a bare count would
      // answer from footers): aggregate over a data column
      val full = measure { tbl.agg(sum(length($"id"))).head(); () }
      for (lang <- Seq("fr", "de")) {
        val (n, recs) = filtered(lang)
        println(f"[stress] gvdb_filter_pruned $tag%-7s rows=$total%9d lang=$lang " +
          f"match=$n%8d sel=${n.toDouble / total}%6.3f " +
          f"recs=$recs%9d recs/full=${recs.toDouble / math.max(1, full)}%6.3f")
      }
    }
    runOnce(src, "sf0.1")
    runOnce(target, "sf1")
  }

  /** Recall of the three persisted index tiers at PRODUCTION
    * dimensionality: the registry's recall gates are measured on the
    * 64-dim embeddings fixture, but production embedding models emit
    * 384–3072 dims (the reference defaults to 384/768/3072 families)
    * and PQ/BQ recall geometry changes with dimension. This leg
    * re-measures recall@10 for all three tiers over the sf0.1
    * documents corpus embedded at 384 dims (the `vdb_embed_knn_384`
    * family's hashing embedder) against the exact brute-force route,
    * with per-tier build times. Results → BENCHNOTES round 11. */
  private def tierRecall384(spark: SparkSession, src: String): Unit = {
    import spark.implicits._
    val wh = graft.core.Scratch.dir(spark, "graft-recall384")
    val docs = spark.read.parquet(s"$src/documents.parquet")
      .select(to_json(struct($"doc_id", $"lang")).as("metadata"), $"text")
    val emb = graft.embed.EmbedOps
      .withEmbedding(docs, "text", "hashing", Map("dim" -> "384")).drop("text")
    val db = new graft.VectorDB(spark, "items", wh, "hashing",
      Map("dim" -> "384"), dim = 384)
    db.insertEmbedded(emb)
    val n = db.numRows
    val panel = spark.read.parquet(s"$src/documents.parquet")
      .where($"doc_id" < 8).select($"text").collect()
      .map(r => db.embedder.embed(r.getString(0)))
    def probe(tier: String, build: () => Unit): Unit = {
      val t0 = System.nanoTime()
      build()
      val tBuild = (System.nanoTime() - t0) / 1e9
      val recalls = panel.map { qv =>
        val approx = db.queryByVector(qv, k = 10).collect().map(_.id).toSet
        val exact = db.queryByVector(qv, k = 10, useIndex = false).collect().map(_.id).toSet
        (exact intersect approx).size.toDouble / exact.size
      }
      println(f"[stress] tier_recall_384 $tier%-12s rows=$n" +
        f" recall@10 mean=${recalls.sum / recalls.length}%.3f" +
        f" min=${recalls.min}%.3f build=$tBuild%6.1f s")
    }
    probe("hnsw", () => { db.table.buildHnswIndex(); () })
    probe("ivfpq", () => { db.table.buildIvfPqIndex(); () })
    // BQ at three shortlist budgets: per-bit information drops with
    // dimension, so the dim-64 defaults (64/16) need re-gating here
    for ((cf, ff) <- Seq((64, 16), (0, 0), (256, 64)))
      probe(if (cf == 0) "bq_default" else s"bq_$cf/$ff", () => { db.table.buildBqIndex(cf, ff); () })
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    ()
  }

  /** The streaming source's OFFSET/LOG mechanics at 100 TB file
    * counts: a table with ≥10⁴ part files (one real part file cloned —
    * the leg stresses file-tracking, not row throughput) drains under
    * bounded admission, and we measure (a) the engine-checkpointed
    * offset size, which must stay O(1) bytes — the seen-files log
    * design; the retired files-in-offset design wrote ~60 B × files
    * PER BATCH — and (b) per-batch wall, which must stay flat as the
    * file count grows 5× (the only O(total-files) costs are the
    * per-trigger listing and the one-time log replay at restart,
    * measured separately as the resume leg). */
  private def gvdbManyFiles(spark: SparkSession): Unit = {
    import spark.implicits._
    def runOnce(nFiles: Int, mfpt: Int): Unit = {
      val base = s"/tmp/graft-gvdb-manyfiles-$nFiles"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      val root = s"$base/tbl"
      (0 until 100).map(i => (f"r$i%04d", "{}", Seq(i.toFloat)))
        .toDF("id", "metadata", "embedding").coalesce(1)
        .write.format("gvdb").option("dim", "1").mode("overwrite").save(root)
      // the largest part file is the 100-row data file (the table dir
      // also holds create()'s empty-parquet part, which would clone
      // into an all-empty corpus)
      val seed = new java.io.File(root).listFiles()
        .filter(_.getName.startsWith("part-")).maxBy(_.length).toPath
      (1 until nFiles).foreach { i =>
        java.nio.file.Files.copy(seed,
          seed.resolveSibling(f"part-clone-$i%06d.parquet"))
      }
      val cp = graft.core.Scratch.dir(spark, s"graft-manyfiles-cp")
      val rows = new java.util.concurrent.atomic.AtomicLong
      val batches = new java.util.concurrent.atomic.AtomicInteger
      def drain(): Double = {
        val t0 = System.nanoTime()
        val q = spark.readStream.format("gvdb")
          .option("maxFilesPerTrigger", mfpt.toString).load(root)
          .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            rows.addAndGet(b.count()); batches.incrementAndGet(); ()
          }
          .option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
        (System.nanoTime() - t0) / 1e9
      }
      val secs = drain()
      val offsetBytes = new java.io.File(s"$cp/offsets").listFiles()
        .filter(_.getName.forall(_.isDigit)).map(_.length).max
      val logEntries = new java.io.File(s"$cp/sources/0/gvdb_seen_files")
        .listFiles().count(_.getName.forall(_.isDigit))
      // restart with a small delta: pays the one-time log replay
      // (seen-set rebuild) plus one admitted batch
      (0 until 10).foreach { i =>
        java.nio.file.Files.copy(seed,
          seed.resolveSibling(f"part-delta-$i%06d.parquet"))
      }
      val resumeSecs = drain()
      println(f"[stress] gvdb_manyfiles n=$nFiles%6d drained ${rows.get}%8d rows" +
        f" in ${batches.get}%3d batches, $secs%7.2f s" +
        f" (${secs / math.max(1, batches.get - 1)}%.3f s/batch," +
        f" offset=$offsetBytes%3d B, $logEntries entries, resume=$resumeSecs%6.2f s)")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(cp))
    }
    runOnce(2000, 400)
    runOnce(10000, 400)
  }

  /** The change feed's broadcast-diff legs at corpus scale: corpus →
    * snapshot v1 → drain (initial adds) → 10% insert + 1% delete →
    * snapshot v2 → drain (v2 step: adds from the delta files only,
    * deletes via the prior snapshot semi broadcast delta-tombstones).
    * The v2 step's cost should track the DELTA plus one narrow pass
    * over the v1 manifest — never an all-pairs or shuffled set
    * difference. */
  private def gvdbChanges(spark: SparkSession, src: String, target: String, copies: Int): Unit = {
    import spark.implicits._
    generate(spark, src, target, copies)
    def runOnce(dir: String, tag: String): (Double, Double) = {
      val root = s"/tmp/graft-gvdb-cdcstress-$tag/tbl"
      val cp = graft.core.Scratch.dir(spark, "graft-cdcstress-cp")
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      def shaped(d: org.apache.spark.sql.DataFrame) =
        d.select(concat(lit("d"), format_string("%012d", $"doc_id")).as("id"),
          to_json(struct($"lang")).as("metadata"),
          array($"n_chars".cast("float")).as("embedding"))
      shaped(docs.where($"doc_id" % 10 =!= 0))
        .write.format("gvdb").option("dim", "1").mode("overwrite").save(root)
      val tbl = new graft.table.VectorTable(spark, root, 1)
      tbl.snapshot() // v1
      val counts = new java.util.concurrent.atomic.AtomicLong
      def drain(): Double = {
        val t0 = System.nanoTime()
        val q = spark.readStream.format("gvdb").option("readChangeFeed", "true").load(root)
          .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            counts.addAndGet(b.count()); ()
          }
          .option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
        (System.nanoTime() - t0) / 1e9
      }
      val tInitial = drain() // v1: initial adds
      shaped(docs.where($"doc_id" % 10 === 0))
        .write.format("gvdb").mode("append").save(root) // ~10% insert
      tbl.delete(col("id").endsWith("01")) // ~1% delete, all live at v1
      tbl.snapshot() // v2
      val n0 = counts.get
      val tStep = drain() // v2 step only
      println(f"[stress] gvdb_changes $tag%-7s v1=${n0}%8d rows in $tInitial%6.2f s;" +
        f" v2 step=${counts.get - n0}%8d rows in $tStep%6.2f s")
      tbl.drop()
      (tInitial, tStep)
    }
    val (i0, s0) = runOnce(src, "sf0.1")
    val (i1, s1) = runOnce(target, "sf1")
    println(f"[stress] ratio  gvdb_changes          initial=${i1 / i0}%5.2fx" +
      f" step=${s1 / s0}%5.2fx for ${copies}x data")
  }

  private def vdbBulk(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val wh = "/tmp/graft-vdb-bulk-stress"
    val db = new VectorDB(spark, "items", wh, "hashing",
      Map("dim" -> "64"), dim = 64, newTable = true)
    db.insertEmbedded(emb.select(
      to_json(struct($"vec_id", $"label")).as("metadata"), $"embedding"))
    db.table.buildHnswIndex()
    val n = emb.count().toInt
    def batch(nq: Int) = {
      val copies = (nq + n - 1) / n
      (0 until copies).map { c =>
        val take = math.min(n, nq - c * n)
        emb.where($"vec_id" < take)
          .select(($"vec_id" + lit((c + 1) * 1000000L)).as("query_id"), $"embedding")
      }.reduce(_ unionByName _)
    }
    def time(nq: Int): Double = {
      val t0 = System.nanoTime()
      db.queryByVectors(batch(nq), k = 10)
        .queryExecution.toRdd.foreach(_ => ())
      val secs = (System.nanoTime() - t0) / 1e9
      graft.core.PlanCache.release(spark)
      println(f"[stress] vdb_bulk nq=$nq%-6d $secs%8.2f s")
      secs
    }
    time(1000) // warm (codegen + graph read)
    val t1k = time(1000)
    val t10k = time(10000)
    println(f"[stress] ratio  vdb_bulk              ${t10k / t1k}%8.2fx for 10x queries")
  }

  /** Compaction-cycle stress for the persisted HNSW at corpus scale:
    * a 90% base graph (auto-sized segments) accumulates ten 1% delta
    * batches built DELIBERATELY under-sized (1k rows/segment — the
    * streaming-append regime), then [[graft.ops.Hnsw.compactSegments]]
    * merges the small segments. Measured: base build wall vs compaction
    * wall (rebuild cost must be ∝ the small segments, i.e. ~10% of the
    * base), and the serving probe before vs after (bounded both sides,
    * lower after). */
  private def hnswCompact(spark: SparkSession, src: String, target: String, copies: Int): Unit = {
    import spark.implicits._
    generateEmbeddings(spark, src, target, copies)
    val emb = spark.read.parquet(s"$target/embeddings.parquet")
    val n = emb.count()
    val base = emb.where(pmod($"vec_id", lit(100)) >= 10)
    val path = s"$target/__hnsw_compact"
    val t0 = System.nanoTime()
    ops.Hnsw.buildGraph(base).write.mode("overwrite").parquet(path)
    val tBase = (System.nanoTime() - t0) / 1e9
    val baseSegs = ops.Hnsw.autoSegments(base.count())
    val smallRows = n / 10
    val t1 = System.nanoTime()
    (0 until 10).foreach { b =>
      val delta = emb.where(pmod($"vec_id", lit(100)) === b)
      val nSeg = math.max(1, ((n / 100) / 1000L).toInt) // ~1k rows/segment
      ops.Hnsw.buildGraph(delta, numSegments = nSeg, segOffset = baseSegs + b * nSeg)
        .write.mode("append").parquet(path)
    }
    val tAppend = (System.nanoTime() - t1) / 1e9
    val graph = spark.read.parquet(path)
    val nSegsBefore = graph.select($"seg").distinct().count()
    val q = emb.where($"vec_id" < 10)
    def probe(g: org.apache.spark.sql.DataFrame, tag: String): Double = {
      val t = System.nanoTime()
      ops.Hnsw.probeGraph(g, q, k = 10).queryExecution.toRdd.foreach(_ => ())
      val s = (System.nanoTime() - t) / 1e9
      graft.core.PlanCache.release(spark)
      println(f"[stress] hnsw_compact probe($tag) $s%8.2f s")
      s
    }
    probe(graph, "before/warm")
    probe(graph, "before")
    val t2 = System.nanoTime()
    val small = ops.Hnsw.segmentSizes(spark, path).collect { case (seg, n) if n <= 4000 => seg }
    val merged = ops.Hnsw.compactSegments(graph, small.toSet,
      numSegments = ops.Hnsw.autoSegments(smallRows), segOffset = 1000000)
    val cmpPath = s"$target/__hnsw_compacted"
    merged.write.mode("overwrite").parquet(cmpPath)
    val tCompact = (System.nanoTime() - t2) / 1e9
    val after = spark.read.parquet(cmpPath)
    val nSegsAfter = after.select($"seg").distinct().count()
    probe(after, "after/warm")
    probe(after, "after")
    println(f"[stress] hnsw_compact n=$n base-build $tBase%8.2f s (segs=$baseSegs)" +
      f"  appends $tAppend%8.2f s  compact $tCompact%8.2f s" +
      f"  segs $nSegsBefore -> $nSegsAfter")
  }

  /** Query-batch-dimension stress for the distributed IVF-PQ search:
    * the same persisted cell-partitioned index probed by 1k and then
    * 10k queries. The r4 design collected every query to the driver
    * and looped over all of them per code row (O(codes × queries));
    * the joined design must scale ≈ linearly in the batch size. */
  private def ivfpqBulk(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val (ix, c0) = ops.IvfPq.build(emb, dim = 64, nCells = 16, m = 8, k = 256)
    val path = "/tmp/graft-ivfpq-stress"
    ops.IvfPq.persistCodes(c0, path)
    val codes = ops.IvfPq.loadCodes(spark, path)
    val n = emb.count().toInt
    def batch(nq: Int) = {
      // replicate with offset ids: never equal to a corpus id, so the
      // self-exclusion path stays cold and every query returns k rows.
      // Per-copy where() instead of a global limit(): GlobalLimit would
      // funnel the whole batch through ONE partition.
      val copies = (nq + n - 1) / n
      (0 until copies).map { c =>
        val take = math.min(n, nq - c * n)
        emb.where($"vec_id" < take)
          .select(($"vec_id" + lit((c + 1) * 1000000L)).as("vec_id"), $"embedding")
      }.reduce(_ unionByName _)
    }
    def time(nq: Int): Double = {
      val t0 = System.nanoTime()
      ops.IvfPq.search(batch(nq), ix, codes, emb, k = 10, nProbe = 8)
        .queryExecution.toRdd.foreach(_ => ())
      val secs = (System.nanoTime() - t0) / 1e9
      graft.core.PlanCache.release(spark)
      println(f"[stress] ivfpq_bulk nq=$nq%-6d $secs%8.2f s")
      secs
    }
    time(1000) // warm (codegen + index read)
    val t1k = time(1000)
    val t10k = time(10000)
    println(f"[stress] ratio  ivfpq_bulk            ${t10k / t1k}%8.2fx for 10x queries")
  }
}
