package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.plans.GvdbRowLevel
import graft.sources.IdBlooms
import graft.table.VectorTable

/** Per-file id Bloom pruning for the CoW victim lookup
  * (sources/IdBlooms.scala): under content-hash ids every file's
  * footer id range spans the keyspace, so range pruning keeps the
  * whole table candidate — the blooms must (1) build LAZILY from the
  * first lookup's own candidate scan (non-victim files only; victims
  * die moments later), (2) prune a later lookup to the true
  * maybe-holders with zero false negatives, (3) converge over files
  * written between lookups without any eager sync, and (4) survive a
  * whole-table rewrite by invalidation, never by serving stale
  * bits. */
class IdBloomsSpec extends SparkSpec with Matchers {

  private def fs(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** `n` rows with md5-hex ids offset by `salt` — every batch spans
    * the whole hex keyspace, the layout range pruning cannot touch. */
  private def batch(salt: Int, n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map { i =>
      val id = java.security.MessageDigest.getInstance("MD5")
        .digest(s"row-$salt-$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
      (id, s"""{"salt":$salt}""", Seq(i.toFloat))
    }.toDF("id", "metadata", "embedding").repartition(2)
  }

  private def touchedOf(salt: Int, n: Int, take: Int) = {
    import spark.implicits._
    batch(salt, n).select($"id").limit(take).distinct().localCheckpoint(true)
  }

  private def groundTruthVictims(root: String, touched: DataFrame): Set[String] = {
    import spark.implicits._
    spark.read.parquet(root)
      .select($"id", input_file_name().as("f"))
      .join(touched, Seq("id"), "left_semi")
      .select($"f").distinct().collect().map(r => new Path(r.getString(0)).getName).toSet
  }

  test("lazy bootstrap blooms the non-victim candidates; second lookup is pruned and sound") {
    val root = tempDir("graft-blooms") + "/t"
    val table = new VectorTable(spark, root, 1).create()
    (0 until 4).foreach(s => table.insert(batch(s, 200)))
    val hfs = fs(root)
    IdBlooms.enabled(hfs, root) shouldBe false

    val touched = touchedOf(2, 200, 25)
    val expected = groundTruthVictims(root, touched)

    // first lookup: ranges overlap → full candidate set; blooms built
    // for every candidate EXCEPT the victims (caller would delete them)
    val (victims1, _) = GvdbRowLevel.victimLookup(spark, root, touched)
    victims1.map(f => new Path(f).getName).toSet shouldBe expected
    IdBlooms.enabled(hfs, root) shouldBe true
    val valid = IdBlooms.validNames(spark, hfs, root)
    valid.intersect(expected) shouldBe empty // victims stay unbloomed
    val allFiles = graft.sources.GvdbFooters.idStats(spark, root)
      .map(t => new Path(t._1).getName).toSet
    valid shouldBe (allFiles -- expected) // everything else is bloomed

    // soundness on a REAL bloom: an id living in a bloomed file must
    // survive the probe for it (false negatives are impossible)
    val bloomedId = {
      import spark.implicits._
      spark.read.parquet(root).select($"id", input_file_name().as("f"))
        .collect().collectFirst {
          case r if valid(new Path(r.getString(1)).getName) => r.getString(0)
        }.get
    }
    val holder = groundTruthVictims(root,
      { import spark.implicits._; Seq(bloomedId).toDF("id") })
    val hits = IdBlooms.probe(spark, hfs, root, Array(bloomedId))
    assert(holder.subsetOf(hits), s"false negative: $holder vs $hits")
    // pruning: at fpp 1e-9 nothing else may-hit
    hits shouldBe holder

    // second lookup with the ORIGINAL touched set: bloomed files all
    // prune out (no batch-2 id lives there), victims stay candidates —
    // same answer through the pruned path
    val (victims2, _) = GvdbRowLevel.victimLookup(spark, root, touched)
    victims2.map(f => new Path(f).getName).toSet shouldBe expected
  }

  test("files written between lookups converge lazily; whole-table rewrite invalidates") {
    val root = tempDir("graft-blooms2") + "/t"
    val table = new VectorTable(spark, root, 1).create()
    (0 until 3).foreach(s => table.insert(batch(s, 150)))
    GvdbRowLevel.victimLookup(spark, root, touchedOf(1, 150, 10)) // bootstrap
    val hfs = fs(root)
    IdBlooms.enabled(hfs, root) shouldBe true

    // an insert after bootstrap: NO eager sync — the new files are
    // simply absent from the manifest (conservative candidates)
    table.insert(batch(9, 150))
    val batch9Files = groundTruthVictims(root,
      { import spark.implicits._
        batch(9, 150).select($"id").distinct().localCheckpoint(true) })
    IdBlooms.validNames(spark, hfs, root).intersect(batch9Files) shouldBe empty
    // a lookup touching batch 0 reads the unbloomed files as
    // candidates — correct victims — and blooms batch 9's files on
    // the way through (they are non-victim candidates of THIS lookup)
    val t0 = touchedOf(0, 150, 10)
    val (v0, _) = GvdbRowLevel.victimLookup(spark, root, t0)
    v0.map(f => new Path(f).getName).toSet shouldBe groundTruthVictims(root, t0)
    assert(batch9Files.subsetOf(IdBlooms.validNames(spark, hfs, root)),
      "the next lookup must bloom files written since the last one")

    // whole-table rewrite (vacuum after a delete): every entry goes
    // stale by (len, mtime) — the next lookup treats all files as
    // unbloomed candidates and still names the right victims
    table.delete(get_json_object(col("metadata"), "$.salt") === "0")
    table.vacuum()
    val t1 = touchedOf(1, 150, 10)
    val (v1, _) = GvdbRowLevel.victimLookup(spark, root, t1)
    v1.map(f => new Path(f).getName).toSet shouldBe groundTruthVictims(root, t1)
  }

  /** Jobs run by `body` whose call site passes through IdBlooms (a
    * manifest probe, build or GC). */
  private def bloomJobsOf(body: => Unit): Int =
    jobsOf(body, _.stageInfos.exists(_.details.contains("sources.IdBlooms$")))

  test("a manifest left with no valid entry is dropped, and the next lookup probes nothing") {
    import spark.implicits._
    val root = tempDir("graft-blooms-drop") + "/t"
    val table = new VectorTable(spark, root, 1).create()
    (0 until 2).foreach(s => table.insert(batch(s, 100)))
    val hfs = fs(root)
    def upsert(ids: Seq[String]): Unit = graft.sources.GvdbUpsert(spark, root,
      ids.map(id => (id, "{}", Seq(-1f))).toDF("id", "metadata", "embedding"), Some(1))
    /** One id from every live file: every file becomes a victim. */
    def oneIdPerFile() = spark.read.parquet(root)
      .groupBy(input_file_name()).agg(min($"id")).collect().map(_.getString(1)).toSeq
    // a commit touching batch 0 blooms every file it does not replace
    upsert(batch(0, 100).select($"id").limit(5).collect().map(_.getString(0)).toSeq)
    IdBlooms.enabled(hfs, root) shouldBe true
    IdBlooms.validNames(spark, hfs, root) should not be empty
    // a commit replacing every bloomed file leaves the manifest nothing
    // valid and blooms nothing new (every candidate is a victim): it
    // is dropped; its lookup still probed it
    bloomJobsOf(upsert(oneIdPerFile())) should be > 0
    IdBlooms.enabled(hfs, root) shouldBe false
    // the next lookup runs no manifest job and names the true victims
    val touched = oneIdPerFile().toDF("id").localCheckpoint(true)
    val truth = groundTruthVictims(root, touched)
    var victims = Array.empty[String]
    bloomJobsOf { victims = GvdbRowLevel.victimLookup(spark, root, touched)._1 } shouldBe 0
    victims.map(f => new Path(f).getName).toSet shouldBe truth
    IdBlooms.enabled(hfs, root) shouldBe false
  }

  test("a failed bloom-manifest GC rename throws") {
    val root = tempDir("graft-blooms-gc") + "/t"
    val table = new VectorTable(spark, root, 1).create()
    (0 until 2).foreach(s => table.insert(batch(s, 50)))
    GvdbRowLevel.victimLookup(spark, root, touchedOf(1, 50, 5)) // builds the manifest
    IdBlooms.enabled(fs(root), root) shouldBe true
    val failing = SwapRenameFailingFs.on(spark, root)
    // counts that call the manifest bloated: the GC rewrites it through
    // `.blooms__rewrite`, whose rename fails
    intercept[java.io.IOException] {
      IdBlooms.gcIfBloated(spark, fs(failing), failing, totalEntries = 10, validEntries = 1)
    }.getMessage should include("rename")
  }
}
