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
    val root = Files.createTempDirectory("graft-blooms").toString + "/t"
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
    val root = Files.createTempDirectory("graft-blooms2").toString + "/t"
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

  test("a failed bloom-manifest GC rename throws") {
    val root = Files.createTempDirectory("graft-blooms-gc").toString + "/t"
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
