package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.matchers.should.Matchers

/** The registry harness says each thing once: every session comes
  * from `core.Sessions`, the entries that read a session fixture are
  * derived from `core.SessionMemo` hit counts, not listed by hand,
  * each entry carries its own oracle SQL, and every scratch directory
  * belongs to its session through `core.Scratch`. */
class HarnessSpec extends SparkSpec with Matchers {

  test("fixture attribution marks exactly the entries that read a session memo") {
    val dir = "/root/testdata/sf0.001"
    val names = Seq("vdb_tvf", "ann_graph_probe_rewrite", "ann_ivfpq_incremental",
      "dedup_components", "q1_agg")
    // the attribution Bench's fixture_entries uses
    val marked = names.filter(SparkEntry.runEntry(spark, _, dir))
    marked shouldBe names.take(4)
  }

  test("SparkSession.builder appears only in core/Sessions.scala") {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    val factory = root.resolve("graft/core/Sessions.scala")
    files should contain(factory) // the scan saw the source tree
    val offenders = files.filterNot(_ == factory)
      .filter((p: Path) => Files.readString(p).contains("SparkSession.builder"))
    offenders shouldBe empty
  }

  test("a factory session carries the bench's settings") {
    val conf = spark.sessionState.conf
    conf.getConfString("spark.sql.extensions") shouldBe "graft.plans.GraftExtensions"
    spark.sessionState.functionRegistry
      .functionExists(FunctionIdentifier("cosine_distance")) shouldBe true
    conf.adaptiveExecutionEnabled shouldBe true
    conf.autoBroadcastJoinThreshold shouldBe 64L * 1024 * 1024
    conf.sessionLocalTimeZone shouldBe "UTC"
    conf.getConfString("spark.sql.legacy.parquet.nanosAsLong") shouldBe "true"
    conf.numShufflePartitions shouldBe 4
  }

  test("every registry entry has a distinct name and its own oracle SQL") {
    val names = SparkEntry.entries.map(_.name)
    names should have size 327
    names.distinct should have size 327
    SparkEntry.entries.filter(_.oracleSql.trim.isEmpty).map(_.name) shouldBe empty
    SparkEntry.queries.keySet shouldBe SparkEntry.oracleSql.keySet
  }

  /** Directories named `prefix…` directly under the temp dir or one
    * level inside a `graft-*` directory there. */
  private def graftDirs(prefixes: String*): Set[Path] = {
    def dirs(p: Path): List[Path] =
      try Files.list(p).iterator().asScala.filter(Files.isDirectory(_)).toList
      catch { case _: java.io.IOException => Nil }
    val top = dirs(Paths.get(System.getProperty("java.io.tmpdir")))
      .filter(_.getFileName.toString.startsWith("graft-"))
    (top ++ top.flatMap(dirs))
      .filter(p => prefixes.exists(p.getFileName.toString.startsWith)).toSet
  }

  test("releasing a session deletes the scratch directories its entries created") {
    val dir = "/root/testdata/sf0.001"
    SparkEntry.releaseSessionCaches(spark) // the fixture below is built afresh
    val prefixes = Seq("graft-ivfpq-base", "graft-del")
    val before = graftDirs(prefixes: _*)
    SparkEntry.runEntry(spark, "ann_ivfpq_incremental", dir) // memo fixture
    SparkEntry.runEntry(spark, "vdb_delete", dir) // per-run scratch
    val created = graftDirs(prefixes: _*) -- before
    prefixes.foreach(p => created.map(_.getFileName.toString).exists(_.startsWith(p)) shouldBe true)
    SparkEntry.releaseSessionCaches(spark)
    created.filter(Files.exists(_)) shouldBe empty
  }

  test("createTempDirectory appears only in core/Scratch.scala and core/Iterate.scala") {
    val root = Paths.get("src/main/scala")
    val owners = Set("graft/core/Scratch.scala", "graft/core/Iterate.scala").map(root.resolve)
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    owners.foreach(files should contain(_)) // the scan saw the source tree
    val offenders = files.filterNot(owners)
      .filter((p: Path) => Files.readString(p).contains("createTempDirectory"))
    offenders shouldBe empty
  }

  test("specs make temp directories and files only through SparkSpec.tempDir") {
    val root = Paths.get("src/test/scala")
    val helper = root.resolve("graft/SparkSpec.scala")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    files should contain(helper) // the scan saw the source tree
    val call = "createTemp(Directory|File)\\s*\\(".r
    val offenders = files.filterNot(_ == helper)
      .filter((p: Path) => call.findFirstIn(Files.readString(p)).isDefined)
    offenders shouldBe empty
  }
}
