package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.matchers.should.Matchers

/** The registry harness says each thing once: every session comes
  * from `core.Sessions`, and the entries that read a session fixture
  * are derived from `core.SessionMemo` hit counts, not listed by hand. */
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
}
