package graft.bench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own tests: inputs are a pure function of the seed,
  * every model check rejects a planted wrong answer, and the metrics the
  * program prints are exactly the ones `BENCHMARK.json` declares. */
class BenchSpec extends AnyFunSuite {

  // ---- same seed, same inputs and op sequence ----

  private def ragInputs(seed: Long): String = {
    val docs = RagServe.initialDocs(seed)
    (docs.map(_.json) ++ RagServe.ops(seed, RagServe.opCount(12), 2, docs).map(_.toString) ++
      Gen.corpus(seed, 1, RagServe.PrepDocs).map(_.toString)).mkString("\n")
  }
  private def cdcInputs(seed: Long): String = {
    val docs = CdcApply.initialDocs(seed)
    val (warm, steps) = CdcApply.steps(seed, CdcApply.stepCount(12), docs, CdcApply.WarmPattern.length)
    (docs.map(_.json) ++ (warm ++ steps).map(_.toString) ++ CdcApply.probes(seed)).mkString("\n")
  }
  private def prepInputs(seed: Long): String =
    (Gen.corpus(seed, 1, 2000).map(_.toString) ++ Seq(CorpusPrep.queries(seed, 1, CorpusPrep.PanelQueries).toString)).mkString("\n")

  for ((name, inputs) <- Seq[(String, Long => String)](
      "rag_serve" -> ragInputs, "cdc_apply" -> cdcInputs, "corpus_prep" -> prepInputs)) {
    test(s"$name: one seed gives byte-identical inputs and ops, another seed different ones") {
      val a = inputs(42L).getBytes("UTF-8")
      assert(java.util.Arrays.equals(a, inputs(42L).getBytes("UTF-8")))
      assert(!java.util.Arrays.equals(a, inputs(43L).getBytes("UTF-8")))
    }
  }

  test("op schedules are fixed: every run of one length sends the same op classes") {
    def classes(seed: Long) = RagServe.ops(seed, 40, 2, RagServe.initialDocs(seed)).map(_.getClass)
    assert(classes(1L) == classes(2L))
    def writes(seed: Long) = CdcApply.steps(seed, 10, CdcApply.initialDocs(seed), 2)._2.map(_.write.getClass)
    assert(writes(1L) == writes(2L))
  }

  test("planted corpus: bad docs, exact groups and near pairs are all present") {
    val c = Gen.corpus(7L, 1, 3000)
    assert(c.count(_.kind == "bad") > 100)
    assert(Model.expectedExactGroups(c).nonEmpty)
    assert(Model.plantedNearPairs(c).size > 100)
    assert(c.map(_.id).distinct.size == c.size)
  }

  // ---- each model check rejects a planted wrong answer ----

  private val docs = RagServe.initialDocs(5L).take(300)
  private val eligible = docs.map(d => d.no.toString -> d.embedding).toMap
  private val q = Gen.embed(Gen.queryText(new java.util.Random(9L)))
  private val truth = eligible.toSeq.map { case (k, v) => Model.Hit(k, Model.cosine(q, v)) }
    .sortBy(h => (h.distance, h.key)).take(Gen.K)

  test("top-k check passes the brute-force answer") {
    assert(Model.checkTopK(truth, eligible, q, Gen.K).isEmpty)
    assert(Model.recall(truth, eligible, q, Gen.K) == 1.0)
  }

  test("top-k check rejects a missing row replaced by a farther one") {
    val farthest = eligible.toSeq.map { case (k, v) => Model.Hit(k, Model.cosine(q, v)) }.maxBy(_.distance)
    assert(Model.checkTopK(truth.take(3) ++ truth.drop(4) :+ farthest, eligible, q, Gen.K).nonEmpty)
  }

  test("top-k check rejects k off by one, either way") {
    assert(Model.checkTopK(truth.take(Gen.K - 1), eligible, q, Gen.K).nonEmpty)
    val extra = eligible.toSeq.map { case (k, v) => Model.Hit(k, Model.cosine(q, v)) }
      .sortBy(h => (h.distance, h.key)).take(Gen.K + 1)
    assert(Model.checkTopK(extra, eligible, q, Gen.K).nonEmpty)
  }

  test("top-k check rejects a stale distance and a row outside the filter") {
    val stale = truth.updated(0, truth.head.copy(distance = truth.head.distance + 0.01))
    assert(Model.checkTopK(stale, eligible, q, Gen.K).nonEmpty)
    val narrowed = eligible - truth.head.key
    assert(Model.checkTopK(truth, narrowed, q, Gen.K).nonEmpty)
  }

  test("approximate check passes live rows at their distance, rejects anything else") {
    val farthest = eligible.toSeq.map { case (k, v) => Model.Hit(k, Model.cosine(q, v)) }.maxBy(_.distance)
    assert(Model.checkApproximate(truth.take(Gen.K - 1) :+ farthest, eligible, q, Gen.K).isEmpty)
    assert(Model.checkApproximate(truth.take(Gen.K - 1), eligible, q, Gen.K).nonEmpty)
    assert(Model.checkApproximate(truth.take(Gen.K - 1) :+ truth.head, eligible, q, Gen.K).nonEmpty)
    val stale = truth.updated(0, truth.head.copy(distance = truth.head.distance + 0.01))
    assert(Model.checkApproximate(stale, eligible, q, Gen.K).nonEmpty)
    assert(Model.checkApproximate(truth, eligible - truth.head.key, q, Gen.K).nonEmpty)
  }

  test("recall counts only rows within the true k-th distance") {
    val half = truth.take(5) ++ eligible.toSeq.map { case (k, v) => Model.Hit(k, Model.cosine(q, v)) }
      .sortBy(-_.distance).take(5)
    assert(Model.recall(half, eligible, q, Gen.K) == 0.5)
  }

  test("read-your-writes check rejects a missing row, a stale update and a visible delete") {
    val d = docs.head
    val live: String => Option[(String, Seq[Float])] =
      Map(d.id -> (d.json, d.embedding.toSeq)).get
    val ok = Seq((d.id, d.json, d.embedding.toSeq))
    assert(Model.checkLookup(Seq(d.id, "gone"), live, ok).isEmpty)
    assert(Model.checkLookup(Seq(d.id), live, Nil).nonEmpty)
    assert(Model.checkLookup(Seq(d.id), live, Seq((d.id, d.copy(ver = 9).json, d.embedding.toSeq))).nonEmpty)
    assert(Model.checkLookup(Seq(d.id), live, Seq((d.id, d.json, docs(1).embedding.toSeq))).nonEmpty)
    assert(Model.checkLookup(Seq(d.id), live, ok ++ ok).nonEmpty)
    assert(Model.checkLookup(Seq("gone"), live, Seq(("gone", "{}", Nil))).nonEmpty)
  }

  test("corpus checks reject a dropped good doc and a wrong duplicate group") {
    val c = Gen.corpus(3L, 1, 2000)
    val kept = Model.expectedKept(c)
    assert(Model.checkKept(kept, c).isEmpty)
    assert(Model.checkKept(kept - kept.head, c).nonEmpty)
    assert(Model.checkKept(kept + c.find(_.kind == "bad").get.id, c).nonEmpty)
    val groups = Model.expectedExactGroups(c)
    assert(Model.checkExactGroups(groups, c).isEmpty)
    val (id, n) = groups.head
    assert(Model.checkExactGroups(groups - ((id, n)) + ((id, n + 1)), c).nonEmpty)
    assert(Model.checkExactGroups(groups - ((id, n)), c).nonEmpty)
  }

  // ---- printed metrics match BENCHMARK.json ----

  private lazy val declared = new ObjectMapper().readTree(
    Files.readAllBytes(Paths.get("..", "BENCHMARK.json")))

  private def declaredMetrics(key: String): Seq[(String, String)] =
    declared.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  test("every printed metric is declared in BENCHMARK.json with its unit, and named validly") {
    assert(Main.EndToEnd == declaredMetrics("end_to_end"))
    assert(Main.PerLayer == declaredMetrics("per_layer"))
    for ((name, _) <- Main.EndToEnd ++ Main.PerLayer) assert(name.matches("[A-Za-z0-9_.-]+"), name)
    val names = (Main.EndToEnd ++ Main.PerLayer).map(_._1)
    assert(names.distinct == names)
  }

  test("every workload BENCHMARK.json declares is one the program runs") {
    val workloads = declared.get("workloads").elements().asScala.map(_.get("name").asText).toSet
    assert(workloads.nonEmpty && workloads.subsetOf(Main.Workloads.keySet))
  }
}
