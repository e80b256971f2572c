package graft.bench

import graft.embed.HashingEmbedder
import graft.filters.Filters

/** Seeded input generation. Everything a run feeds graft — documents,
  * queries, change batches, the op sequence — comes from here and
  * depends only on the seed and the op count, never on the clock, so
  * two runs with one seed send byte-identical inputs and end at the
  * same table state. */
object Gen {

  val Dim = 64
  val K = 10
  private val embedder = HashingEmbedder(Dim)
  def embed(text: String): Array[Float] = embedder.embed(text)

  /** A fixed pseudo-word vocabulary (independent of the run seed):
    * lowercase alphabetic words of 4–9 letters, so generated text
    * passes Gopher's word-length and alphabetic-fraction rules. */
  val Vocab: Array[String] = {
    val r = new java.util.Random(7L)
    val cons = "bcdfghjklmnprstvz"
    val vows = "aeiou"
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    while (seen.size < 3000) {
      val syll = 2 + r.nextInt(3)
      val sb = new StringBuilder
      for (_ <- 0 until syll) {
        sb.append(cons.charAt(r.nextInt(cons.length)))
        sb.append(vows.charAt(r.nextInt(vows.length)))
      }
      if (r.nextBoolean()) sb.append(cons.charAt(r.nextInt(cons.length)))
      if (!graft.functions.GopherStatsExpr.stopList.contains(sb.toString)) seen += sb.toString
    }
    seen.toArray
  }

  /** The Gopher stop words, mixed into good text (≥ 2 distinct needed). */
  val StopWords: Array[String] = Array("the", "to", "of", "and", "with", "that")

  /** Zipf-like word pick: squaring a uniform skews toward low ranks. */
  def word(r: java.util.Random): String = {
    val u = r.nextDouble()
    Vocab((u * u * Vocab.length).toInt)
  }

  def words(r: java.util.Random, n: Int): Seq[String] = Seq.fill(n)(word(r))

  // ---- serving documents (rag_serve, cdc_apply) ----

  val Langs = Array("en", "de")
  val Regions: Array[String] = Array.tabulate(10)(i => s"r$i")
  val Cats: Array[String] = Array.tabulate(200)(i => f"c$i%03d")

  /** One JSON document. Field selectivities under the query filters:
    * lang 50%, region 10%, score < 5 5%, region+lang 5%, cat 0.5%. */
  final case class Doc(no: Long, text: String, lang: String, region: String,
      cat: String, score: Int, ver: Int) {
    lazy val json: String =
      s"""{"doc":$no,"text":"$text","lang":"$lang","region":"$region","cat":"$cat","score":$score,"ver":$ver}"""
    lazy val embedding: Array[Float] = embedder.embed(text)
    def id: String = f"d$no%08d"
    /** User bytes of the row: its JSON and its float vector. */
    def userBytes: Long = json.getBytes("UTF-8").length + 4L * Dim
  }

  def doc(r: java.util.Random, no: Long, ver: Int = 0): Doc =
    Doc(no, words(r, 12 + r.nextInt(13)).mkString(" "), Langs(r.nextInt(2)),
      Regions(r.nextInt(Regions.length)), Cats(r.nextInt(Cats.length)), r.nextInt(100), ver)

  /** Reads the document number back out of a returned metadata string. */
  private val DocNo = "\"doc\":(\\d+)".r
  def docNo(json: String): Long =
    DocNo.findFirstMatchIn(json).map(_.group(1).toLong)
      .getOrElse(throw new IllegalStateException(s"no doc number in $json"))

  // ---- query filters: the filterable fields at 0.5–50% selectivity ----

  sealed trait Filter {
    def preds: Seq[Filters.Pred]
    def accepts(d: Doc): Boolean
  }
  final case class LangIs(v: String) extends Filter {
    def preds = Seq(Filters.Eq("lang", v)); def accepts(d: Doc) = d.lang == v
  }
  final case class RegionIs(v: String) extends Filter {
    def preds = Seq(Filters.Eq("region", v)); def accepts(d: Doc) = d.region == v
  }
  final case class ScoreLt(v: Int) extends Filter {
    def preds = Seq(Filters.Cmp("score", Filters.CmpOp.Lt, v)); def accepts(d: Doc) = d.score < v
  }
  final case class RegionLang(region: String, lang: String) extends Filter {
    def preds = Seq(Filters.Eq("region", region), Filters.Eq("lang", lang))
    def accepts(d: Doc) = d.region == region && d.lang == lang
  }
  final case class CatIs(v: String) extends Filter {
    def preds = Seq(Filters.Eq("cat", v)); def accepts(d: Doc) = d.cat == v
  }

  /** The `i`-th filter of a run: the kind cycles in a fixed order, so
    * every run mixes selectivities alike; the seed picks the values. */
  def filter(r: java.util.Random, i: Int): Filter = i % 5 match {
    case 0 => LangIs(Langs(r.nextInt(2)))
    case 1 => RegionIs(Regions(r.nextInt(Regions.length)))
    case 2 => ScoreLt(5)
    case 3 => RegionLang(Regions(r.nextInt(Regions.length)), Langs(r.nextInt(2)))
    case _ => CatIs(Cats(r.nextInt(Cats.length)))
  }

  def queryText(r: java.util.Random): String = words(r, 3 + r.nextInt(4)).mkString(" ")

  // ---- corpus_prep documents ----

  /** A raw corpus document and what it was planted as. `group` ties
    * exact duplicates to their original and near-duplicates to theirs. */
  final case class PrepDoc(id: String, text: String, kind: String, group: String)

  /** Good text: 60–90 words with every 7th a stop word, cycling through
    * the list so each good doc holds several distinct ones (passes
    * Gopher). */
  def goodText(r: java.util.Random): String = {
    val n = 60 + r.nextInt(31)
    Seq.tabulate(n)(i => if (isStopSlot(i)) StopWords((i / 7) % StopWords.length) else word(r))
      .mkString(" ")
  }
  private def isStopSlot(i: Int): Boolean = i % 7 == 3

  /** Low-quality text, failing one Gopher rule each: too short, or
    * symbol-heavy (`#` tokens), or no stop words. */
  def badText(r: java.util.Random): String = r.nextInt(3) match {
    case 0 => words(r, 10 + r.nextInt(20)).mkString(" ")
    case 1 => Seq.tabulate(60 + r.nextInt(20))(i =>
      if (i % 4 == 0) "#" + word(r) else if (i % 7 == 3) "the" else word(r)).mkString(" ")
    case _ => words(r, 60 + r.nextInt(30)).mkString(" ")
  }

  /** Near-duplicate: 3 of the words replaced, which keeps the 5-shingle
    * Jaccard far above the 0.5 detection threshold for 60+ word docs. */
  def nearDupOf(r: java.util.Random, text: String): String = {
    val w = text.split(" ")
    val slots = scala.util.Random.javaRandomToRandom(r)
      .shuffle((5 until w.length - 5).filterNot(isStopSlot).toVector).take(3)
    for (i <- slots) {
      var x = word(r)
      while (x == w(i)) x = word(r)
      w(i) = x
    }
    w.mkString(" ")
  }

  /** One corpus of `n` docs: ~10% low-quality, ~8% exact duplicates of
    * an earlier good doc, ~20% near-duplicates of one. Near-duplicates
    * are many so that the share MinHash-LSH finds, a per-pair coin toss
    * near its threshold, holds steady from seed to seed. Ids are unique. */
  def corpus(seed: Long, pass: Int, n: Int): IndexedSeq[PrepDoc] = {
    val r = new java.util.Random(seed * 1000003L + pass)
    val out = scala.collection.mutable.ArrayBuffer[PrepDoc]()
    val originals = scala.collection.mutable.ArrayBuffer[PrepDoc]()
    // fresh texts never collide with an earlier one, so the only equal
    // texts are the planted exact duplicates
    val texts = scala.collection.mutable.HashSet[String]()
    def fresh(make: => String): String = {
      var t = make
      while (texts.contains(t)) t = make
      texts += t
      t
    }
    for (i <- 0 until n) {
      val id = f"p$pass%02d-$i%07d"
      val roll = r.nextInt(100)
      val d =
        if (roll < 10) PrepDoc(id, fresh(badText(r)), "bad", id)
        else if (roll < 18 && originals.nonEmpty) {
          val o = originals(r.nextInt(originals.size)); PrepDoc(id, o.text, "exact", o.id)
        } else if (roll < 38 && originals.nonEmpty) {
          val o = originals(r.nextInt(originals.size))
          PrepDoc(id, fresh(nearDupOf(r, o.text)), "near", o.id)
        } else {
          val g = PrepDoc(id, fresh(goodText(r)), "good", id); originals += g; g
        }
      out += d
    }
    out.toIndexedSeq
  }
}
