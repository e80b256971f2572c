package graft.bench

/** The in-process model every answer is checked against: brute-force
  * cosine k-NN over the model's live documents, and the expected
  * outcome of each corpus-prep stage. A check returns the list of
  * problems it found; an empty list is a pass. */
object Model {

  /** Distances agree to this much: the index route rounds to 4
    * decimals, the exact route computes the same double kernel. */
  val Eps = 1e-4

  /** graft's cosine distance: float inputs widened to double,
    * accumulated left to right. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 1.0 else 1.0 - dot / denom
  }

  /** One returned neighbour: the caller's key for the row and the
    * distance graft reported. */
  final case class Hit(key: String, distance: Double)

  /** Checks a top-k answer against the eligible rows (key → vector):
    * every hit is eligible, reports its true distance, appears once,
    * the answer has min(k, eligible) rows, and no eligible row closer
    * than the k-th returned distance is missing. Rows tied with the
    * k-th distance may come back in any order. */
  def checkTopK(hits: Seq[Hit], eligible: collection.Map[String, Array[Float]],
      q: Array[Float], k: Int): Seq[String] = {
    val problems = Seq.newBuilder[String]
    val want = math.min(k, eligible.size)
    if (hits.size != want) problems += s"returned ${hits.size} rows, expected $want"
    if (hits.map(_.key).distinct.size != hits.size) problems += "duplicate rows in answer"
    for (h <- hits) eligible.get(h.key) match {
      case None => problems += s"${h.key} is not an eligible live row"
      case Some(v) =>
        val d = cosine(q, v)
        if (math.abs(d - h.distance) > Eps) problems += f"${h.key} distance ${h.distance}%.6f, model $d%.6f"
    }
    if (hits.nonEmpty) {
      val kth = hits.map(_.distance).max
      val returned = hits.map(_.key).toSet
      val missed = eligible.iterator.filter { case (key, v) =>
        !returned.contains(key) && cosine(q, v) < kth - Eps
      }.take(3).map(_._1).toSeq
      if (missed.nonEmpty) problems += s"missed closer rows ${missed.mkString(",")}"
    }
    problems.result()
  }

  /** Checks an approximate (index-route) answer: min(k, eligible) rows,
    * each an eligible live row at its true distance, none twice. How
    * many of the true top-k came back is [[recall]]'s business. */
  def checkApproximate(hits: Seq[Hit], eligible: collection.Map[String, Array[Float]],
      q: Array[Float], k: Int): Seq[String] = {
    val want = math.min(k, eligible.size)
    val bad = hits.filterNot(h => eligible.get(h.key).exists(v => math.abs(cosine(q, v) - h.distance) <= Eps))
    (if (hits.size != want) Seq(s"returned ${hits.size} rows, expected $want") else Nil) ++
      (if (hits.map(_.key).distinct.size != hits.size) Seq("duplicate rows in answer") else Nil) ++
      bad.take(3).map(h => s"${h.key} is not a live row at distance ${h.distance}")
  }

  /** Recall@k of an approximate answer: returned rows whose true
    * distance is within the model's k-th distance, over min(k, n). */
  def recall(hits: Seq[Hit], eligible: collection.Map[String, Array[Float]],
      q: Array[Float], k: Int): Double = {
    val ds = eligible.valuesIterator.map(cosine(q, _)).toArray
    java.util.Arrays.sort(ds)
    val want = math.min(k, ds.length)
    if (want == 0) return 1.0
    val kth = ds(want - 1)
    val good = hits.map(_.key).distinct.count(key =>
      eligible.get(key).exists(v => cosine(q, v) <= kth + Eps))
    math.min(good, want).toDouble / want
  }

  /** Read-your-writes: every requested id that the model holds comes
    * back once with the model's metadata and vector; every id the model
    * does not hold (deleted or never written) stays invisible. */
  def checkLookup(ids: Seq[String], live: String => Option[(String, Seq[Float])],
      rows: Seq[(String, String, Seq[Float])]): Seq[String] = {
    val got = rows.groupBy(_._1)
    ids.flatMap { id =>
      (live(id), got.get(id)) match {
        case (None, None) => Nil
        case (None, Some(_)) => Seq(s"deleted row $id is visible")
        case (Some(_), None) => Seq(s"live row $id is missing")
        case (Some((json, vec)), Some(rs)) =>
          if (rs.size != 1) Seq(s"row $id returned ${rs.size} times")
          else if (rs.head._2 != json) Seq(s"row $id is stale: ${rs.head._2}")
          else if (rs.head._3 != vec) Seq(s"row $id has a stale embedding")
          else Nil
      }
    }
  }

  // ---- corpus_prep stage expectations ----

  /** Ids of a corpus that Gopher must keep: everything not planted bad. */
  def expectedKept(corpus: Seq[Gen.PrepDoc]): Set[String] =
    corpus.filter(_.kind != "bad").map(_.id).toSet

  /** Exact-duplicate groups among the kept docs: (min id, group size)
    * for every text that occurs more than once. */
  def expectedExactGroups(corpus: Seq[Gen.PrepDoc]): Set[(String, Long)] =
    corpus.filter(_.kind != "bad").groupBy(_.text).valuesIterator
      .filter(_.size > 1).map(g => (g.map(_.id).min, g.size.toLong)).toSet

  /** Planted near-duplicate pairs (original id, near id). */
  def plantedNearPairs(corpus: Seq[Gen.PrepDoc]): Set[(String, String)] =
    corpus.filter(_.kind == "near").map(d => (d.group, d.id)).toSet

  /** Two docs are near-duplicates of each other when they share a
    * planted original (an original and its near copies). */
  def sameGroup(corpus: Seq[Gen.PrepDoc]): (String, String) => Boolean = {
    val group = corpus.map(d => d.id -> d.group).toMap
    (a, b) => group.get(a).exists(g => group.get(b).contains(g))
  }

  def checkKept(got: Set[String], corpus: Seq[Gen.PrepDoc]): Seq[String] = {
    val want = expectedKept(corpus)
    if (got == want) Nil
    else Seq(s"quality kept ${got.size} docs, expected ${want.size} " +
      s"(missing ${(want -- got).take(3).mkString(",")}; extra ${(got -- want).take(3).mkString(",")})")
  }

  def checkExactGroups(got: Set[(String, Long)], corpus: Seq[Gen.PrepDoc]): Seq[String] = {
    val want = expectedExactGroups(corpus)
    if (got == want) Nil
    else Seq(s"exact dedup found ${got.size} groups, expected ${want.size} " +
      s"(missing ${(want -- got).take(3).mkString(",")}; extra ${(got -- want).take(3).mkString(",")})")
  }
}
