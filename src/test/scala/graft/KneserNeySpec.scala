package graft

/** Pins for the interpolated Kneser-Ney bigram scorer (x93) that the
  * DuckDB oracle cannot establish on driver data alone: the exact
  * normalization of the D = 3/4 integer-rational formulation, and
  * agreement with an index-free textbook reference implementation on a
  * seeded random corpus.
  */
class KneserNeySpec extends SparkSpec {

  /** Count tables of the KN model over (doc, text) rows — plain Scala,
    * mirroring the engine's `split(text, ' ')` semantics (trailing
    * empties kept).
    */
  private def counts(docs: Seq[(Long, String)]) = {
    val pairs = docs.flatMap { case (id, t) =>
      val toks = t.split(" ", -1).toSeq
      if (toks.size >= 2) toks.sliding(2).map(p => (id, p(0), p(1))).toSeq
      else Seq.empty
    }
    val cb = pairs.groupBy(p => (p._2, p._3)).map { case (k, g) =>
      (k, g.size.toLong) }
    val cp = pairs.groupBy(_._2).map { case (k, g) => (k, g.size.toLong) }
    val n1p = cb.keys.toSeq.groupBy(_._1).map { case (k, g) =>
      (k, g.size.toLong) }
    val n1w = cb.keys.toSeq.groupBy(_._2).map { case (k, g) =>
      (k, g.size.toLong) }
    val nbt = cb.size.toLong
    (pairs, cb, cp, n1p, n1w, nbt)
  }

  /** The engine's formula as exact BigInt numerator/denominator. */
  private def ratio(cb: Long, cp: Long, n1p: Long, n1w: Long,
      nbt: Long): (BigInt, BigInt) =
    ((BigInt(4) * cb - 3) * nbt + BigInt(3) * n1p * n1w,
      BigInt(4) * cp * nbt)

  test("D = 3/4 probabilities sum to EXACTLY 1 over the continuation " +
      "vocabulary for every prefix (BigInt identity, no floats)") {
    val docs = Seq((0L, "a b a b c"), (1L, "b a a c c b"), (2L, "c a b"))
    val (_, cb, cp, n1p, n1w, nbt) = counts(docs)
    for ((prev, cpv) <- cp) {
      // Σ over ALL continuation types w (P = 0 off-support): numerators
      // must telescope to the shared denominator
      val num = n1w.keys.toSeq.map { w =>
        cb.get((prev, w)) match {
          case Some(c) => ratio(c, cpv, n1p(prev), n1w(w), nbt)._1
          case None    => BigInt(3) * n1p(prev) * n1w(w)
        }
      }.sum
      val den = ratio(1, cpv, n1p(prev), n1w("a"), nbt)._2
      assert(num == den, s"prefix '$prev': $num != $den")
    }
  }

  test("engine matches the textbook reference scorer on a seeded " +
      "random corpus, and single-token docs drop out") {
    val rnd = new scala.util.Random(7)
    val words = Vector.fill(25) {
      (1 to (1 + rnd.nextInt(4))).map(_ => "abcd" (rnd.nextInt(4))).mkString
    }
    val docs = (0 until 5).map { i =>
      (i.toLong,
        Vector.fill(20)(words(rnd.nextInt(words.length))).mkString(" "))
    } :+ (5L, "solo") // single token: no bigrams, must not appear
    val (pairs, cb, cp, n1p, n1w, nbt) = counts(docs)
    val want = pairs.groupBy(_._1).map { case (id, g) =>
      val lps = g.map { case (_, a, b) =>
        val (num, den) = ratio(cb((a, b)), cp(a), n1p(a), n1w(b), nbt)
        math.floor(math.log(num.toDouble / den.toDouble) * 1e6 + 0.5).toLong
      }
      (id, (g.size.toLong, lps.sum))
    }
    val dir = corpusDir(docs.sortBy(_._1).map(_._2): _*)
    val got = SparkEntry.queries("x93_kneser_ney")(spark, dir)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("n_bigrams"), r.getAs[Long]("lp_micro_sum"))))
      .toMap
    spark.catalog.clearCache()
    assert(!got.contains(5L), "single-token doc must have no bigram rows")
    assert(got == want, s"engine $got vs reference $want")
  }
}
