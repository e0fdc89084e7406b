package graft

import java.security.MessageDigest

/** Pins for the winnowing fingerprint selection (x94) that the DuckDB
  * oracle cannot establish alone: exact agreement with an index-walk
  * textbook implementation of the rightmost-min-of-window rule
  * (Schleimer et al. 2003) on a seeded random corpus, the ≥ w+k−1
  * match guarantee on a planted shared passage, and the all-ties
  * degenerate case (constant document) where the rightmost tiebreak
  * carries the whole selection.
  */
class WinnowingSpec extends SparkSpec {
  private val K = 5 // gram length (tokens)
  private val W = 4 // winnowing window (grams)

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Textbook winnowing: k-gram hashes, slide a w-window, select the
    * min (rightmost on ties) — a direct index walk, no string-key
    * encoding, no SQL.
    */
  private def reference(docs: Seq[(Long, String)])
      : Map[Long, (Long, Long, Long)] = {
    val sel: Map[Long, Set[(Int, String)]] = docs.map { case (id, t) =>
      val toks = t.split(" ", -1)
      // sliding() yields a short trailing window on under-length input —
      // guard so a < k-token doc has NO grams
      val grams =
        if (toks.length < K) Vector.empty[String]
        else toks.sliding(K).map(_.mkString(" ")).toVector
      val hs = grams.map(md5hex)
      val picks =
        if (hs.isEmpty) Set.empty[(Int, String)]
        else if (hs.size < W) {
          // whole-gram-list window: rightmost min
          val m = hs.min
          val p = hs.lastIndexOf(m)
          Set((p + 1, m))
        } else {
          (0 to hs.size - W).flatMap { j =>
            val win = hs.slice(j, j + W)
            val m = win.min
            val p = j + win.lastIndexOf(m)
            Some((p + 1, hs(p)))
          }.toSet
        }
      (id, picks)
    }.toMap
    val byFp = sel.toSeq
      .flatMap { case (id, ps) => ps.map(p => (p._2, id)) }
      .groupBy(_._1).map { case (fp, g) => (fp, g.map(_._2).distinct.size) }
    docs.map { case (id, t) =>
      val ng = math.max(t.split(" ", -1).length - (K - 1), 0).toLong
      val ps = sel(id)
      val matched = ps.count(p => byFp(p._2) >= 2).toLong
      (id, (ng, ps.size.toLong, matched))
    }.toMap
  }

  private def run(docs: Seq[(Long, String)]) = {
    val dir = corpusDir(docs.sortBy(_._1).map(_._2): _*)
    val got = SparkEntry.queries("x94_winnowing")(spark, dir)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_selected"),
          r.getAs[Long]("n_matched"))))
      .toMap
    spark.catalog.clearCache()
    got
  }

  test("engine matches the textbook index-walk on a seeded random " +
      "corpus (short docs, sub-window docs, empty-gram docs)") {
    val rnd = new scala.util.Random(11)
    val words = Vector.fill(12) {
      (1 to (1 + rnd.nextInt(3))).map(_ => "abc" (rnd.nextInt(3))).mkString
    }
    val docs = (0 until 8).map { i =>
      // lengths straddle every regime: < k tokens (no grams), k..k+w-2
      // (sub-window), and long
      val n = Seq(3, 5, 6, 7, 8, 15, 30, 60)(i)
      (i.toLong,
        Vector.fill(n)(words(rnd.nextInt(words.length))).mkString(" "))
    }
    assert(run(docs) == reference(docs))
  }

  test("a shared passage of >= w+k-1 tokens guarantees a shared " +
      "selected fingerprint on both sides") {
    val passage = (1 to (W + K - 1)).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      (0L, s"alpha beta gamma delta epsilon $passage zeta eta"),
      (1L, s"one two three $passage four five six seven"),
      (2L, "unrelated text with no overlap at all whatsoever here"))
    val got = run(docs)
    assert(got(0L)._3 >= 1, s"doc 0 must match: $got")
    assert(got(1L)._3 >= 1, s"doc 1 must match: $got")
    assert(got(2L)._3 == 0, s"doc 2 must not match: $got")
  }

  test("constant document: all gram hashes tie, rightmost tiebreak " +
      "selects exactly positions w..ng") {
    val docs = Seq((0L, Vector.fill(20)("x").mkString(" ")))
    val got = run(docs)
    val ng = 20 - (K - 1) // 16 grams
    // full windows j = 1..ng-w+1 each select rightmost j+w-1 →
    // positions {w..ng}, ng-w+1 distinct selections, all same fp,
    // but one doc → no match
    assert(got(0L) == ((ng.toLong, (ng - W + 1).toLong, 0L)), s"$got")
  }
}
