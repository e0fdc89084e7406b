package graft

import java.security.MessageDigest

/** Pins for the Count-Min heavy-hitter sketch (x95) beyond the DuckDB
  * oracle: a full JVM replay of the sketch (hash rows, bucket sums,
  * min-over-rows estimate) on a seeded high-collision corpus, the
  * one-sided error guarantee (estimate ≥ exact, every probe), and the
  * sum-monoid merge property (shard sketches add to the whole-corpus
  * sketch) that makes the state streamable.
  */
class CmsSpec extends SparkSpec {
  private val D = 4
  private val W = 256

  /** The engines' shared hash: first 15 md5 hex digits as a positive
    * long, mod W.
    */
  private def bucket(r: Int, term: String): Int = {
    val hex = MessageDigest.getInstance("MD5")
      .digest(s"$r|$term".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(15)
    (java.lang.Long.parseLong(hex, 16) % W).toInt
  }

  private def sketchOf(counts: Map[String, Long])
      : Map[(Int, Int), Long] =
    counts.toSeq
      .flatMap { case (t, c) =>
        (0 until D).map(r => ((r, bucket(r, t)), c)) }
      .groupBy(_._1).map { case (k, g) => (k, g.map(_._2).sum) }

  test("engine equals the JVM sketch replay on a seeded " +
      "high-collision corpus, and every estimate >= exact") {
    val rnd = new scala.util.Random(13)
    // ~600 token types over 256 buckets → every row of the sketch has
    // multi-type buckets, so the min-estimator earns its keep
    val types = Vector.tabulate(600)(i => s"t${i}x${rnd.nextInt(9)}")
    val docs = (0 until 30).map { i =>
      (i.toLong,
        Vector.fill(80)(types(rnd.nextInt(types.length))).mkString(" "))
    }
    val counts = docs.flatMap(_._2.split(" ", -1)).groupBy(identity)
      .map { case (t, g) => (t, g.size.toLong) }
    val sk = sketchOf(counts)
    val want = counts.toSeq.sortBy { case (t, c) => (-c, t) }.take(10)
      .map { case (t, c) =>
        (t, (c, (0 until D).map(r => sk((r, bucket(r, t)))).min))
      }.toMap
    val dir = corpusDir(docs.sortBy(_._1).map(_._2): _*)
    val got = SparkEntry.queries("x95_cms_heavy_hitters")(spark, dir)
      .collect()
      .map(r => (r.getAs[String]("term"),
        (r.getAs[Long]("n_exact"), r.getAs[Long]("cms_est"))))
      .toMap
    spark.catalog.clearCache()
    assert(got == want, s"engine $got vs reference $want")
    assert(got.values.forall { case (exact, est) => est >= exact },
      "one-sided guarantee violated")
    // non-vacuity: the seed must actually produce collisions on some
    // probed heavy hitter, else the test proves nothing about min()
    assert(got.values.exists { case (exact, est) => est > exact },
      "seed produced no probe collisions — widen the corpus")
  }

  test("the sketch is a sum monoid: shard sketches add to the " +
      "whole-corpus sketch") {
    val rnd = new scala.util.Random(17)
    val types = Vector.tabulate(100)(i => s"w$i")
    val toks = Vector.fill(500)(types(rnd.nextInt(types.length)))
    val (h1, h2) = toks.splitAt(200)
    def countsOf(ts: Seq[String]) =
      ts.groupBy(identity).map { case (t, g) => (t, g.size.toLong) }
    val merged = (sketchOf(countsOf(h1)).toSeq ++
      sketchOf(countsOf(h2)).toSeq)
      .groupBy(_._1).map { case (k, g) => (k, g.map(_._2).sum) }
    assert(merged == sketchOf(countsOf(toks)))
  }
}
