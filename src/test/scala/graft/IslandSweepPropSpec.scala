package graft

import org.scalacheck.Gen

/** Generative pin for the fixed-width island sweep x69 and x100 share:
  * over seeded corpora of a few recurring chunks, where covered windows
  * overlap and break apart at irregular distances, plus a planted pair
  * whose covered windows touch end to start (gap = width: one span,
  * not two), x100 must equal a brute-force replay that marks every
  * covered character and counts maximal runs.
  */
class IslandSweepPropSpec extends SparkSpec {

  private val L = operators.DedupQueries.ExactSubstrLen

  // three chunks of co-prime lengths: windows recur across and within
  // documents at irregular offsets
  private val text: Gen[String] = for {
    n <- Gen.chooseNum(0, 10)
    cs <- Gen.listOfN(n, Gen.oneOf("abcdefg", "hijklmnopqr", "stu"))
  } yield cs.mkString

  /** Per doc (n_chars, dup_chars, n_spans), and the number of covered
    * window starts whose next covered start is exactly `L` later.
    */
  private def ref(corpus: Seq[(Long, String)], minCount: Int)
      : (Map[Long, (Long, Long, Long)], Int) = {
    val counts = corpus.flatMap { case (_, t) =>
      (0 to t.length - L).map(i => t.substring(i, i + L)) }
      .groupBy(identity).map { case (w, ws) => w -> ws.size }
    var touching = 0
    val rows = corpus.map { case (id, t) =>
      val starts = (0 to t.length - L)
        .filter(i => counts(t.substring(i, i + L)) >= minCount)
      touching += starts.zip(starts.drop(1)).count { case (a, b) => b - a == L }
      val covered = Array.fill(t.length)(false)
      for (i <- starts; j <- i until i + L) covered(j) = true
      val spans = covered.indices.count(j =>
        covered(j) && (j == 0 || !covered(j - 1)))
      id -> ((t.length.toLong, covered.count(identity).toLong, spans.toLong))
    }.toMap
    (rows, touching)
  }

  test("x100's lag-window sweep equals the brute-force coverage replay") {
    import spark.implicits._
    var touching = 0
    var covered = 0L
    // fixed seeds: every run checks the same corpora
    for (k <- Seq(1L, 2L, 3L)) {
      val base = Gen.listOfN(12, text).pureApply(Gen.Parameters.default,
        org.scalacheck.rng.Seed(k))
      // plant one window-then-window touch: `u` + `v` repeated elsewhere
      // covers [0, L) and [L, 2L) of the last doc, both exactly once
      val (u, v) = ("c" * (L - 1) + "d", "e" * (L - 1) + "f")
      val corpus = (base :+ (u + v) :+ ("x" + u + "y" + v))
        .zipWithIndex.map { case (t, i) => i.toLong -> t }
      val d = java.nio.file.Files.createTempDirectory("islands").toString
      corpus.map { case (id, t) => (id, t, "en", "synthetic", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
      for (minCount <- Seq(2, 3)) {
        val got = operators.DedupQueries.exactSubstrSpans(spark, d, minCount)
          .collect().map(r =>
            r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
          .toMap
        val (want, t) = ref(corpus, minCount)
        assert(got == want, s"seed $k minCount $minCount")
        touching += t
        covered += want.filter(_._1 < base.size).values.map(_._2).sum
      }
    }
    assert(touching > 0, "no covered windows touched end to start")
    assert(covered > 0, "the generated documents had no covered character")
  }
}
