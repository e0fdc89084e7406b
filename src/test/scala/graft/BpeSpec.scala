package graft

import graft.operators.BpeQueries

/** Hand-computed pins for the BPE merge trainer that the DuckDB oracle
  * cannot express on driver data alone: frequency-weighted selection,
  * left-to-right non-overlapping merge application, binary-order tie
  * breaking, merged-symbol reuse in later rounds, early stop when the
  * pair supply runs dry, code-point symbols, and the trainer's job count.
  */
class BpeSpec extends SparkSpec {

  private def merges(dir: String): Seq[(Long, String, String, String, Long)] =
    BpeQueries.trainMerges(spark, dir).collect()
      .map(r => (r.getAs[Long]("round"), r.getAs[String]("sym_a"),
        r.getAs[String]("sym_b"), r.getAs[String]("merged"),
        r.getAs[Long]("n"))).toSeq

  test("frequency-weighted selection and early stop when pairs run dry") {
    // word types: aa ×3, ab ×1, b ×1 → round 1 picks (a,a) with n=3;
    // after the merge only ab still has a pair → round 2 picks (a,b)
    // n=1; then every word is a single symbol → the trainer must stop
    // at 2 rows, not emit Rounds rows
    val m = merges(corpusDir("aa aa ab", "aa b"))
    spark.catalog.clearCache()
    assert(m == Seq(
      (1L, "a", "a", "aa", 3L),
      (2L, "a", "b", "ab", 1L)), m.toString)
  }

  test("left-to-right non-overlapping application + merged-symbol reuse") {
    // 'xxx' ×2: round 1 counts (x,x) twice per occurrence → n=4, and the
    // merge must produce [xx, x] (never [x, xx]) so round 2 sees the
    // MERGED symbol as a pair member: (xx, x) with n=2
    val m = merges(corpusDir("xxx xxx"))
    spark.catalog.clearCache()
    assert(m == Seq(
      (1L, "x", "x", "xx", 4L),
      (2L, "xx", "x", "xxx", 2L)), m.toString)
  }

  test("count ties break to the binary-smaller pair on both engines") {
    // (b,a) and (d,c) both count 1 → 'b␁a' < 'd␁c' in binary order
    val m = merges(corpusDir("ba dc"))
    spark.catalog.clearCache()
    assert(m.head == (1L, "b", "a", "ba", 1L), m.toString)
    assert(m(1) == (2L, "d", "c", "dc", 1L), m.toString)
  }

  test("an empty corpus trains zero merges without crashing") {
    val m = merges(corpusDir(""))
    spark.catalog.clearCache()
    assert(m.isEmpty, m.toString)
  }

  test("merge application is symbol-bounded: 'a' as the tail of a " +
      "longer symbol must not fuse") {
    // round 1 merges (x,a) n=4 → 'xab' segments to [xa, b]; round 2
    // merges (a,b) n=2 (from the two 'ab' words) — a flat-string
    // replace of 'a␁b' would falsely match inside 'xa␁b' and fuse
    // 'xab' to one symbol, leaving nothing for round 3; the correct
    // whole-symbol fold leaves [xa, b] intact so round 3 merges it
    val m = merges(corpusDir("xa xa xa ab", "ab xab"))
    spark.catalog.clearCache()
    assert(m == Seq(
      (1L, "x", "a", "xa", 4L),
      (2L, "a", "b", "ab", 2L),
      (3L, "xa", "b", "xab", 1L)), m.toString)
  }

  // ── Textbook reference (Sennrich et al. 2016, algorithm 1): greedy
  //    left-to-right non-overlapping scan over ORIGINAL adjacency —
  //    deliberately the index-walk spelling, not the engine's fold, so
  //    a shared bug can't hide.
  private def refApply(syms: Vector[String], a: String,
      b: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (syms(i) == a && i + 1 < syms.length && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  private def refTrain(words: Map[String, Long],
      rounds: Int): Seq[(Long, String, String, String, Long)] = {
    var segs = words.map { case (w, c) => (w.map(_.toString).toVector, c) }
    val out = Seq.newBuilder[(Long, String, String, String, Long)]
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val counts = collection.mutable.Map.empty[(String, String), Long]
      for ((syms, c) <- segs; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) =
          counts.getOrElse((syms(i), syms(i + 1)), 0L) + c
      if (counts.isEmpty) done = true
      else {
        val ((a, b), n) = counts.minBy { case ((a, b), n) =>
          (-n, a + "\u0001" + b)
        }
        out += ((r.toLong, a, b, a + b, n))
        segs = segs.map { case (syms, c) => (refApply(syms, a, b), c) }
        r += 1
      }
    }
    out.result()
  }

  test("property: the engine matches the textbook trainer on a " +
      "seeded random corpus") {
    // two seeded corpora at the declared 6 rounds: repeated words over
    // "abc", and distinct 2-6 letter words over "abcd"
    val abc = {
      val rnd = new scala.util.Random(42)
      val words = Vector.fill(40) {
        (1 to (1 + rnd.nextInt(6))).map(_ => "abc" (rnd.nextInt(3))).mkString
      }
      Vector.fill(3) {
        Vector.fill(30)(words(rnd.nextInt(words.length))).mkString(" ")
      }
    }
    val abcd = {
      val rnd = new scala.util.Random(7)
      Vector.fill(3)(Vector.fill(40)(
        (1 to (2 + rnd.nextInt(5))).map(_ => "abcd" (rnd.nextInt(4)))
          .mkString).mkString(" "))
    }
    for (docs <- Seq(abc, abcd)) {
      val counts = docs.flatMap(_.split(" ")).filter(_.nonEmpty)
        .groupBy(identity).map { case (w, g) => (w, g.size.toLong) }
      val m = merges(corpusDir(docs: _*))
      spark.catalog.clearCache()
      assert(m == refTrain(counts, 6),
        s"engine $m vs ref ${refTrain(counts, 6)}")
    }
  }

  test("symbols are code points and count ties break on UTF-8 byte " +
      "order, Spark's string order") {
    // 𝔘 (U+1D518) is a UTF-16 surrogate pair that String.compareTo puts
    // before ｡ (U+FF61); in UTF-8 bytes ｡ (EF…) comes first (F0…)
    val m = merges(corpusDir("𝔘a ｡a"))
    spark.catalog.clearCache()
    assert(m == Seq(
      (1L, "｡", "a", "｡a", 1L),
      (2L, "𝔘", "a", "𝔘a", 1L)), m.toString)
  }

  test("training launches at most 2 Spark jobs: one word-table collect") {
    val jobs = jobStages(BpeQueries.trainMerges(spark, sf).collect())
    spark.catalog.clearCache()
    assert(jobs.size <= 2, s"${jobs.size} jobs: $jobs")
  }

  test("the serve row answers from the persisted merge table with " +
      "identical rows") {
    val dir = corpusDir("xa xa xa ab", "ab xab", "zz zz z")
    def rows(name: String) = SparkEntry.queries(name)(spark, dir)
      .collect().map(_.toSeq).toSeq
    val self = rows("x92_bpe_fertility")
    val served = rows("x92s_bpe_encode_serve")
    spark.catalog.clearCache()
    assert(self == served, s"self $self vs served $served")
    assert(self.nonEmpty)
  }

  test("the streaming twin's drained word-count state yields the batch " +
      "fertility rows (st19 == x92)") {
    // the stream keeps (source, word) counts and defers the subword
    // fold to the post-drain batch encode — identical rows to the
    // self-contained x92 by the monoid-state argument
    val dir = corpusDir("xa xa xa ab", "ab xab", "zz zz z")
    def rows(name: String) = SparkEntry.queries(name)(spark, dir)
      .collect().map(_.toSeq).toSeq
    val batch = rows("x92_bpe_fertility")
    val streamed = rows("st19_stream_bpe_encode")
    spark.catalog.clearCache()
    assert(batch == streamed, s"batch $batch vs streamed $streamed")
    assert(streamed.nonEmpty)
  }
}
