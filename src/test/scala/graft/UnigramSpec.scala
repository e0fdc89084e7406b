package graft

/** Unigram-LM trainer (x97/x98): exact match against an independent
  * JVM hard-EM replay (imperative spelling vs the engine's SQL folds),
  * plus the contract invariants the oracle hash can't articulate —
  * coverage (every segmentation concatenates back to its word), the
  * prune (only used pieces survive), non-triviality (multi-char
  * pieces beat the single-character floor somewhere), code-point pieces
  * past the Basic Multilingual Plane, and the trainer's job count.
  */
class UnigramSpec extends SparkSpec {

  private val MaxP = 4
  private val Seed = 24
  private val Rounds = 2
  private val Sep = '\u0001'

  /** Independent replay of the trainer: mutable maps + per-word array
    * DP, nothing shared with the engine's expression spelling.
    */
  private def replay(docs: Seq[String])
      : (Seq[(String, Long, Long)], Map[String, String]) = {
    val wt = scala.collection.mutable.Map.empty[String, Long]
    for (d <- docs; w <- d.split(" ") if w.nonEmpty)
      wt(w) = wt.getOrElse(w, 0L) + 1L
    val freq = scala.collection.mutable.Map.empty[String, Long]
    for ((w, c) <- wt; i <- 0 until w.length;
         l <- 1 to math.min(MaxP, w.length - i))
      freq(w.substring(i, i + l)) = freq.getOrElse(w.substring(i, i + l), 0L) + c
    val top = freq.toSeq.sortBy { case (p, c) => (-c, p) }.take(Seed)
    val kept = (top.map(_._1) ++ freq.keys.filter(_.length == 1)).toSet
    var cnt: Map[String, Long] = kept.iterator.map(p => p -> freq(p)).toMap
    def lps(c: Map[String, Long]): Map[String, Long] = {
      val t = c.values.sum
      c.map { case (p, n) =>
        p -> math.floor(math.log(n.toDouble / t.toDouble) * 1e6 + 0.5).toLong
      }
    }
    var vocab = lps(cnt)
    def segmentAll(): Map[String, String] = wt.keys.map { w =>
      val best = Array.fill[Option[(Long, Int, String)]](w.length + 1)(None)
      best(0) = Some((0L, 0, ""))
      for (j <- 1 to w.length) {
        val cands = for {
          i <- math.max(0, j - MaxP) until j
          b <- best(i).toSeq
          lp <- vocab.get(w.substring(i, j)).toSeq
        } yield (b._1 + lp, b._2 + 1,
          if (b._3.isEmpty) w.substring(i, j)
          else b._3 + Sep + w.substring(i, j))
        best(j) = cands.sortBy { case (s, np, r) => (-s, np, r) }.headOption
      }
      w -> best(w.length).get._3
    }.toMap
    for (_ <- 1 to Rounds) {
      val seg = segmentAll()
      val nc = scala.collection.mutable.Map.empty[String, Long]
      for ((w, c) <- wt; p <- seg(w).split(Sep))
        nc(p) = nc.getOrElse(p, 0L) + c
      cnt = nc.toMap
      vocab = lps(cnt)
    }
    val out = cnt.toSeq.map { case (p, c) => (p, c, vocab(p)) }
      .sortBy { case (p, c, _) => (-c, p) }
    // the shipped-model encode: one more E-step under the FINAL vocab
    (out, segmentAll())
  }

  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
    .collect().map(_.getAs[String]("text")).toSeq

  test("x97: final vocabulary matches the independent hard-EM replay") {
    val got = SparkEntry.queries("x97_unigram_train")(spark, sf).collect()
      .map(r => (r.getAs[String]("piece"), r.getAs[Long]("cnt"),
        r.getAs[Long]("lp_micro"))).toSeq
    val (want, _) = replay(docs)
    assert(got == want, s"vocab mismatch: got ${got.take(5)}…")
    assert(got.exists(_._1.length > 1),
      "no multi-char piece survived EM — the trainer is degenerate")
  }

  test("segmentations cover their words exactly and use only " +
      "surviving vocabulary pieces") {
    val (vocab, seg) = replay(docs)
    val pieces = vocab.map(_._1).toSet
    val (engSeg) = operators.UnigramQueries.trainLoop(spark, sf)._2
      .collect().map(r => r.getAs[String]("word") ->
        r.getAs[String]("repr")).toMap
    spark.catalog.clearCache()
    assert(engSeg == seg, "engine segmentation != replay")
    for ((w, r) <- engSeg) {
      assert(r.split(Sep).mkString == w, s"coverage broken for '$w'")
      r.split(Sep).foreach(p => assert(pieces(p), s"pruned piece $p used"))
    }
  }

  test("x98: fertility equals the per-source rollup of the replay's " +
      "segmentation, and compares against x92's schema") {
    val bySource = spark.read.parquet(s"$sf/documents.parquet").collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("text")))
    val (_, seg) = replay(docs)
    val want = bySource.groupBy(_._1).map { case (src, rows) =>
      val words = rows.flatMap(_._2.split(" ")).filter(_.nonEmpty)
      val nw = words.length.toLong
      val ns = words.map(w => seg(w).split(Sep).length.toLong).sum
      (src, nw, ns, ns.toDouble / nw.toDouble)
    }.toSet
    def rows(name: String) = SparkEntry.queries(name)(spark, sf)
      .collect().map(r => (r.getAs[String]("source"),
        r.getAs[Long]("n_words"), r.getAs[Long]("n_subwords"),
        r.getAs[Double]("fertility"))).toSet
    assert(rows("x98_unigram_fertility") == want)
    assert(rows("x98s_unigram_serve") == want,
      "serve twin drifted from the self-contained x98")
    assert(rows("st21_stream_unigram_encode") == want,
      "streaming twin drifted from the batch fertility")
    val x92cols = SparkEntry.queries("x92_bpe_fertility")(spark, sf).columns
    assert(SparkEntry.queries("x98_unigram_fertility")(spark, sf)
      .columns.sameElements(x92cols),
      "x98 must stay column-compatible with x92 for direct comparison")
  }

  test("a supplementary-plane word trains whole code-point pieces, " +
      "covers its words, and serves the self-contained rows") {
    val dir = corpusDir("𝔘𝔘a 𝔘a ｡a ab", "a𝔘𝔘 𝔘a b ｡｡")
    val pieces = SparkEntry.queries("x97_unigram_train")(spark, dir)
      .collect().map(_.getAs[String]("piece")).toSeq
    assert(pieces.exists(_.contains("𝔘")), pieces)
    pieces.foreach(p => assert(p.nonEmpty && p.codePoints().toArray
      .forall(Character.getType(_) != Character.SURROGATE),
      s"piece '$p' splits a code point"))
    val seg = operators.UnigramQueries.trainLoop(spark, dir)._2
      .collect().map(r => r.getAs[String]("word") -> r.getAs[String]("repr"))
    assert(seg.nonEmpty)
    for ((w, r) <- seg) {
      assert(r.split(Sep).mkString == w, s"coverage broken for '$w'")
      r.split(Sep).foreach(p => assert(pieces.contains(p), s"pruned $p"))
    }
    def rows(name: String) = SparkEntry.queries(name)(spark, dir)
      .collect().map(_.toSeq).toSeq
    val self = rows("x98_unigram_fertility")
    val served = rows("x98s_unigram_serve")
    spark.catalog.clearCache()
    assert(self == served, s"self $self vs served $served")
  }

  test("training launches at most 2 Spark jobs: one word-table collect") {
    val jobs = jobStages(
      operators.UnigramQueries.pieceTable(spark, sf).collect())
    spark.catalog.clearCache()
    assert(jobs.size <= 2, s"${jobs.size} jobs: $jobs")
  }
}
