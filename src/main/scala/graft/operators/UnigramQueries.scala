package graft.operators

import graft.QueryDef
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Unigram-LM subword tokenizer TRAINING (Kudo, "Subword Regularization:
  * Improving Neural Network Translation Models with Multiple Subword
  * Candidates", ACL 2018 — the SentencePiece unigram algorithm; public)
  * — the OTHER tokenizer production pipelines ship next to BPE (x91):
  * seed a candidate piece vocabulary from weighted substring
  * frequencies, then alternate an E-step that segments every word under
  * the current piece probabilities with a Viterbi DP and an M-step that
  * re-estimates probabilities from the segmentation counts (hard-EM /
  * Viterbi-EM, the tractable exact-arithmetic variant of the full
  * forward-backward: expected counts stay INTEGERS, so the whole
  * trainer replays bit-for-bit in the oracle). Pieces that win no
  * segmentation drop out of the vocabulary — the algorithm's prune
  * step, which is what leaves multi-character pieces competing with
  * the single-character floor.
  *
  * Cross-engine parity is the x93/x36 fixed-point-log discipline:
  * piece log-probabilities are `floor(ln(c/t)·10⁶ + 0.5)` BIGINTs —
  * ONE libm call per scalar from exact-integer inputs, then the DP
  * sums integers and breaks ties on (score DESC, piece-count ASC,
  * segmentation-string ASC), a total order both engines replay. The
  * DuckDB oracle runs the identical DP as a chained-CTE chain
  * ([[OracleDpChain]] positions, MATERIALIZED — the d-CTEs reference
  * their predecessor twice, and inlining would double the plan per
  * position).
  *
  * Scale shape (the x91 discipline): training runs on the
  * vocabulary-sized word-TYPE table (Heaps' law), never the corpus.
  * Spark builds it in one aggregation and the driver collects it once
  * ([[BpeQueries.collectedWords]], code points per word); the seed
  * frequencies, the [[EmRounds]] Viterbi E-steps and the M-steps all
  * run in plain Scala over those rows, with Spark's string semantics
  * (code points, UTF-8 byte order via [[BpeQueries.utf8Order]]). The
  * one size bound is `spark.driver.maxResultSize`: a word-type table
  * past it fails the collect loudly, where the per-round-job loop this
  * replaces ran slowly. Only the final segmentation runs in Spark, as
  * [[segmentTypes]] — the same encode the serve and streaming twins
  * use. Rounds are a QUALITY knob (hard-EM converges in a few), not a
  * vocabulary-size knob — the 32k-piece production case changes
  * [[SeedSize]], not the round count.
  */
object UnigramQueries {

  /** Longest candidate piece (code points). */
  private val MaxPiece = 4

  /** Seed vocabulary size: the top-N weighted substrings, UNIONed with
    * every single code point so any word stays segmentable (the
    * coverage floor SentencePiece also enforces).
    */
  private val SeedSize = 24

  /** Hard-EM rounds (segment → re-estimate). */
  private val EmRounds = 2

  /** DP positions the ORACLE's chained CTEs cover — a static bound on
    * word length (the corpus generator tops out at 8; 16 leaves 2×
    * headroom). The engine-side fold has no such bound; a corpus with
    * longer words only needs this constant raised in the oracle text.
    */
  private val OracleDpChain = 16

  private val Sep = "\u0001" // the in-SQL chr(1), the x91 convention

  private type Words = Seq[(Vector[String], Long)]

  /** Seed counts: the corpus-weighted frequency of every ≤ [[MaxPiece]]
    * code-point substring; keeps the top [[SeedSize]] by (c DESC, piece
    * UTF-8 ASC) plus every single code point.
    */
  private def seedCounts(words: Words): Seq[(String, Long)] = {
    val freq = collection.mutable.HashMap.empty[String, Long]
    for ((cps, cnt) <- words; i <- cps.indices;
         l <- 1 to math.min(MaxPiece, cps.length - i)) {
      val p = cps.slice(i, i + l).mkString
      freq(p) = freq.getOrElse(p, 0L) + cnt
    }
    val singles = words.flatMap(_._1).toSet
    val top = freq.toSeq.sortBy { case (p, c) => (c, p) }(
      BpeQueries.countDescThenUtf8).take(SeedSize)
    (top ++ freq.filter { case (p, _) => singles(p) }).distinct
  }

  /** Fixed-point log-probabilities from (piece, count) rows — the
    * M-step, on the DRIVER: `floor(ln(c/t)·10⁶ + 0.5)` per piece, ONE
    * `Math.log` from exact-integer inputs — the same libm surface the
    * in-plan `ln` would use (Spark's Log expression is the identical
    * JVM call), so the oracle parity argument holds.
    */
  private def vocabOf(counts: Seq[(String, Long)])
      : Seq[(String, Long, Long)] = {
    val t = counts.map(_._2).sum
    counts.map { case (p, c) =>
      (p, c, math.floor(
        math.log(c.toDouble / t.toDouble) * 1e6 + 0.5).toLong)
    }
  }

  /** [[dpExpr]]'s Viterbi DP on one word's code points under the
    * piece→lp map: the best (score, piece-count, segmentation) per
    * prefix, ties broken score DESC, piece-count ASC, segmentation UTF-8
    * ASC. Returns the chr(1)-joined segmentation, or "" when no piece
    * chain spans the word (the SQL fold's NULL-score state).
    */
  private def viterbi(cps: Vector[String], lp: Map[String, Long]): String = {
    val best = new Array[(Long, Int, String)](cps.length + 1)
    best(0) = (0L, 0, "")
    for (j <- 1 to cps.length; i <- math.max(0, j - MaxPiece) until j
         if best(i) != null) {
      val piece = cps.slice(i, j).mkString
      lp.get(piece).foreach { l =>
        val (sc, np, r) = best(i)
        val x = (sc + l, np + 1, if (r.isEmpty) piece else r + Sep + piece)
        val b = best(j)
        if (b == null || x._1 > b._1 || (x._1 == b._1 && (x._2 < b._2 ||
            (x._2 == b._2 && BpeQueries.utf8Order.lt(x._3, b._3)))))
          best(j) = x
      }
    }
    Option(best(cps.length)).fold("")(_._3)
  }

  /** M-step counts: corpus-weighted piece usage in the E-step's
    * segmentation. Pieces that won nowhere simply don't appear — the
    * prune.
    */
  private def pieceCounts(words: Words,
      vocab: Seq[(String, Long, Long)]): Seq[(String, Long)] = {
    val lp = vocab.map { case (p, _, l) => p -> l }.toMap
    val c = collection.mutable.HashMap.empty[String, Long]
    for ((cps, cnt) <- words; p <- viterbi(cps, lp).split(Sep, -1))
      c(p) = c.getOrElse(p, 0L) + cnt
    c.toSeq
  }

  /** The Viterbi DP as ONE whole-stage-codegen fold per word: state j
    * holds (score, piece-count, segmentation) for the best split of the
    * first j characters; each step maxes over the ≤ [[MaxPiece]]
    * predecessor states through the broadcast piece→lp map (`vm`).
    * Unreachable states (a position no surviving piece spans — possible
    * after round-1 pruning) carry a NULL score and are filtered out of
    * every later candidate set, exactly like the oracle's absent DP
    * rows. Tie-break: score DESC, piece-count ASC, segmentation ASC.
    */
  private def dpExpr: String = s"""
    element_at(
      aggregate(
        sequence(1, length(word)),
        array(named_struct('s', CAST(0 AS BIGINT), 'np', 0, 'r', '')),
        (acc, j) -> array_append(acc,
          aggregate(
            filter(
              transform(sequence(greatest(0, j - $MaxPiece), j - 1), i ->
                named_struct(
                  's', element_at(acc, i + 1).s +
                       element_at(vm, substring(word, i + 1, j - i)),
                  'np', element_at(acc, i + 1).np + 1,
                  'r', CASE WHEN element_at(acc, i + 1).r = ''
                       THEN substring(word, i + 1, j - i)
                       ELSE concat(element_at(acc, i + 1).r, chr(1),
                                   substring(word, i + 1, j - i)) END)),
              x -> x.s IS NOT NULL),
            named_struct('s', CAST(NULL AS BIGINT), 'np', 0, 'r', ''),
            (b, x) -> CASE WHEN b.s IS NULL OR x.s > b.s
                           OR (x.s = b.s AND (x.np < b.np
                           OR (x.np = b.np AND x.r < b.r)))
                      THEN x ELSE b END))),
      -1).r""".replace('\n', ' ')

  /** Segment any frame carrying a `word` column under a piece
    * vocabulary — a pure map against a LITERAL piece→lp map column
    * (built with Column lits, no string escaping surface), no shuffle
    * and no broadcast-exchange job. Shared by the trainer's final
    * encode, the serve encode, and the streaming drain (st21).
    */
  private[graft] def segmentTypes(words: DataFrame,
      vocab: Seq[(String, Long, Long)]): DataFrame =
    words.withColumn("vm",
        map(vocab.flatMap { case (p, _, lp) =>
          Seq(lit(p), lit(lp)) }: _*))
      .withColumn("repr", expr(dpExpr))
      .drop("vm")

  /** The weighted word-type table segmented under `vocab`. */
  private def segment(wt: DataFrame,
      vocab: Seq[(String, Long, Long)]): DataFrame =
    segmentTypes(wt, vocab).select(col("word"), col("cnt"), col("repr"))

  /** Run the trainer; returns (final vocabulary, the corpus segmented
    * UNDER that final vocabulary) — the vocabulary is the model file
    * analog, and the segmentation is what shipping the model produces
    * (one more E-step past the last M-step — the encode a production
    * pipeline runs, so the self-contained x98 and the served x98s are
    * row-identical by construction). Seed and rounds run on the driver
    * over the word table collected once; the returned segmentation is
    * the Spark [[segmentTypes]] encode.
    */
  private[graft] def trainLoop(s: SparkSession, d: String)
      : (Seq[(String, Long, Long)], DataFrame) = {
    val words = BpeQueries.collectedWords(s, d)
    var vocab = vocabOf(seedCounts(words))
    for (_ <- 1 to EmRounds)
      vocab = vocabOf(pieceCounts(words, vocab))
    (vocab, segment(BpeQueries.wordTable(s, d), vocab))
  }

  /** The trained piece table as a frame, ordered (cnt DESC, piece
    * UTF-8 ASC) — x97's output and the artifact [[AuditServe.prepare]]
    * persists (the tokenizer model file, the `bpemerges` sibling). A
    * local relation: reading it runs no Spark job.
    */
  private[graft] def pieceTable(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    trainLoop(s, d)._1
      .sortBy { case (p, c, _) => (c, p) }(BpeQueries.countDescThenUtf8)
      .toDF("piece", "cnt", "lp_micro")
  }

  /** The persisted piece table as collected driver state (≤ vocab
    * rows) — the model-file read every serve consumer starts from.
    */
  private[graft] def servedPieces(s: SparkSession,
      d: String): Seq[(String, Long, Long)] =
    AuditServe.piecesFrom(s, d).collect()
      .map(r => (r.getAs[String]("piece"), r.getAs[Long]("cnt"),
        r.getAs[Long]("lp_micro"))).toSeq

  /** Serve-path encode: segment the corpus under the PERSISTED piece
    * table (constant-size driver state read from the artifact),
    * skipping the trainer's rounds entirely — the x92s discipline.
    */
  private[graft] def encodedFromServe(s: SparkSession,
      d: String): DataFrame =
    segment(BpeQueries.wordTable(s, d), servedPieces(s, d))

  // ── oracle generation: the same trainer as chained MATERIALIZED
  // CTEs (inlining would re-expand each DP level's double reference).

  private def vocabCte(r: Int, src: String): String = s"""v$r AS MATERIALIZED (
  SELECT piece, c,
    CAST(floor(ln(CAST(c AS DOUBLE) / CAST(t AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS lp
  FROM (SELECT piece, c, sum(c) OVER () AS t FROM ($src))
)"""

  /** Edges + DP chain + segmentation under vocabulary v`r`. */
  private def dpCtes(r: Int): String = {
    val parts = Seq.newBuilder[String]
    parts += s"""ed$r AS MATERIALIZED (
  SELECT w.word, i - 1 AS i, i - 1 + l AS j, v.lp,
         substring(w.word, i, l) AS piece
  FROM wt w
  CROSS JOIN unnest(generate_series(1, length(w.word))) AS t(i)
  CROSS JOIN unnest(generate_series(1, $MaxPiece)) AS u(l)
  JOIN v$r v ON v.piece = substring(w.word, i, l)
  WHERE i + l - 1 <= length(w.word)
)"""
    parts += s"d${r}_0 AS MATERIALIZED (SELECT word, 0 AS pos, " +
      "CAST(0 AS BIGINT) AS s, 0 AS np, '' AS r FROM wt)"
    for (j <- 1 to OracleDpChain)
      parts += s"""d${r}_$j AS MATERIALIZED (
  SELECT word, pos, s, np, r FROM d${r}_${j - 1}
  UNION ALL
  SELECT word, $j AS pos, s, np, r FROM (
    SELECT e.word, d.s + e.lp AS s, d.np + 1 AS np,
           CASE WHEN d.r = '' THEN e.piece ELSE d.r || chr(1) || e.piece END AS r,
           row_number() OVER (PARTITION BY e.word ORDER BY d.s + e.lp DESC,
             d.np + 1 ASC,
             CASE WHEN d.r = '' THEN e.piece ELSE d.r || chr(1) || e.piece END ASC) AS rn
    FROM ed$r e JOIN d${r}_${j - 1} d ON d.word = e.word AND d.pos = e.i
    WHERE e.j = $j) WHERE rn = 1
)"""
    parts += s"seg$r AS MATERIALIZED (SELECT word, r AS repr " +
      s"FROM d${r}_$OracleDpChain WHERE pos = length(word))"
    parts.result().mkString(",\n")
  }

  /** One EM round: DP under v`r`, counts, re-estimated v`r+1`. */
  private def roundCtes(r: Int): String =
    Seq(dpCtes(r),
      s"""c$r AS MATERIALIZED (
  SELECT piece, CAST(sum(cnt) AS BIGINT) AS c FROM (
    SELECT wt.cnt, unnest(string_split(s.repr, chr(1))) AS piece
    FROM seg$r s JOIN wt USING (word)) GROUP BY 1)""",
      vocabCte(r + 1, s"SELECT piece, c FROM c$r")).mkString(",\n")

  /** Shared CTE prefix: word table → seed vocabulary → EmRounds
    * (edges → DP chain → segmentation → counts → re-estimated vocab).
    */
  private def oracleCtes: String = {
    val seedSrc = s"""SELECT piece, c FROM (
      SELECT piece, c, row_number() OVER (ORDER BY c DESC, piece) AS rn
      FROM sub0) WHERE rn <= $SeedSize OR length(piece) = 1"""
    (Seq(
      """wt AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE length(word) > 0 GROUP BY 1
)""",
      s"""sub0 AS MATERIALIZED (
  SELECT substring(word, i, l) AS piece, CAST(sum(cnt) AS BIGINT) AS c
  FROM wt
  CROSS JOIN unnest(generate_series(1, length(word))) AS t(i)
  CROSS JOIN unnest(generate_series(1, $MaxPiece)) AS u(l)
  WHERE i + l - 1 <= length(word)
  GROUP BY 1
)""",
      vocabCte(1, seedSrc)) ++ (1 to EmRounds).map(roundCtes))
      .mkString(",\n")
  }

  private def trainOracle: String =
    s"WITH $oracleCtes\nSELECT piece, c AS cnt, lp AS lp_micro " +
      s"FROM v${EmRounds + 1} ORDER BY cnt DESC, piece"

  /** Fertility of the corpus segmented under the FINAL vocabulary —
    * one more DP chain past the last M-step (the encode shipping the
    * model runs), shared verbatim by x98 and its serve twin x98s.
    */
  private[graft] def fertilityOracle: String = s"""WITH $oracleCtes,
${dpCtes(EmRounds + 1)},
enc AS MATERIALIZED (
  SELECT word, CAST(len(string_split(repr, chr(1))) AS BIGINT) AS n_sub
  FROM seg${EmRounds + 1}),
occ AS MATERIALIZED (
  SELECT source, word, CAST(count(*) AS BIGINT) AS w_cnt FROM (
    SELECT source, unnest(string_split(text, ' ')) AS word FROM documents
  ) WHERE length(word) > 0 GROUP BY 1, 2)
SELECT source,
  CAST(sum(w_cnt) AS BIGINT) AS n_words,
  CAST(sum(w_cnt * n_sub) AS BIGINT) AS n_subwords,
  CAST(CAST(sum(w_cnt * n_sub) AS BIGINT) AS DOUBLE)
    / CAST(CAST(sum(w_cnt) AS BIGINT) AS DOUBLE) AS fertility
FROM occ JOIN enc USING (word)
GROUP BY source ORDER BY source"""

  def defs: Map[String, QueryDef] = Map(
    // ── The unigram trainer: the piece table a SentencePiece-style
    // tokenizer ships (piece, final count, fixed-point log-prob).
    "x97_unigram_train" -> QueryDef(
      (s, d) => pieceTable(s, d),
      Some(trainOracle),
      s"unigram-LM (SentencePiece) tokenizer training: $EmRounds " +
        "hard-EM rounds over the word-type table"),

    // ── The x92 fertility twin under the unigram model: the metric
    // that ARBITRATES between the two trained tokenizers per corpus
    // slice (same schema and spelling as x92, so the two rows compare
    // directly).
    "x98_unigram_fertility" -> QueryDef(
      (s, d) => {
        val (_, seg) = trainLoop(s, d)
        BpeQueries.encodeFertility(s, d, seg)
      },
      Some(fertilityOracle),
      "per-source fertility of the corpus under the trained unigram " +
        "model (the x92 comparison row)"),

    // ── Serve twin: encode under the PERSISTED piece table (constant
    // driver state from the artifact), skipping the trainer's rounds.
    // Row-identical to x98 (shared oracle), the x92s discipline.
    "x98s_unigram_serve" -> QueryDef(
      (s, d) => {
        AuditServe.prepare(s, d)
        BpeQueries.encodeFertility(s, d, encodedFromServe(s, d))
      },
      Some(fertilityOracle),
      "per-source unigram fertility served from the persisted piece " +
        "table"))
}
