package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair-encoding merge TRAINING (Sennrich, Haddow & Birch, "Neural
  * Machine Translation of Rare Words with Subword Units", ACL 2016 —
  * public algorithm): x38 prices ONE pair-count round at the word level;
  * this module runs the actual character-level trainer loop — N rounds
  * of (count adjacent symbol pairs) → (pick the most frequent) → (merge
  * it everywhere) — and emits the learned merge table, which IS a BPE
  * tokenizer's model file.
  *
  * Training runs on the WORD-TYPE table, not the corpus: `(word, cnt)`
  * is vocabulary-sized (Heaps' law: sublinear in corpus size), and every
  * pair count weights by the word's corpus frequency, so the result is
  * identical to corpus-level training. Spark builds that table in one
  * aggregation and the driver collects it once ([[collectedWords]]);
  * every round then runs in plain Scala over the collected rows — the
  * Spark MLlib k-means|| shape, which finishes on the driver with
  * `LocalKMeans` over its small candidate set. Round r depends on round
  * r−1's choice, so a Spark job per round bought only per-job dispatch.
  * The one size bound is `spark.driver.maxResultSize`: a word-type table
  * past it fails the collect loudly, where the per-round-job loop this
  * replaces ran slowly.
  *
  * The driver loop keeps Spark's string semantics: words split into
  * CODE POINTS ([[codePoints]]), the unit of Spark's `length` and
  * `substring`, and count ties break on the UTF-8 byte order of the
  * `a␁b` pair string ([[utf8Order]]), Spark's binary string order —
  * neither UTF-16 chars nor `String.compareTo`, which disagree with it
  * past the Basic Multilingual Plane.
  *
  * Encoding stays in Spark, since it runs over corpora and inside
  * streaming drains. A word's symbol segmentation is kept as the word
  * with `chr(1)` separators (a character that cannot occur inside
  * space-split words), and applying merge (a, b) is a per-word left fold
  * over the symbols — merge when the accumulator's LAST symbol equals
  * `a` and the incoming symbol equals `b`, which is exactly BPE's greedy
  * left-to-right non-overlapping application ([x,x,x] under (x,x) →
  * [xx,x], never [x,xx]; a merged symbol can't cascade within its own
  * round because `ab` is strictly longer than `a`). The fold compares
  * WHOLE symbols — the `chr(1)`-anchored suffix test — where a
  * flat-string `replace(repr, 'a␁b', 'ab')` would falsely match `a` as
  * the tail of a longer symbol ([xa, b] must NOT fuse). Spark spells the
  * fold `aggregate()`, DuckDB `list_reduce()`, and the driver trainer
  * [[mergeSyms]]. Everything is integer counts, so the whole trainer
  * replays bit-for-bit in the oracle as `Rounds` chained CTE triples.
  */
object BpeQueries {
  private val Rounds = 6
  private val Sep = "\u0001" // the JVM twin of the in-SQL chr(1) separator

  /** Initial character segmentation of a `word` column — the chr(1)-
    * separated symbol list every encode path starts from.
    */
  private val initReprSql =
    """concat_ws(chr(1), transform(sequence(1, length(word)),
       i -> substring(word, i, 1)))""".replace('\n', ' ')

  /** Vocabulary-sized training table: distinct words with corpus counts
    * (word, cnt) — the input of both tokenizer trainers.
    */
  private[graft] def wordTable(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** A word's code points, each as a string: Spark's character unit. */
  private def codePoints(w: String): Vector[String] =
    w.codePoints().toArray.iterator
      .map(cp => new String(Character.toChars(cp))).toVector

  /** Spark's string order: unsigned UTF-8 bytes. */
  private[graft] val utf8Order: Ordering[String] = (a: String, b: String) =>
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  /** (count DESC, string UTF-8 ASC): the trainers' selection order. */
  private[graft] val countDescThenUtf8: Ordering[(Long, String)] =
    Ordering.Tuple2(Ordering.Long.reverse, utf8Order)

  /** The word-type table collected to the driver in one Spark
    * aggregation, each word split into code points. Bounded by
    * `spark.driver.maxResultSize` (see the object doc).
    */
  private[graft] def collectedWords(s: SparkSession,
      d: String): Seq[(Vector[String], Long)] =
    wordTable(s, d).collect().toSeq
      .map(r => (codePoints(r.getString(0)), r.getLong(1)))

  /** Greedy left-to-right non-overlapping application of merge (a, b):
    * fold the symbol list, fusing when the accumulator's last symbol is
    * exactly `a` (the separator-anchored suffix test — `a` as the tail
    * of a LONGER symbol must not match) and the next symbol is `b`.
    * Fusing appends bare `b` (the last symbol `…␁a` becomes `…␁ab`);
    * otherwise the symbol arrives behind a separator. A pure map —
    * encoding never shuffles the word table.
    */
  private def applyMerge(repr: Column, a: String, b: String): Column = {
    val syms = split(repr, Sep)
    aggregate(
      slice(syms, lit(2), size(syms) - 1),
      element_at(syms, 1),
      (acc, x) => when(
        x === lit(b) && (acc === lit(a) || acc.endsWith(lit(Sep + a))),
        concat(acc, lit(b))).otherwise(concat(acc, lit(Sep), x)))
  }

  /** [[applyMerge]]'s fold on a driver-side symbol list. */
  private def mergeSyms(syms: Vector[String], a: String,
      b: String): Vector[String] =
    syms.foldLeft(Vector.empty[String]) { (acc, x) =>
      if (x == b && acc.lastOption.contains(a)) acc.init :+ (a + b)
      else acc :+ x
    }

  /** The trainer: `Rounds` rounds on the driver over the collected word
    * table — count adjacent symbol pairs weighted by `cnt`, take the
    * argmax by (n DESC, `a␁b` UTF-8 ASC), apply it with [[mergeSyms]].
    * Stops early when no pair is left (degenerate corpora), so the merge
    * count is `min(Rounds, available merges)`. Returns one
    * (round, sym_a, sym_b, merged, n) row per merge.
    */
  private[graft] def trainLoop(s: SparkSession, d: String)
      : Seq[(Long, String, String, String, Long)] = {
    var words = collectedWords(s, d)
    val merges = Seq.newBuilder[(Long, String, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= Rounds && !exhausted) {
      val pairs = collection.mutable.HashMap.empty[(String, String), Long]
      for ((syms, cnt) <- words; i <- 0 until syms.length - 1) {
        val p = (syms(i), syms(i + 1))
        pairs(p) = pairs.getOrElse(p, 0L) + cnt
      }
      if (pairs.isEmpty) exhausted = true
      else {
        val ((a, b), n) = pairs.minBy { case ((a, b), n) =>
          (n, a + Sep + b) }(countDescThenUtf8)
        merges += ((r.toLong, a, b, a + b, n))
        words = words.map { case (syms, cnt) => (mergeSyms(syms, a, b), cnt) }
        r += 1
      }
    }
    merges.result()
  }

  /** The learned merge table: one row per round, in round order —
    * (round, sym_a, sym_b, merged, n), where n is the pair's weighted
    * count when it was chosen. A local relation: reading it runs no
    * Spark job.
    */
  private[graft] def trainMerges(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    trainLoop(s, d).toDF("round", "sym_a", "sym_b", "merged", "n")
  }

  /** Per-source BPE fertility under the trained merges — the metric
    * that decides whether a tokenizer's vocab suits a corpus slice
    * (x79 measures it for a FIXED regex tokenizer; this measures it
    * for the LEARNED model). The encoded word-TYPE table carries
    * `n_sub = |symbols(repr)|` per word; per-source totals come from
    * joining the (source, word, w_cnt) occurrence table to it on
    * `word` — a vocabulary-keyed shuffle join of two vocabulary-sized
    * frames (NO broadcast hint: the x66 lesson — AQE may still choose
    * one when the vocab is actually small). Fertility is ONE IEEE
    * division of two exact BIGINTs, bit-identical cross-engine.
    */
  private[graft] def encodeFertility(s: SparkSession, d: String,
      encoded: DataFrame): DataFrame =
    fertilityOf(
      Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy("source", "word").agg(count(lit(1)).as("w_cnt")),
      encoded)

  /** The fertility rollup given an occurrence table
    * (source, word, w_cnt) and an encoded type table (word, repr) —
    * shared by the batch paths (which derive occurrences from the
    * corpus scan) and the streaming twin st19 (whose DRAINED state IS
    * the occurrence table). Vocabulary-keyed shuffle join, no
    * broadcast hint (the x66 lesson); fertility is one IEEE division
    * of exact BIGINTs.
    */
  private[graft] def fertilityOf(occ: DataFrame,
      encoded: DataFrame): DataFrame = {
    val enc = encoded.select(col("word"),
      size(split(col("repr"), Sep)).cast("bigint").as("n_sub"))
    occ
      .join(enc, Seq("word"))
      .groupBy("source")
      .agg(sum(col("w_cnt")).as("n_words"),
        sum(col("w_cnt") * col("n_sub")).as("n_subwords"))
      .withColumn("fertility",
        col("n_subwords").cast("double") / col("n_words").cast("double"))
      .orderBy("source")
  }

  /** Encode a frame of word TYPES (a `word` column) under an ordered
    * merge list: initial character segmentation, then each merge
    * applied as the [[applyMerge]] fold. A pure map over a
    * vocabulary-sized frame where whole-stage codegen fuses the HOF
    * chain — the st18 lesson says the SAME fold interpreted inside a
    * streaming stateful segment prices ~50× batch, so streaming
    * consumers keep word-count state and defer encoding to this batch
    * path post-drain.
    */
  private[graft] def encodeTypes(words: DataFrame,
      merges: Seq[(String, String)]): DataFrame =
    merges.foldLeft(words.withColumn("repr", expr(initReprSql))) {
      case (w, (a, b)) => w.withColumn("repr", applyMerge(col("repr"), a, b))
    }

  /** The ordered (sym_a, sym_b) merge list from the persisted artifact
    * — ≤ `Rounds` rows of constant driver state.
    */
  private[graft] def servedMerges(s: SparkSession, d: String)
      : Seq[(String, String)] =
    AuditServe.mergesFrom(s, d)
      .select("round", "sym_a", "sym_b").collect()
      .sortBy(_.getAs[Long]("round"))
      .map(r => (r.getAs[String]("sym_a"), r.getAs[String]("sym_b")))
      .toSeq

  /** The serve-path encoder: re-derives the word table (one corpus
    * scan) and applies the PERSISTED merge table — ≤ `Rounds` rows
    * collected to the driver (constant-size state) and replayed as
    * chained folds in round order — skipping the trainer's word-table
    * collect. Row-identical to the self-contained path (BpeSpec + the
    * shared oracle pin it).
    */
  private def encodedFromServe(s: SparkSession, d: String): DataFrame =
    encodeTypes(wordTable(s, d), servedMerges(s, d))

  /** The oracle replays the identical loop as `Rounds` chained CTE
    * triples: pairs → best-by-(n DESC, pair) → the same greedy fold as
    * [[applyMerge]], spelled `list_reduce` (DuckDB lambdas close over
    * the row, so the merge halves arrive via a LEFT JOIN ON TRUE of
    * the 0-or-1-row b_r — NULL when the pair supply is exhausted
    * before `Rounds`, in which case the repr passes through unchanged,
    * matching the Spark side's early stop).
    */
  private def roundCtes(r: Int): String = s"""
p$r AS (
  SELECT pr AS pair, CAST(sum(cnt) AS BIGINT) AS n FROM (
    SELECT cnt, unnest(CASE WHEN len(syms) >= 2 THEN
      list_transform(generate_series(1, len(syms) - 1),
        i -> syms[i] || chr(1) || syms[i + 1])
      ELSE [] END) AS pr
    FROM (SELECT cnt, string_split(repr, chr(1)) AS syms FROM w${r - 1})
  ) GROUP BY 1
),
b$r AS (SELECT pair, n FROM p$r ORDER BY n DESC, pair LIMIT 1),
w$r AS (
  SELECT word, cnt, CASE WHEN sa IS NULL THEN repr ELSE
    list_reduce(string_split(repr, chr(1)), (acc, x) ->
      CASE WHEN x = sb AND (acc = sa OR ends_with(acc, chr(1) || sa))
        THEN acc || sb ELSE acc || chr(1) || x END)
  END AS repr
  FROM w${r - 1} LEFT JOIN (
    SELECT string_split(pair, chr(1))[1] AS sa,
           string_split(pair, chr(1))[2] AS sb FROM b$r) ON TRUE
)"""

  private def oracle: String = {
    val selects = (1 to Rounds).map(r => s"""
  SELECT CAST($r AS BIGINT) AS round,
    string_split(pair, chr(1))[1] AS sym_a,
    string_split(pair, chr(1))[2] AS sym_b,
    replace(pair, chr(1), '') AS merged, n
  FROM b$r""").mkString(" UNION ALL ")
    s"""
WITH w0 AS (
  SELECT word, CAST(count(*) AS BIGINT) AS cnt,
    array_to_string(list_transform(generate_series(1, length(word)),
      i -> substring(word, i, 1)), chr(1)) AS repr
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE length(word) > 0
  GROUP BY word
),
${(1 to Rounds).map(roundCtes).mkString(",")}
SELECT * FROM ($selects) ORDER BY round"""
  }

  /** Same CTE chain, final word table instead of the merge rows:
    * per-source fertility from the w`Rounds` segmentation. Shared by
    * x92, the serve twin x92s, and the streaming twin st19 (identical
    * rows by construction: the drained word-count state equals the
    * batch occurrence table, and the frozen serve merges equal the
    * trained merges on the same corpus version).
    */
  private[graft] def fertilityOracle: String = s"""
WITH w0 AS (
  SELECT word, CAST(count(*) AS BIGINT) AS cnt,
    array_to_string(list_transform(generate_series(1, length(word)),
      i -> substring(word, i, 1)), chr(1)) AS repr
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE length(word) > 0
  GROUP BY word
),
${(1 to Rounds).map(roundCtes).mkString(",")},
enc AS (
  SELECT word,
    CAST(len(string_split(repr, chr(1))) AS BIGINT) AS n_sub
  FROM w$Rounds
),
occ AS (
  SELECT source, word, CAST(count(*) AS BIGINT) AS w_cnt FROM (
    SELECT source, unnest(string_split(text, ' ')) AS word FROM documents
  ) WHERE length(word) > 0 GROUP BY 1, 2
)
SELECT source,
  CAST(sum(w_cnt) AS BIGINT) AS n_words,
  CAST(sum(w_cnt * n_sub) AS BIGINT) AS n_subwords,
  CAST(CAST(sum(w_cnt * n_sub) AS BIGINT) AS DOUBLE)
    / CAST(CAST(sum(w_cnt) AS BIGINT) AS DOUBLE) AS fertility
FROM occ JOIN enc USING (word)
GROUP BY source ORDER BY source"""

  def defs: Map[String, QueryDef] = Map(
    // ── The BPE trainer loop: the merge table a subword tokenizer ships.
    "x91_bpe_train" -> QueryDef(
      (s, d) => trainMerges(s, d),
      Some(oracle),
      s"character-level BPE merge training, $Rounds rounds over the " +
        "frequency-weighted word-type table"),

    // ── Encode under the trained model: per-source subword fertility.
    "x92_bpe_fertility" -> QueryDef(
      (s, d) => encodeFertility(s, d, encodeTypes(wordTable(s, d),
        trainLoop(s, d).map(m => (m._2, m._3)))),
      Some(fertilityOracle),
      "per-source fertility of the corpus encoded with the learned " +
        "BPE merges"),

    // ── Serve twin: replay the PERSISTED merge table (≤ Rounds rows of
    //    constant driver state), skipping the trainer's word-table
    //    collect. Row-identical to x92 (shared oracle).
    "x92s_bpe_encode_serve" -> QueryDef(
      (s, d) => {
        AuditServe.prepare(s, d)
        encodeFertility(s, d, encodedFromServe(s, d))
      },
      Some(fertilityOracle),
      "per-source BPE fertility served from the persisted merge table"))
}
