package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge TRAINING (Sennrich, Haddow & Birch, "Neural
  * Machine Translation of Rare Words with Subword Units", ACL 2016 —
  * public algorithm): x38 prices ONE pair-count round at the word level;
  * this module runs the actual character-level trainer loop — N rounds
  * of (count adjacent symbol pairs) → (pick the most frequent) → (merge
  * it everywhere) — and emits the learned merge table, which IS a BPE
  * tokenizer's model file.
  *
  * The scalable spelling (the one production trainers use): train on the
  * WORD-TYPE table, not the corpus — `(word, count)` is vocabulary-sized
  * (Heaps' law: sublinear in corpus size), and every pair count weights
  * by the word's corpus frequency, so the result is identical to
  * corpus-level training at a tiny fraction of the work. Each round is
  * one explode + map-side-combined aggregation over that table plus the
  * selection of a SINGLE pair; the only driver state is that one pair
  * per round (the d=64 PCA-state precedent — constant-size by
  * construction, never data-proportional). At 100 TB the word table is
  * 10⁷-10⁸ rows and the per-round shape is unchanged — and the loop is
  * kept linear in the round count by the [[CheckpointEvery]] lineage
  * discipline (without which chained folds made it quadratic). The
  * practical merge-count bound is per-round driver sequencing, not
  * data volume — see [[CheckpointEvery]].
  *
  * Merge application is the parity trick: a word's symbol segmentation
  * is kept as the word with `chr(1)` separators (a character that cannot
  * occur inside space-split words), and applying merge (a, b) is a
  * per-word left fold over the symbols — merge when the accumulator's
  * LAST symbol equals `a` and the incoming symbol equals `b`, which is
  * exactly BPE's greedy left-to-right non-overlapping application
  * ([x,x,x] under (x,x) → [xx,x], never [x,xx]; a merged symbol can't
  * cascade within its own round because `ab` is strictly longer than
  * `a`). The fold compares WHOLE symbols — the `chr(1)`-anchored
  * suffix test — where a flat-string `replace(repr, 'a␁b', 'ab')`
  * would falsely match `a` as the tail of a longer symbol ([xa, b]
  * must NOT fuse). Spark spells the fold `aggregate()`, DuckDB
  * `list_reduce()`; it stays a pure map over the word table — no
  * per-round shuffle. Pair selection breaks count ties by binary
  * string order on both engines. Everything else is integer counts,
  * so the whole trainer replays bit-for-bit in the oracle as `Rounds`
  * chained CTE triples.
  */
object BpeQueries {
  private val Rounds = 6

  /** Re-materialize the word table every this-many merge rounds (eager
    * `localCheckpoint`, the Components.scala discipline). Without it,
    * round r's pair-count job re-evaluates r−1 CHAINED `aggregate` folds
    * over the cached base table — O(R²) fold applications across the
    * loop, with plan/codegen depth growing linearly in R. With it, a
    * round re-evaluates at most `CheckpointEvery` folds past the last
    * checkpoint, so total work is O(R·CheckpointEvery) — linear in the
    * merge count — and the plan depth is bounded. Measured at sf0.001
    * (local[4], warmed JVM): checkpointed runs 3.4 s at R = 16 and
    * 8.8 s at R = 64 (per-round cost FLAT at ~0.14-0.21 s — pure
    * driver-sequencing floor), while the unchecked lineage runs 2.5 s
    * at R = 16 but 21.2 s at R = 64 — 8.5× the time for 4× the rounds,
    * the quadratic fold re-evaluation in the data. BpeSpec pins
    * merge-for-merge equality of the checkpointed and unchecked paths.
    *
    * PRACTICAL MERGE-COUNT BOUND: each round is still one Spark job
    * (pair-count aggregation + 1-row argmax collect) sequenced from the
    * driver — irreducible in BPE, whose round r depends on round r−1's
    * choice. At a fixed per-round job-dispatch cost, a 32k-merge
    * production vocabulary is hours of driver-sequenced jobs regardless
    * of cluster size. This trainer is therefore sized for the declared
    * `Rounds` and for corpus-specific auxiliary vocabularies (≲ 1k
    * merges); a full production tokenizer train belongs in a
    * single-node trainer over the (tiny, Heaps-law) word-type table
    * this module already derives and can export.
    */
  private val CheckpointEvery = 4
  private val Sep = "\u0001" // the JVM twin of the in-SQL chr(1) separator

  /** Initial character segmentation of a `word` column — the chr(1)-
    * separated symbol list every encode path starts from.
    */
  private val initReprSql =
    """concat_ws(chr(1), transform(sequence(1, length(word)),
       i -> substring(word, i, 1)))""".replace('\n', ' ')

  /** Vocabulary-sized training table: distinct words with corpus counts
    * and the initial character segmentation.
    */
  private def wordTable(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .withColumn("repr", expr(initReprSql))

  /** Adjacent symbol pairs of the current segmentation, weighted by word
    * frequency. `sequence(a, b)` DESCENDS when b < a, so single-symbol
    * words are guarded to emit nothing instead of a reversed fan-out.
    */
  private def pairCounts(words: DataFrame): DataFrame =
    words.select(col("cnt"), explode(expr(
        """CASE WHEN size(split(repr, chr(1))) >= 2 THEN
             transform(sequence(1, size(split(repr, chr(1))) - 1),
               i -> concat(element_at(split(repr, chr(1)), i), chr(1),
                           element_at(split(repr, chr(1)), i + 1)))
           ELSE CAST(array() AS ARRAY<STRING>) END""".replace('\n', ' ')))
        .as("pair"))
      .groupBy("pair").agg(sum(col("cnt")).as("n"))

  /** Greedy left-to-right non-overlapping application of merge (a, b):
    * fold the symbol list, fusing when the accumulator's last symbol is
    * exactly `a` (the separator-anchored suffix test — `a` as the tail
    * of a LONGER symbol must not match) and the next symbol is `b`.
    * Fusing appends bare `b` (the last symbol `…␁a` becomes `…␁ab`);
    * otherwise the symbol arrives behind a separator. A pure map —
    * merge rounds never shuffle the word table.
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

  /** The trainer loop shared by the merge-table query and the encoder:
    * runs the rounds and returns BOTH the learned merges and the word
    * table in its final segmentation (every chosen merge applied).
    * Stops early if the pair supply is exhausted (degenerate corpora),
    * so the merge count is `min(Rounds, available merges)`. The only
    * driver state is one (pair, count) row per round.
    */
  private[graft] def trainLoop(s: SparkSession, d: String,
      rounds: Int = Rounds, checkpointEvery: Int = CheckpointEvery)
      : (DataFrame, Seq[(Long, String, String, String, Long)]) = {
    require(checkpointEvery >= 1, s"checkpointEvery: $checkpointEvery")
    val w0 = wordTable(s, d)
      .transform(graft.Caches.scoped)
    var words = w0
    var foldsSinceCkpt = 0
    val merges = Seq.newBuilder[(Long, String, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val best = pairCounts(words)
        .orderBy(col("n").desc, col("pair")).limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val pair = best.head.getAs[String]("pair")
        val n = best.head.getAs[Long]("n")
        val Array(a, b) = pair.split(Sep, 2)
        merges += ((r.toLong, a, b, a + b, n))
        words = words.withColumn("repr", applyMerge(col("repr"), a, b))
        foldsSinceCkpt += 1
        // bound the chained-fold depth (see [[CheckpointEvery]]): the
        // eager localCheckpoint truncates the logical plan, so the next
        // round's pair count starts from materialized rows, not from a
        // re-evaluation of every previous round's fold
        if (foldsSinceCkpt >= checkpointEvery && r < rounds) {
          words = graft.Caches.checkpointed(words)
          foldsSinceCkpt = 0
        }
        r += 1
      }
    }
    (words, merges.result())
  }

  /** The learned merge table: one row per round — (round, sym_a, sym_b,
    * merged, n), where n is the pair's weighted count when it was
    * chosen.
    */
  private[graft] def trainMerges(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    trainLoop(s, d)._2
      .toDF("round", "sym_a", "sym_b", "merged", "n")
      .orderBy("round")
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
    * chained replaces in round order — skipping the trainer's
    * per-round pair-count aggregations entirely. Row-identical to the
    * self-contained path (BpeSpec + the shared oracle pin it).
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
      (s, d) => encodeFertility(s, d, trainLoop(s, d)._1),
      Some(fertilityOracle),
      "per-source fertility of the corpus encoded with the learned " +
        "BPE merges"),

    // ── Serve twin: replay the PERSISTED merge table (≤ Rounds rows of
    //    constant driver state), skipping the trainer's per-round
    //    pair-count jobs. Row-identical to x92 (shared oracle).
    "x92s_bpe_encode_serve" -> QueryDef(
      (s, d) => {
        AuditServe.prepare(s, d)
        encodeFertility(s, d, encodedFromServe(s, d))
      },
      Some(fertilityOracle),
      "per-source BPE fertility served from the persisted merge table"))
}
