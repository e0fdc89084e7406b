package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization over the `embeddings` table — the compression half
  * of the 100 TB ANN stack that [[SimilarityQueries]]' IVF path leaves open
  * (Jégou/Douze/Schmid, "Product Quantization for Nearest Neighbor
  * Search", TPAMI 2011 — public algorithm). The 64-dim vector splits into
  * M = 8 subspaces of 8 dims; each subspace trains its own Ks = 16-code
  * codebook (4-bit PQ, so a vector stores as M log₂Ks = 32 bits instead
  * of 64 floats — a 64× compression), and search scores compressed codes
  * against a per-probe lookup table (asymmetric distance computation,
  * ADC) without ever reconstructing the corpus.
  *
  * Everything is exact int64 so the DuckDB oracle replays it
  * bit-for-bit, reusing [[SimilarityQueries]]' milli-unit quantization:
  *   - distances are squared L2 `Σ(x−y)²` — integer sums, associative,
  *     NO division anywhere in the hot path (unlike the cosine family,
  *     there is no zero-vector guard to keep in sync);
  *   - codebooks train with the same seeded Lloyd discipline as the IVF
  *     centroids: init = the Ks lowest vec_ids' subvectors, assignment
  *     by min distance with ties to the lowest code id, update by
  *     truncating integer mean (both engines truncate toward zero —
  *     probed, not assumed);
  *   - the codebook size is a CONSTANT by design (Ks codes × M subs =
  *     128 rows ≈ 1 KB) — unlike IVF's √n centroid budget, PQ's whole
  *     point is that the codebook stays broadcast-sized at any corpus
  *     scale, so every stage below is a map-only fold over a one-row
  *     broadcast no matter how many vectors arrive.
  *
  * Scale shape: training pays one (sub, code)-keyed partial aggregation
  * per Lloyd round over the n×M subvector rows (map-side combine down to
  * ≤ M·Ks rows per partition); encoding and ADC search shuffle NOTHING —
  * each is one map stage over the corpus with the packed codebook / probe
  * LUTs broadcast. Production systems encode IVF residuals (x10's
  * assignment composes here — the residual `qe − c_qe` is exact int64);
  * the declared rows keep plain PQ so the artifact stands independent of
  * the IVF chain.
  */
object PqQueries {

  private val M = 8        // subspaces
  private val SubDims = 8  // Dims / M
  private val Codes = 16   // codebook size per subspace (4-bit PQ)
  private val PqIters = 2  // Lloyd rounds, same budget as the IVF chain

  /** Exact int64 squared L2 distance, one spelling per engine. Bounds:
    * components are milli-units ≤ ~525, so a per-dim square ≤ ~1.1e6 and
    * an 8-dim subdistance ≤ ~9e6 — ADC sums of M of these stay far from
    * BIGINT range at any corpus size (per-pair, not per-corpus, sums).
    */
  private[operators] def sparkSq(a: String, b: String): String =
    s"""aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)),
        CAST(0 AS BIGINT), (acc, v) -> acc + v)""".replace('\n', ' ')
  private[operators] def duckSq(a: String, b: String): String =
    s"CAST(list_sum(list_transform(list_zip($a, $b), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT)"

  /** Fold seed for the argmin: id −1 never survives against a real code
    * because every real distance is < Long.MaxValue.
    */
  private val ArgminSeed =
    "named_struct('id', CAST(-1 AS BIGINT), 'd', CAST(9223372036854775807 AS BIGINT))"

  /** (vec_id, sub, sqe) subvector rows — TRAINING only: the Lloyd update
    * is a (sub, code)-keyed aggregation so it genuinely needs the
    * exploded frame. Encoding does not (see [[encodedPacked]]).
    */
  private def subVectors(e: DataFrame): DataFrame =
    e.select(col("vec_id"), explode(expr(
        s"""transform(sequence(0, ${M - 1}), j -> named_struct(
              'sub', CAST(j AS INT),
              'sqe', slice(qe, j * $SubDims + 1, $SubDims)))""")).as("sv"))
      .select(col("vec_id"), col("sv.sub").as("sub"), col("sv.sqe").as("sqe"))

  /** Per-subspace codebooks packed one row per sub (≤ M rows, ≤ Ks codes
    * each) — broadcast-joined on `sub` so training assignment is a pure
    * map stage over the subvector rows.
    */
  private def packedBySub(cb: DataFrame): DataFrame =
    cb.groupBy("sub")
      .agg(collect_list(struct(col("c_id"), col("c_qe"))).as("codes"))

  /** Nearest-code argmin fold (the [[SimilarityQueries.nearestCentroid]]
    * shape on squared L2): adds `best STRUCT<id BIGINT, d BIGINT>`.
    * Strict-less-or-equal-and-lower-id makes the fold independent of the
    * packed list's order — identical to the oracle's
    * `ORDER BY d ASC, c_id` pick.
    */
  private def nearestCode(es: DataFrame, cb: DataFrame): DataFrame =
    es.join(broadcast(packedBySub(cb)), "sub")
      .withColumn("best", expr(s"""
        aggregate(
          transform(codes, c -> named_struct('id', c.c_id, 'd',
            ${sparkSq("sqe", "c.c_qe")})),
          $ArgminSeed,
          (acc, x) -> CASE WHEN x.d < acc.d
                            OR (x.d = acc.d AND x.id < acc.id)
                           THEN x ELSE acc END)"""))
      .drop("codes")

  /** Seeded per-subspace Lloyd training (the [[SimilarityQueries
    * .trainedCentroids]] discipline with a composite (sub, code) key):
    * init = subvectors of the Ks lowest vec_ids, PqIters rounds of
    * map-only assignment + ONE partially-aggregated shuffle carrying at
    * most M·Ks rows per input partition. Integer sums are associative;
    * the mean is truncating long division — DuckDB's `//` also truncates
    * toward zero (probed: −7 // 2 = −3), so both engines walk identical
    * codebooks even on negative component sums. Emptied codes drop out
    * on both engines alike.
    */
  private def trainedBooks(e: DataFrame): DataFrame = {
    val es = subVectors(e)
      .transform(graft.Caches.scoped)
    val init = es.filter(col("vec_id") < Codes)
      .select(col("sub"), col("vec_id").as("c_id"), col("sqe").as("c_qe"))
    // per-(sub, code) update as a plain groupBy over the native
    // element-wise vec_sum_long aggregate + a count — the respell of
    // the pre-r13 typed reduceGroups fold (the
    // [[SimilarityQueries.lloydOver]] note): identical integer sums,
    // identical truncating mean, no per-row array encode/decode.
    graft.GraftExtensions.ensureInstalled(e.sparkSession)
    val fin = (1 to PqIters).foldLeft(init) { (cb, _) =>
      nearestCode(es, cb)
        .select(col("sub"), col("best.id").as("code"), col("sqe"))
        .groupBy(col("sub"), col("code"))
        .agg(count(lit(1)).as("__n"), expr("vec_sum_long(sqe)").as("__sv"))
        .select(col("sub"), col("code").as("c_id"),
          expr("transform(__sv, v -> v div __n)").as("c_qe"))
    }
    fin.transform(graft.Caches.scoped)
  }

  /** ALL codebooks packed into ONE broadcast row (≤ M·Ks structs ≈ 1 KB
    * — constant at any corpus scale, PQ's design point).
    */
  private def packedAll(cb: DataFrame): DataFrame =
    cb.agg(collect_list(struct(col("sub"), col("c_id"), col("c_qe")))
      .as("books"))

  /** Corpus encoding as ONE map stage over the full vectors — no
    * subvector explode, no shuffle: each row folds its M slices over the
    * broadcast codebook row. Adds
    * `enc ARRAY<STRUCT<sub INT, code BIGINT, qerr BIGINT>>` ordered by
    * sub (sequence order). `qerr` is the subvector's squared
    * quantization error — the number a PQ deployment monitors for
    * codebook drift.
    */
  private[graft] def encodedPacked(e: DataFrame, cb: DataFrame): DataFrame =
    e.crossJoin(broadcast(packedAll(cb)))
      .withColumn("enc", expr(s"""
        transform(
          transform(sequence(0, ${M - 1}), j -> named_struct(
            'j', CAST(j AS INT),
            'sq', slice(qe, j * $SubDims + 1, $SubDims))),
          t -> named_struct('sub', t.j, 'best',
            aggregate(
              transform(filter(books, b -> b.sub = t.j),
                c -> named_struct('id', c.c_id, 'd',
                  ${sparkSq("t.sq", "c.c_qe")})),
              $ArgminSeed,
              (acc, x) -> CASE WHEN x.d < acc.d
                                OR (x.d = acc.d AND x.id < acc.id)
                               THEN x ELSE acc END)))"""))
      .withColumn("enc", expr(
        """transform(enc, z -> named_struct(
           'sub', z.sub, 'code', z.best.id, 'qerr', z.best.d))"""))
      .drop("books")

  // ───────────────────────── oracle CTE chain ─────────────────────────

  /** The per-subspace Lloyd chain + final encoding in DuckDB SQL, in
    * lockstep with [[trainedBooks]]/[[encodedPacked]]: `pes` (subvector
    * rows) → `pb0` (seeded init) → per-round `(paᵢ, psᵢ, pbᵢ)` →
    * `pb` (final books) → `penc(vec_id, sub, code, qerr)`. `sub` is cast
    * to INTEGER to match the Spark struct field type.
    */
  private def duckPqCtes: String = {
    val iters = (1 to PqIters).map { i =>
      s"""pa$i AS (
  SELECT vec_id, sub, sqe, c_id AS code
  FROM (SELECT p.vec_id, p.sub, p.sqe, b.c_id,
          row_number() OVER (PARTITION BY p.vec_id, p.sub
            ORDER BY ${duckSq("p.sqe", "b.c_qe")} ASC, b.c_id) AS rn
        FROM pes p JOIN pb${i - 1} b ON p.sub = b.sub)
  WHERE rn = 1
),
ps$i AS (
  SELECT sub, code, pos, CAST(sum(sqe[pos]) AS BIGINT) AS sv, count(*) AS cnt
  FROM pa$i CROSS JOIN (SELECT unnest(generate_series(1, $SubDims)) AS pos) pp
  GROUP BY sub, code, pos
),
pb$i AS (
  SELECT sub, code AS c_id, list(sv // cnt ORDER BY pos) AS c_qe
  FROM ps$i GROUP BY sub, code
)"""
    }.mkString(",\n")
    s"""pes AS (
  SELECT vec_id, CAST(sj AS INTEGER) AS sub,
    qe[(sj * $SubDims + 1):(sj * $SubDims + $SubDims)] AS sqe
  FROM e CROSS JOIN (SELECT unnest(generate_series(0, ${M - 1})) AS sj) ss
),
pb0 AS (SELECT sub, vec_id AS c_id, sqe AS c_qe FROM pes
        WHERE vec_id < $Codes),
$iters,
pb AS (SELECT * FROM pb$PqIters),
penc AS (
  SELECT vec_id, sub, c_id AS code, d AS qerr
  FROM (SELECT p.vec_id, p.sub, b.c_id,
          ${duckSq("p.sqe", "b.c_qe")} AS d,
          row_number() OVER (PARTITION BY p.vec_id, p.sub
            ORDER BY ${duckSq("p.sqe", "b.c_qe")} ASC, b.c_id) AS rn
        FROM pes p JOIN pb b ON p.sub = b.sub)
  WHERE rn = 1
)"""
  }

  /** Probe LUT + ADC CTEs shared by x82 and x83 (`plut` is the classic
    * ADC table: probe subvector × every code).
    */
  private def duckAdcCtes: String = s"""plut AS (
  SELECT p.vec_id AS q_id, p.sub, b.c_id AS code,
    ${duckSq("p.sqe", "b.c_qe")} AS ldist
  FROM pes p JOIN pb b ON p.sub = b.sub
  WHERE p.vec_id < ${SimilarityQueries.NQueries}
),
adc AS (
  SELECT l.q_id, c.vec_id, CAST(sum(l.ldist) AS BIGINT) AS adc_dist
  FROM penc c JOIN plut l ON c.sub = l.sub AND c.code = l.code
  WHERE c.vec_id != l.q_id
  GROUP BY l.q_id, c.vec_id
)"""

  /** Shortlist + exact re-rank CTEs (on top of [[duckAdcCtes]]), shared
    * by x84 and the x83 audit.
    */
  private def duckRerankCtes: String = s"""shortl AS (
  SELECT q_id, vec_id
  FROM (SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
          ORDER BY adc_dist ASC, vec_id) AS rn FROM adc)
  WHERE rn <= $Rerank
),
rer AS (
  SELECT s.q_id, s.vec_id, ${duckSq("q.qe", "t.qe")} AS dist
  FROM shortl s JOIN e t ON s.vec_id = t.vec_id
       JOIN e q ON s.q_id = q.vec_id
)"""

  // ───────────────────────── declared queries ─────────────────────────

  /** The x81 reduction over any encoded frame — shared verbatim by the
    * batch query and the streaming drain (count/sum are monoids, so the
    * streamed state equals this batch rollup at any arrival order).
    */
  private[graft] def codebookStatsOf(enc: DataFrame): DataFrame =
    enc.select(explode(col("enc")).as("z"))
      .groupBy(col("z.sub").as("sub"), col("z.code").as("code"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("z.qerr")).as("sum_err"))

  /** x81's oracle SQL — shared verbatim with `st16_stream_pq_encode`
    * (the streaming twin's drained state is the same rollup).
    */
  private[graft] val codebookStatsSql: String = s"""
WITH ${SimilarityQueries.duckQuantizedCte},
$duckPqCtes
SELECT sub, code, count(*) AS n_vecs, CAST(sum(qerr) AS BIGINT) AS sum_err
FROM penc GROUP BY sub, code ORDER BY sub, code"""

  /** x82's oracle SQL — shared verbatim with `x82s_pq_serve` (the serve
    * row answers from persisted artifacts but must return the identical
    * frame).
    */
  private val adcSearchSql: String = s"""
WITH ${SimilarityQueries.duckQuantizedCte},
$duckPqCtes,
$duckAdcCtes
SELECT q_id, CAST(rn AS BIGINT) AS rank, vec_id AS neighbor_id, adc_dist
FROM (SELECT *, row_number() OVER (PARTITION BY q_id
        ORDER BY adc_dist ASC, vec_id) AS rn FROM adc)
WHERE rn <= ${SimilarityQueries.K} ORDER BY q_id, rank"""

  private def pqCodebookStats(s: SparkSession, d: String): DataFrame = {
    val e = SimilarityQueries.quantizedCached(s, d)
    codebookStatsOf(encodedPacked(e, trainedBooks(e)))
      .orderBy("sub", "code")
  }

  /** ADC shortlist size for the re-rank stage: 4·k is the classic
    * setting (shortlist a few multiples of k, then exact-score only
    * those — Jégou et al. §V's IVFADC+R refinement).
    */
  private val Rerank = 4 * SimilarityQueries.K

  /** Full ADC ranking per probe over SUPPLIED books + codes frames:
    * every corpus vector scores as M map lookups over its code array
    * (codes + per-probe LUTs broadcast — one map stage), then ranks
    * within its probe. Shared by the self-contained x82/x84/x83 chains
    * and the persisted-artifact serve row (`x82s_pq_serve`).
    */
  private def adcRankedFrom(s: SparkSession, d: String,
      cb: DataFrame, enc: DataFrame): DataFrame = {
    // Per-probe LUT folded into ONE map per probe row: key sub·Ks+code →
    // subdistance. NQueries rows × (M·Ks)-entry maps, broadcast.
    val lut = SimilarityQueries.quantized(s, d)
      .filter(col("vec_id") < SimilarityQueries.NQueries)
      .crossJoin(broadcast(packedAll(cb)))
      .select(col("vec_id").as("q_id"), expr(s"""
        map_from_entries(transform(books, b -> named_struct(
          'k', CAST(b.sub AS BIGINT) * $Codes + b.c_id,
          'v', ${sparkSq(s"slice(qe, b.sub * $SubDims + 1, $SubDims)",
                "b.c_qe")})))""").as("lutm"))
    val w = Window.partitionBy("q_id").orderBy(col("adc_dist"), col("vec_id"))
    enc.crossJoin(broadcast(lut))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("adc_dist", expr(s"""
        aggregate(enc, CAST(0 AS BIGINT), (acc, z) ->
          acc + element_at(lutm, CAST(z.sub AS BIGINT) * $Codes + z.code))"""))
      .withColumn("rank", row_number().over(w).cast("bigint"))
  }

  private def adcRanked(s: SparkSession, d: String): DataFrame = {
    val e = SimilarityQueries.quantizedCached(s, d)
    val cb = trainedBooks(e)
    adcRankedFrom(s, d, cb,
      encodedPacked(e, cb).select(col("vec_id"), col("enc")))
  }

  private def topKOf(ranked: DataFrame): DataFrame =
    ranked
      .filter(col("rank") <= SimilarityQueries.K)
      .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("adc_dist"))
      .orderBy("q_id", "rank")

  private def adcTopK(s: SparkSession, d: String): DataFrame =
    topKOf(adcRanked(s, d))

  /** Persist the PQ artifacts — trained books (ONE tiny file) and the
    * encoded corpus (the production artifact: 32-bit codes in place of
    * raw vectors, the 64× compression the serve tier actually ships).
    * Called by [[SimilarityQueries.prepareServe]] under the
    * embeddings-keyed builder-versioned root.
    */
  private[operators] def buildPq(s: SparkSession, dir: String,
      path: String): Unit = {
    val e = SimilarityQueries.quantizedCached(s, dir)
    val cb = trainedBooks(e)
    cb.coalesce(1).write.mode("overwrite").parquet(s"$path/books")
    encodedPacked(e, cb).select(col("vec_id"), col("enc"))
      .write.mode("overwrite").parquet(s"$path/codes")
  }

  /** The persisted ADC shortlist (q_id, vec_id, rank ≤ Rerank) — the
    * ONE heavy ADC scan both downstream rankings derive from: the raw
    * ADC top-k is its rank ≤ K prefix (K < Rerank), and the exact
    * re-rank re-scores exactly its rows. NQueries·Rerank rows, so the
    * persist is constant-size at any corpus scale.
    */
  private def adcShortlist(s: SparkSession, d: String): DataFrame =
    adcRanked(s, d)
      .filter(col("rank") <= Rerank)
      .select(col("q_id"), col("vec_id"), col("rank"), col("adc_dist"))
      .transform(graft.Caches.scoped)

  /** Exact full-vector re-rank of a (q_id, vec_id) shortlist: only
    * these candidates ever touch their original vectors, so the exact
    * arithmetic runs on NQueries·Rerank rows regardless of corpus size
    * — the standard accuracy-recovery stage a compressed-domain
    * deployment runs. Returns (q_id, rank, neighbor_id, dist) with
    * EXACT squared L2.
    */
  private def rerankOf(s: SparkSession, d: String,
      short: DataFrame): DataFrame = {
    val e = SimilarityQueries.quantizedCached(s, d)
    val probes = e.filter(col("vec_id") < SimilarityQueries.NQueries)
      .select(col("vec_id").as("q_id"), col("qe").as("q_qe"))
    val w = Window.partitionBy("q_id").orderBy(col("dist"), col("vec_id"))
    e.select(col("vec_id"), col("qe"))
      .join(broadcast(short.select(col("q_id"), col("vec_id"))), "vec_id")
      .join(broadcast(probes), "q_id")
      .withColumn("dist", expr(sparkSq("q_qe", "qe")))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= SimilarityQueries.K)
      .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("dist"))
      .orderBy("q_id", "rank")
  }

  private def rerankTopK(s: SparkSession, d: String): DataFrame =
    rerankOf(s, d, adcShortlist(s, d))

  /** IVFADC — the two ANN halves COMPOSED the way production systems
    * ship them (Jégou et al. §V): IVF routes each probe to its NProbe
    * nearest centroid buckets, and within ONLY those buckets the
    * candidates score in the compressed domain against codebooks
    * trained on RESIDUALS (vector − its bucket centroid). Residuals
    * concentrate around zero, so one shared residual codebook
    * quantizes them far better than raw vectors — the reason the
    * composite beats either stage alone. All integer-exact: residual
    * subtraction is int64, the PQ chain applies to the residual frame
    * VERBATIM ([[trainedBooks]]/[[encodedPacked]] just slice a `qe`
    * column — here the residual), and the per-(probe, bucket) LUT is
    * the probe's residual against every code.
    *
    * Scale shape: routing is the x12 map-only fold; the bucket
    * equi-join against the (NQueries·NProbe)-row broadcast LUT IS the
    * pruning — candidates outside probed buckets never materialize;
    * ADC is a map fold per surviving row; only the per-probe top-k
    * ranks. Every stage inherits the parent families' levers (√n
    * centroid budget, bucketCap upstream, constant-size codebooks).
    */
  private def ivfpqSearch(s: SparkSession, d: String): DataFrame = {
    val e = SimilarityQueries.quantizedCached(s, d)
    val cent = SimilarityQueries.trainedCentroids(e)
    val res = residualsOf(
      SimilarityQueries.assignedBuckets(e, cent)
        .select(col("vec_id"), col("qe"), col("bucket")), cent)
    val rcb = trainedBooks(res)
    // No explicit probed-bucket pre-filter before the encode: `enc` is a
    // lazy projection first referenced AFTER ivfpqFrom's broadcast bucket
    // join, so Catalyst already computes it only on rows surviving the
    // probe pruning — an explicit semi-join here measured ~25% SLOWER
    // (redundant routing + distinct + broadcast for a prune the join
    // order already performs).
    val renc = encodedPacked(res, rcb)
      .select(col("vec_id"), col("bucket"), col("enc"))
    ivfpqFrom(s, d, cent, rcb, renc)
  }

  /** Residual frame (vector − its bucket centroid), renamed `qe` so the
    * PQ machinery ([[trainedBooks]]/[[encodedPacked]]) applies verbatim.
    */
  private def residualsOf(assigned: DataFrame, cent: DataFrame): DataFrame =
    assigned.join(
        broadcast(cent.select(col("c_id").as("bucket"), col("c_qe"))),
        "bucket")
      .select(col("vec_id"), col("bucket"),
        expr("zip_with(qe, c_qe, (x, y) -> x - y)").as("qe"))

  /** The bucket-pruned ADC ranking over SUPPLIED centroids + residual
    * books + encoded residual codes — the serve-side half of IVFADC,
    * shared by the self-contained [[ivfpqSearch]] and the
    * persisted-artifact row (`x85s_ivfpq_serve`). Routing is the x12
    * map-only fold; the bucket equi-join against the
    * (NQueries·NProbe)-row broadcast LUT IS the pruning.
    */
  private def ivfpqFrom(s: SparkSession, d: String, cent: DataFrame,
      rcb: DataFrame, renc: DataFrame): DataFrame = {
    val e = SimilarityQueries.quantizedCached(s, d)
    val centSlim = cent.select(col("c_id").as("bucket"), col("c_qe"))
    val probes = e.filter(col("vec_id") < SimilarityQueries.NQueries)
      .select(col("vec_id").as("q_id"), col("qe").as("q_qe"),
        col("qn").as("q_qn"))
    // per (probe, probed bucket): the probe's RESIDUAL wrt that bucket's
    // centroid, folded into one LUT map — NQueries·NProbe rows, broadcast
    val lut = SimilarityQueries.probeBuckets(probes, cent)
      .join(broadcast(centSlim), "bucket")
      .withColumn("qr", expr("zip_with(q_qe, c_qe, (x, y) -> x - y)"))
      .crossJoin(broadcast(packedAll(rcb)))
      .select(col("q_id"), col("bucket"), expr(s"""
        map_from_entries(transform(books, b -> named_struct(
          'k', CAST(b.sub AS BIGINT) * $Codes + b.c_id,
          'v', ${sparkSq(s"slice(qr, b.sub * $SubDims + 1, $SubDims)",
                "b.c_qe")})))""").as("lutm"))
    val w = Window.partitionBy("q_id").orderBy(col("adc_dist"), col("vec_id"))
    renc.join(broadcast(lut), "bucket") // the equi-join IS the pruning
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("adc_dist", expr(s"""
        aggregate(enc, CAST(0 AS BIGINT), (acc, z) ->
          acc + element_at(lutm, CAST(z.sub AS BIGINT) * $Codes + z.code))"""))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= SimilarityQueries.K)
      .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("adc_dist"), col("bucket"))
      .orderBy("q_id", "rank")
  }

  /** Persist the IVFADC artifacts — residual codebooks (one tiny file)
    * and the encoded residual corpus partitioned by IVF bucket, so a
    * serve-side search reads only its probed buckets' code files (the
    * same directory-pruned layout as the IVF assignment). Derives the
    * residual frame FROM the already-persisted IVF index (centroids +
    * assignment) rather than retraining — [[SimilarityQueries
    * .prepareServe]] always builds the IVF half first.
    */
  private[operators] def buildIvfPq(s: SparkSession, ivfPath: String,
      path: String): Unit = {
    val cent = Tables.parquet(s, s"$ivfPath/centroids")
    val res = residualsOf(
      s.read.parquet(s"$ivfPath/assignment")
        .select(col("vec_id"), col("qe"), col("bucket").cast("bigint")
          .as("bucket")), cent)
    val rcb = trainedBooks(res)
    rcb.coalesce(1).write.mode("overwrite").parquet(s"$path/books")
    encodedPacked(res, rcb)
      .select(col("vec_id"), col("bucket"), col("enc"))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$path/codes")
  }

  /** The IVFADC oracle: the IVF kmeans + assignment CTEs, a residual
    * PQ chain (rp-prefixed so it can't collide with the plain-PQ CTEs),
    * the shared probe-routing CTE, per-(probe, bucket) residual LUTs,
    * and the bucket-pruned ADC rollup.
    */
  private def ivfpqSql: String = {
    val iters = (1 to PqIters).map { i =>
      s"""rpa$i AS (
  SELECT vec_id, sub, sqe, c_id AS code
  FROM (SELECT p.vec_id, p.sub, p.sqe, b.c_id,
          row_number() OVER (PARTITION BY p.vec_id, p.sub
            ORDER BY ${duckSq("p.sqe", "b.c_qe")} ASC, b.c_id) AS rn
        FROM rpes p JOIN rpb${i - 1} b ON p.sub = b.sub)
  WHERE rn = 1
),
rps$i AS (
  SELECT sub, code, pos, CAST(sum(sqe[pos]) AS BIGINT) AS sv, count(*) AS cnt
  FROM rpa$i CROSS JOIN (SELECT unnest(generate_series(1, $SubDims)) AS pos) pp
  GROUP BY sub, code, pos
),
rpb$i AS (
  SELECT sub, code AS c_id, list(sv // cnt ORDER BY pos) AS c_qe
  FROM rps$i GROUP BY sub, code
)"""
    }.mkString(",\n")
    s"""
WITH ${SimilarityQueries.duckQuantizedCte},
${SimilarityQueries.duckKmeansCtes},
${SimilarityQueries.duckAssignedCtes},
rres AS (
  SELECT a.vec_id, a.bucket,
    list_transform(list_zip(a.qe, c.c_qe), p -> p[1] - p[2]) AS r
  FROM assigned a JOIN c ON a.bucket = c.c_id
),
rpes AS (
  SELECT vec_id, bucket, CAST(sj AS INTEGER) AS sub,
    r[(sj * $SubDims + 1):(sj * $SubDims + $SubDims)] AS sqe
  FROM rres CROSS JOIN (SELECT unnest(generate_series(0, ${M - 1})) AS sj) ss
),
rpb0 AS (SELECT sub, vec_id AS c_id, sqe AS c_qe FROM rpes
         WHERE vec_id < $Codes),
$iters,
rpb AS (SELECT * FROM rpb$PqIters),
renc AS (
  SELECT vec_id, bucket, sub, c_id AS code
  FROM (SELECT p.vec_id, p.bucket, p.sub, b.c_id,
          row_number() OVER (PARTITION BY p.vec_id, p.sub
            ORDER BY ${duckSq("p.sqe", "b.c_qe")} ASC, b.c_id) AS rn
        FROM rpes p JOIN rpb b ON p.sub = b.sub)
  WHERE rn = 1
),
${SimilarityQueries.duckProbeCte("prt")},
qres AS (
  SELECT p.q_id, p.bucket,
    list_transform(list_zip(p.q_qe, c.c_qe), p2 -> p2[1] - p2[2]) AS qr
  FROM prt p JOIN c ON p.bucket = c.c_id
),
rlut AS (
  SELECT q.q_id, q.bucket, b.sub, b.c_id AS code,
    ${duckSq(s"q.qr[(b.sub * $SubDims + 1):(b.sub * $SubDims + $SubDims)]",
        "b.c_qe")} AS ldist
  FROM qres q CROSS JOIN rpb b
),
adcq AS (
  SELECT l.q_id, r.vec_id, r.bucket, CAST(sum(l.ldist) AS BIGINT) AS adc_dist
  FROM renc r JOIN rlut l
    ON r.bucket = l.bucket AND r.sub = l.sub AND r.code = l.code
  WHERE r.vec_id != l.q_id
  GROUP BY l.q_id, r.vec_id, r.bucket
)
SELECT q_id, CAST(rn AS BIGINT) AS rank, vec_id AS neighbor_id, adc_dist,
  bucket
FROM (SELECT *, row_number() OVER (PARTITION BY q_id
        ORDER BY adc_dist ASC, vec_id) AS rn FROM adcq)
WHERE rn <= ${SimilarityQueries.K} ORDER BY q_id, rank"""
  }

  private def pqRecall(s: SparkSession, d: String): DataFrame = {
    val k = SimilarityQueries.K
    val e = SimilarityQueries.quantizedCached(s, d)
    val probes = e.filter(col("vec_id") < SimilarityQueries.NQueries)
      .select(col("vec_id").as("q_id"), col("qe").as("q_qe"))
    // Exact top-k under the metric PQ approximates (full-vector squared
    // L2), NOT the cosine x09 ranks by — recall must be measured against
    // the ground truth of its own metric.
    val wEx = Window.partitionBy("q_id").orderBy(col("dd"), col("vec_id"))
    val exactK = e.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("dd", expr(sparkSq("q_qe", "qe")))
      .withColumn("rn", row_number().over(wEx))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("vec_id"))
    def hitsOf(approx: DataFrame, name: String): DataFrame =
      exactK.join(approx, Seq("q_id", "vec_id"))
        .groupBy("q_id").agg(count(lit(1)).as(name))
    // ONE ADC scan: both rankings derive from the persisted shortlist
    // (adc top-k is its rank ≤ K prefix; the re-rank re-scores its rows)
    val short = adcShortlist(s, d)
    val adcK = short.filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"))
    val rerK = rerankOf(s, d, short)
      .select(col("q_id"), col("neighbor_id").as("vec_id"))
    probes.select("q_id")
      .join(hitsOf(adcK, "ha"), Seq("q_id"), "left")
      .join(hitsOf(rerK, "hr"), Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("ha"), lit(0L)).as("n_hits_adc"),
        coalesce(col("hr"), lit(0L)).as("n_hits_rerank"))
      .withColumn("recall_adc",
        col("n_hits_adc").cast("double") / lit(k.toDouble))
      .withColumn("recall_rerank",
        col("n_hits_rerank").cast("double") / lit(k.toDouble))
      .orderBy("q_id")
  }

  def defs: Map[String, QueryDef] = Map(

    // ── PQ codebook training + encoding audit: per (sub, code) the
    // assigned-vector count and total squared quantization error — the
    // codebook-health numbers (dead codes, error concentration) a PQ
    // deployment alerts on. Training is the seeded integer Lloyd chain;
    // the stats reduce the map-only encode with one ≤ M·Ks-group
    // aggregation.
    "x81_pq_codebooks" -> QueryDef(
      pqCodebookStats,
      Some(codebookStatsSql),
      "product-quantization codebooks: per-code population + error"),

    // ── ADC top-k search over PQ codes: per probe, one M·Ks-entry
    // lookup table (distances from each probe subvector to every code),
    // then every corpus vector scores as M map lookups over its 32-bit
    // code — never touching the original vectors. The scan is one map
    // stage (codes + LUTs broadcast); only the final per-probe top-k
    // ranks. This is the x09-shape answer at 1/64th the bytes scanned.
    "x82_pq_adc_search" -> QueryDef(
      adcTopK,
      Some(adcSearchSql),
      "asymmetric-distance top-k over PQ codes (compressed-domain ANN)"),

    // ── The serve half of the PQ contract (the x12s discipline):
    // identical results to x82 — the oracle string IS x82's — but books
    // and codes are read from the persisted artifacts, so this row
    // measures what a compressed-domain search costs once training and
    // encoding are amortized: a broadcast LUT build over the tiny books
    // file plus one map scan of the 32-bit codes.
    "x82s_pq_serve" -> QueryDef(
      (s, d) => {
        SimilarityQueries.prepareServe(s, d)
        val root = SimilarityQueries.serveRoot(d)
        topKOf(adcRankedFrom(s, d,
          Tables.parquet(s, s"$root/pq/books"),
          Tables.parquet(s, s"$root/pq/codes")))
      },
      Some(adcSearchSql),
      "PQ serve path: ADC search from persisted books + codes"),

    // ── ADC shortlist → exact re-rank: the accuracy-recovery stage of a
    // compressed-domain deployment — only Rerank candidates per probe
    // touch their original vectors, so exact arithmetic stays
    // O(probes·Rerank) at any corpus size. Returns exact full-vector
    // squared L2 over the shortlist.
    "x84_pq_rerank" -> QueryDef(
      rerankTopK,
      Some(s"""
WITH ${SimilarityQueries.duckQuantizedCte},
$duckPqCtes,
$duckAdcCtes,
$duckRerankCtes
SELECT q_id, CAST(rn AS BIGINT) AS rank, vec_id AS neighbor_id, dist
FROM (SELECT *, row_number() OVER (PARTITION BY q_id
        ORDER BY dist ASC, vec_id) AS rn FROM rer)
WHERE rn <= ${SimilarityQueries.K} ORDER BY q_id, rank"""),
      "ADC shortlist re-ranked by exact L2 (compressed search + refine)"),

    // ── IVFADC: IVF bucket pruning + ADC over RESIDUAL codes — the
    // composed production ANN (see [[ivfpqSearch]]).
    "x85_ivfpq_search" -> QueryDef(
      ivfpqSearch,
      Some(ivfpqSql),
      "IVFADC: nprobe bucket pruning + ADC over residual PQ codes"),

    // ── The serve half of the IVFADC contract (the x12s/x82s
    // discipline): identical results to x85 — the oracle string IS
    // x85's — but centroids, residual books, and bucket-partitioned
    // residual codes all read from the persisted artifacts, so this
    // row measures what the composed production search costs once
    // training, assignment, and encoding are amortized: a map-only
    // probe routing + one broadcast-LUT scan of the probed buckets'
    // code files (directory-pruned by the bucket partitioning).
    "x85s_ivfpq_serve" -> QueryDef(
      (s, d) => {
        SimilarityQueries.prepareServe(s, d)
        val root = SimilarityQueries.serveRoot(d)
        ivfpqFrom(s, d,
          SimilarityQueries.centroidsFrom(s, s"$root/ivf"),
          Tables.parquet(s, s"$root/pqres/books"),
          s.read.parquet(s"$root/pqres/codes")
            .select(col("vec_id"), col("enc"),
              col("bucket").cast("bigint").as("bucket")))
      },
      Some(ivfpqSql),
      "IVFADC serve path: search from persisted centroids + residual codes"),

    // ── PQ recall audit (the x47 discipline for the compressed path):
    // ADC top-k AND re-ranked top-k vs the exact full-vector L2 top-k,
    // per probe — the pair of numbers that decides Ks/M/Rerank before a
    // corpus-wide rollout (raw ADC recall is intrinsically low on
    // near-uniform vectors; the audit shows how much the re-rank stage
    // recovers). All rankings break ties to the lowest vec_id so the
    // intersections are deterministic on both engines.
    "x83_pq_recall_audit" -> QueryDef(
      pqRecall,
      Some(s"""
WITH ${SimilarityQueries.duckQuantizedCte},
$duckPqCtes,
$duckAdcCtes,
$duckRerankCtes,
adck AS (
  SELECT q_id, vec_id
  FROM (SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
          ORDER BY adc_dist ASC, vec_id) AS rn FROM adc)
  WHERE rn <= ${SimilarityQueries.K}
),
rerk AS (
  SELECT q_id, vec_id
  FROM (SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
          ORDER BY dist ASC, vec_id) AS rn FROM rer)
  WHERE rn <= ${SimilarityQueries.K}
),
exactk AS (
  SELECT q_id, vec_id
  FROM (SELECT q.vec_id AS q_id, t.vec_id,
          row_number() OVER (PARTITION BY q.vec_id
            ORDER BY ${duckSq("q.qe", "t.qe")} ASC, t.vec_id) AS rn
        FROM e q JOIN e t ON t.vec_id != q.vec_id
        WHERE q.vec_id < ${SimilarityQueries.NQueries})
  WHERE rn <= ${SimilarityQueries.K}
),
hitsa AS (
  SELECT a.q_id, count(*) AS ha
  FROM adck a JOIN exactk x ON a.q_id = x.q_id AND a.vec_id = x.vec_id
  GROUP BY a.q_id
),
hitsr AS (
  SELECT r.q_id, count(*) AS hr
  FROM rerk r JOIN exactk x ON r.q_id = x.q_id AND r.vec_id = x.vec_id
  GROUP BY r.q_id
)
SELECT q.q_id,
  coalesce(a.ha, CAST(0 AS BIGINT)) AS n_hits_adc,
  coalesce(r.hr, CAST(0 AS BIGINT)) AS n_hits_rerank,
  CAST(coalesce(a.ha, CAST(0 AS BIGINT)) AS DOUBLE)
    / CAST(${SimilarityQueries.K} AS DOUBLE) AS recall_adc,
  CAST(coalesce(r.hr, CAST(0 AS BIGINT)) AS DOUBLE)
    / CAST(${SimilarityQueries.K} AS DOUBLE) AS recall_rerank
FROM (SELECT vec_id AS q_id FROM e
      WHERE vec_id < ${SimilarityQueries.NQueries}) q
LEFT JOIN hitsa a ON q.q_id = a.q_id
LEFT JOIN hitsr r ON q.q_id = r.q_id
ORDER BY q.q_id"""),
      "PQ recall@k (ADC and re-ranked) vs exact L2 ground truth"))
}
