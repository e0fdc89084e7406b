package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (64-dim float vectors):
  * brute-force cosine top-k as the exactness baseline, and an IVF-style
  * bucketed path as the 100 TB scale shape — assignment to the nearest of
  * K trained centroids turns the all-pairs scan into per-bucket work, and
  * the centroid table is broadcast so assignment is a map-only stage (no
  * shuffle of the big side).
  *
  * Vectors are quantized to integer milli-units on both engines before any
  * arithmetic: integer dot products are exact and associative, so the
  * Spark plan and the DuckDB oracle agree bit-for-bit — the same reason
  * production ANN systems ship int8-quantized vectors. (float32 sums
  * differ by engine association; `list_cosine_similarity` is float32 —
  * neither survives a hash-compare.)
  *
  * Centroids are trained with Lloyd's k-means (public algorithm), kept
  * deterministic end-to-end so the oracle can replay it exactly:
  *   - init: the `NCentroids` lowest `vec_id` vectors (seeded, no RNG);
  *   - assignment: max cosine, ties to the lowest centroid id — cosine is
  *     computed from exact int64 dot products via IEEE-exact cast, divide
  *     and sqrt (all correctly rounded, so both engines agree);
  *   - update: component-wise integer mean `sum div count` — int64 sums
  *     are associative (order-independent across partitions) and both
  *     engines truncate integer division toward zero.
  * Two Lloyd iterations; empty clusters drop out on both engines alike.
  * At scale each iteration is one map-only scoring pass over the corpus
  * (centroids broadcast) plus a (bucket, dim)-keyed aggregation whose
  * output is at most `NCentroids × dims` rows.
  */
object SimilarityQueries {

  private[graft] val sparkQuant =
    "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))"
  private val duckQuant =
    "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))"

  private[graft] val sparkNorm =
    "aggregate(qe, CAST(0 AS BIGINT), (acc, v) -> acc + v * v)"
  private val duckNorm =
    "CAST(list_sum(list_transform(qe, v -> v * v)) AS BIGINT)"

  /** Native codegen'd integer dot product ([[graft.functions.DotLong]]) —
    * bit-identical to the HOF spelling
    * `aggregate(zip_with(a, b, (x,y) -> x*y), 0L, (acc,v) -> acc+v)` but
    * stays inside whole-stage codegen (no per-row array allocation).
    */
  private def sparkDot(a: String, b: String): String =
    s"dot_long($a, $b)"
  private def duckDot(a: String, b: String): String =
    s"CAST(list_sum(list_transform(list_zip($a, $b), p -> p[1] * p[2])) AS BIGINT)"

  /** Quantized cosine with the ZERO-VECTOR GUARD, one spelling per
    * engine: cos(x, y) := 0 when either squared norm is 0. A 100 TB
    * corpus always contains dead rows from a failed encoder, and the
    * raw division is a cross-engine DIVERGENCE there — both operands
    * are DOUBLE, so the division follows IEEE (ANSI DIVIDE_BY_ZERO
    * applies only to integral/decimal division): Spark yields NaN
    * (0/0) which its filters drop and its sorts place LAST, while
    * DuckDB's comparable path yields NULL with different filter/sort
    * placement — a silent row-set mismatch, not a throw. Defining the
    * cosine as 0 puts zero vectors below every positive similarity
    * threshold (no near-dup pairs, no kNN edges) and routes bucket
    * assignment to the argmax tie-break (lowest centroid id) —
    * deterministic and identical on both engines
    * (`EdgeEmbeddingsSpec`). Every cosine in this module MUST go
    * through these two helpers.
    */
  private[operators] def sparkCos(av: String, an: String,
      bv: String, bn: String): String =
    s"""(CASE WHEN $an = 0 OR $bn = 0 THEN CAST(0.0d AS DOUBLE)
        ELSE CAST(${sparkDot(av, bv)} AS DOUBLE)
          / (sqrt(CAST($an AS DOUBLE)) * sqrt(CAST($bn AS DOUBLE)))
        END)""".replace('\n', ' ')
  private[operators] def duckCos(av: String, an: String,
      bv: String, bn: String): String =
    s"""(CASE WHEN $an = 0 OR $bn = 0 THEN CAST(0.0 AS DOUBLE)
        ELSE CAST(${duckDot(av, bv)} AS DOUBLE)
          / (sqrt(CAST($an AS DOUBLE)) * sqrt(CAST($bn AS DOUBLE)))
        END)""".replace('\n', ' ')

  private[operators] def quantized(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.ensureInstalled(s)
    Tables.embeddingsSpread(s, d)
      .withColumn("qe", expr(sparkQuant))
      .withColumn("qn", expr(sparkNorm))
  }

  /** Quantized corpus, persisted: k-means training scans it once per Lloyd
    * iteration and the final assignment once more — cache-once beats
    * re-reading and re-quantizing per pass (MEMORY_AND_DISK spills, never
    * OOMs; Verify/Bench clear caches between queries).
    */
  private[graft] def quantizedCached(s: SparkSession, d: String): DataFrame =
    quantized(s, d).transform(graft.Caches.scoped)

  private[operators] val duckQuantizedCte =
    s"""e AS (
  SELECT vec_id, label, qe, $duckNorm AS qn
  FROM (SELECT vec_id, label, $duckQuant AS qe FROM embeddings)
)"""

  private[operators] val NQueries = 8 // brute-force probe set
  private[operators] val K = 5        // neighbors returned
  private val NCentroids = 64
  private val NProbe = 4     // IVF buckets searched per query
  private val NearDupTau = 0.25

  /** Cap for the declared capped-twin query `x11c_neardup_bucketcap`
    * (the x06c/x08c analog on the embedding path): small enough to bite
    * on the driver data at every SF (average IVF bucket holds ~8-31
    * vectors), so the capped oracle checks a genuinely different result
    * than the exact x11.
    */
  private val TwinBucketCap = 4
  private val KmeansIters = 2
  private val Dims = 64      // embeddings.parquet vector length

  /** Seeded k-means init: the `C` lowest vec_ids (deterministic, the
    * classic "first k points" seeding), where the centroid budget
    * `C = max(NCentroids, ceil(sqrt(n)))` SCALES WITH THE CORPUS — the
    * r4-verdict bucket-growth fix. With a fixed C, mean bucket size is
    * n/C and the bucket-local pair joins (x11/x41/x63) grow as n²/C —
    * an unbounded quadratic at 100 TB. With C = ⌈√n⌉ the mean bucket
    * holds ~√n vectors and total pair work is ~n^1.5; combined with
    * [[cappedByBucket]] the per-key fan-out is hard-bounded. The budget
    * is a 1-row broadcast aggregate folded into the init filter (no
    * driver action) and the oracle computes the identical scalar
    * subquery, so training stays bit-replayable at every n. At the test
    * SFs (n ≤ 2000, ⌈√n⌉ ≤ 45 < 64) the floor wins and results are
    * byte-identical to the fixed-64 spelling. Per-row assignment cost
    * grows as C·d = √n·d; past ~1e8 vectors the documented next step is
    * two-level (coarse→fine) assignment, which reuses this same fold
    * per level.
    *
    * THE √n BROADCAST HAS A CEILING, AND THE ROUTERS FLIP AUTOMATICALLY
    * AT IT: the packed centroid row costs ~600 B/centroid (64 int64
    * components + id + norm), so at the advertised 10¹¹-vector scale
    * √n ≈ 3·10⁵ centroids is a ~200 MB broadcast built through a
    * driver-side collect — the same OOM-class risk the graph rounds
    * flip away from at [[GraphQueries.BroadcastNodeLimit]]. Past
    * [[BroadcastCentroidLimit]] centroids, [[assignedBuckets]] and
    * [[probeBuckets]] stop broadcasting and run the shuffle-shaped
    * spelling instead (cartesian fan-out over a PROJECTED key/vec/norm
    * frame + key-partitioned argmax/top-N — see [[nearestCentroidShuffle]]);
    * IvfFlipSpec pins both paths row-identical.
    */
  private[graft] def initCentroids(e: DataFrame): DataFrame = {
    val budget = e.agg(
      greatest(lit(NCentroids.toLong),
        ceil(sqrt(count(lit(1)).cast("double"))).cast("long")).as("nc"))
    e.crossJoin(broadcast(budget))
      .filter(col("vec_id") < col("nc"))
      .select(col("vec_id").as("c_id"), col("qe").as("c_qe"),
        col("qn").as("c_qn"))
  }

  /** Per-bucket participation cap for the bucket-local pair joins — the
    * embedding-side twin of [[DedupQueries]]' `bandCap`/`dfCap` skew
    * levers (the knob the r4 verdict flagged as missing). A bucket
    * holding more than `cap` vectors fans out quadratically inside the
    * self-join; capped, only the `cap` lowest-`vec_id` vectors of each
    * bucket participate in pair generation, bounding any key's fan-out
    * to cap². This is a DOCUMENTED SEMANTICS CHANGE, not an
    * optimization: capped-out vectors stop appearing in near-dup pairs
    * / kNN edges (they fall back to singleton clusters and zero-degree
    * vertices — the conservative "keep, don't dedup" outcome a corpus
    * pipeline wants for overflow). The default `None` is the exact join
    * the oracle replays. Deterministic: rank is by `vec_id` within
    * bucket, so the surviving set is stable across runs and engines.
    */
  private[graft] def cappedByBucket(assigned: DataFrame,
      cap: Option[Int]): DataFrame =
    cap.fold(assigned) { c =>
      assigned.withColumn("__brank", row_number().over(
          Window.partitionBy("bucket").orderBy("vec_id")))
        .filter(col("__brank") <= c)
        .drop("__brank")
    }

  /** Exact brute-force top-K over a quantized corpus (the declared
    * `x09_ann_bruteforce`, shared as the ground truth by the SRP recall
    * audit `x90_srp_recall`): broadcast the ≤ NQueries probe rows, score
    * map-side, window top-k. The exactness baseline every approximate
    * path (IVF, PQ, SRP) is audited against.
    */
  private[operators] def bruteTopK(e: DataFrame): DataFrame = {
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("qe").as("q_qe"),
        col("qn").as("q_qn"))
    val w = Window.partitionBy("q_id")
      .orderBy(desc("cos"), col("vec_id"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", expr(sparkCos("q_qe", "q_qn", "qe", "qn")))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cos"))
      .orderBy("q_id", "rank")
  }

  /** Centroid count above which the consumer-facing routers
    * ([[assignedBuckets]], [[probeBuckets]]) stop broadcasting the
    * packed centroid table and flip to the shuffle spelling — the
    * [[GraphQueries.BroadcastNodeLimit]] discipline applied to the IVF
    * router. At ~600 B per packed centroid (64 int64 components + id +
    * norm + array overhead), 131072 centroids ≈ 80 MB of single-row
    * broadcast state assembled through a driver collect; past that the
    * broadcast is the memory risk, while the shuffle path's cost is two
    * row-key-partitioned exchanges that scale out. Under the √n budget
    * this bound corresponds to a ~1.7·10¹⁰-vector corpus; beyond it the
    * per-row O(√n·d) scoring itself dominates and the documented next
    * step is two-level coarse→fine routing (see [[initCentroids]]).
    * Both paths compute identical rows (IvfFlipSpec pins this); the
    * flip probe costs at most one count() of the (persisted) centroid
    * table per query chain — memoized per table instance
    * ([[centroidCount]]), and on the serve paths not even that: the
    * count persists into the index manifest at build time and
    * [[centroidsFrom]] seeds the memo from it, so constructing a serve
    * plan runs ZERO jobs (IvfIndexSpec pins the job count). Training
    * iterations ([[assignNearest]]) keep the broadcast fold: their
    * interim centroid frames are unpersisted plan fragments a count()
    * would double-evaluate, and past this bound a corpus retrains via
    * sampled/two-level training long before Lloyd-over-everything is
    * the plan.
    */
  private[graft] val BroadcastCentroidLimit = 131072L

  /** Per-instance memo for the router flip probes: one query chain
    * passes the SAME persisted centroid frame to [[assignedBuckets]]
    * and [[probeBuckets]], so the second probe must not re-run the
    * count job. Weak keys (Dataset equality is reference equality), so
    * entries die with their frames.
    */
  private val centCounts = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[DataFrame, java.lang.Long]())

  private def centroidCount(cent: DataFrame): Long = {
    val cached = centCounts.get(cent)
    if (cached != null) cached.longValue
    else { val n = cent.count(); centCounts.put(cent, n); n }
  }

  /** Manifest file carrying the centroid count next to the persisted
    * centroid table, written by [[buildIndex]] and read by
    * [[centroidsFrom]] — the serve paths' routers decide the
    * broadcast/shuffle flip from it without any Spark action.
    */
  private def countManifest(indexPath: String) =
    java.nio.file.Paths.get(s"$indexPath/centroid_count.txt")

  /** Read a persisted centroid table, seeding the flip-probe memo from
    * the build-time manifest when present (absent on pre-v10 roots —
    * the router then falls back to one memoized count()).
    */
  private[operators] def centroidsFrom(s: SparkSession,
      indexPath: String): DataFrame = {
    val cent = Tables.parquet(s, s"$indexPath/centroids")
    val mf = countManifest(indexPath)
    if (java.nio.file.Files.exists(mf))
      centCounts.put(cent,
        java.lang.Long.valueOf(
          java.nio.file.Files.readString(mf).trim.toLong))
    cent
  }

  /** The whole centroid table packed into ONE broadcast row
    * (`collect_list` of ≤ NCentroids structs) — the shape every
    * assignment/probe pass folds over so scoring is a pure map stage.
    */
  private def packedCentroids(cent: DataFrame): DataFrame =
    cent.agg(
      collect_list(struct(col("c_id"), col("c_qe"), col("c_qn")))
        .as("cents"))

  /** Nearest-centroid scoring shared by training, bucket assignment and
    * probe routing: broadcast the packed centroid row and fold each
    * vector over it with an argmax HOF — a pure map stage, ZERO shuffle
    * of the corpus (no crossJoin fan-out, no window sort; the r4-verdict
    * respell of the old `row_number`-over-fan-out spelling). The fold
    * computes the exact cosine the oracle orders by and breaks ties to
    * the lowest c_id, so the result is independent of the packed list's
    * order and identical to the oracle's
    * `row_number() OVER (ORDER BY ccos DESC, c_id)` pick.
    *
    * `vec` / `nrm` name the input's quantized-vector / squared-norm
    * columns. Adds `best STRUCT<id BIGINT, cos DOUBLE>`.
    */
  private def nearestCentroid(e: DataFrame, cent: DataFrame,
      vec: String = "qe", nrm: String = "qn"): DataFrame =
    e.crossJoin(broadcast(packedCentroids(cent)))
      .withColumn("best", expr(s"""
        aggregate(
          transform(cents, c -> named_struct('id', c.c_id, 'cos',
            ${sparkCos("c.c_qe", "c.c_qn", vec, nrm)})),
          named_struct('id', CAST(-1 AS BIGINT),
            'cos', CAST('-Infinity' AS DOUBLE)),
          (acc, x) -> CASE WHEN x.cos > acc.cos
                            OR (x.cos = acc.cos AND x.id < acc.id)
                           THEN x ELSE acc END)"""))
      .drop("cents")

  /** The shuffle-shaped twin of [[nearestCentroid]] for past-the-limit
    * centroid tables (see [[BroadcastCentroidLimit]]): fan out a
    * PROJECTED (key, vec, norm) frame against the un-broadcast centroid
    * table (cartesian — no 80 MB+ driver-assembled packed row), argmax
    * per key with `max(struct(cos, −c_id, c_id))` — which partially
    * aggregates map-side, so the exchange carries at most one row per
    * (key, input partition) — then one key-partitioned join back to the
    * full input row. Tie semantics are identical to the fold: equal
    * cosines fall through to the highest −c_id = lowest c_id, and the
    * zero-norm guard in [[sparkCos]] means no NaN can enter the struct
    * ordering. Adds the same `best STRUCT<id, cos>` column.
    */
  private def nearestCentroidShuffle(e: DataFrame, cent: DataFrame,
      vec: String, nrm: String, key: String): DataFrame = {
    val best = e.select(col(key), col(vec).as("__v"), col(nrm).as("__n"))
      .crossJoin(cent)
      .select(col(key),
        expr(sparkCos("c_qe", "c_qn", "__v", "__n")).as("cos"),
        col("c_id"))
      .groupBy(key)
      .agg(max(struct(col("cos"), (-col("c_id")).as("neg"),
        col("c_id").as("id"))).as("mx"))
      .select(col(key),
        struct(col("mx.id").as("id"), col("mx.cos").as("cos")).as("best"))
    e.join(best, key)
  }

  /** One nearest-centroid assignment pass (training-time spelling). */
  private def assignNearest(e: DataFrame, cent: DataFrame): DataFrame =
    nearestCentroid(e, cent)
      .select(col("vec_id"), col("qe"), col("best.id").as("bucket"))

  /** Lloyd iterations in exact integer arithmetic. Each iteration is the
    * map-only assignment above plus ONE partially-aggregated shuffle:
    * `reduceGroups` folds (vector-sum, count) pairs per bucket map-side,
    * so the wire carries at most NCentroids rows per input partition no
    * matter the corpus size. Sums are int64 (associative — fold order
    * can't change them) and the mean is truncating long division, same as
    * the oracle's `//`. The trained table is persisted: consumers
    * broadcast it more than once (bucket assignment + probe routing).
    */
  private[graft] def trainedCentroids(e: DataFrame): DataFrame =
    lloydOver(e, initCentroids(e)).transform(graft.Caches.scoped)

  /** The Lloyd fold over ANY (vec_id, qe, qn) frame and ANY seeded init
    * — factored so the fine trainer ([[trainedCentroids]]) and the
    * two-level COARSE trainer (x99 — Lloyd over the fine centroid
    * table) share one spelling.
    *
    * The update is a plain `groupBy(bucket)` over the native
    * element-wise [[graft.functions.VecSumLong]] aggregate + a count:
    * identical integer sums and the same truncating mean as the
    * pre-r13 typed `groupByKey/reduceGroups` fold (and dimension-
    * agnostic like it), but without the per-row Catalyst↔JVM array
    * encode/decode the typed path pays (guide §4: built-in-style
    * aggregation in the hot path). Long `/`, Spark `div` and DuckDB
    * `//` all truncate toward zero (probed), so the walked codebooks
    * are bit-identical.
    */
  private[graft] def lloydOver(e: DataFrame, init: DataFrame): DataFrame = {
    graft.GraftExtensions.ensureInstalled(e.sparkSession)
    (1 to KmeansIters).foldLeft(init) { (cent, _) =>
      assignNearest(e, cent)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("__n"), expr("vec_sum_long(qe)").as("__sv"))
        .select(col("bucket").as("c_id"),
          expr("transform(__sv, v -> v div __n)").as("c_qe"))
        .withColumn("c_qn", expr(
          "aggregate(c_qe, CAST(0 AS BIGINT), (acc, v) -> acc + v * v)"))
    }
  }

  /** The same Lloyd chain as [[trainedCentroids]] in DuckDB SQL: CTEs
    * `c0 → (a1, s1, c1) → (a2, s2, c2)`, with the final centroid table
    * aliased `c`. Exact integer sums + trunc division keep both engines
    * bit-identical.
    */
  private[operators] def duckKmeansCtes: String = {
    def cosDesc(c: String, v: String, cn: String, vn: String) =
      s"${duckCos(c, cn, v, vn)} DESC"
    // same √n centroid budget as [[initCentroids]], as a scalar subquery
    val init =
      s"""c0 AS (SELECT vec_id AS c_id, qe AS c_qe, qn AS c_qn FROM e
      WHERE vec_id < (SELECT greatest($NCentroids,
        CAST(ceil(sqrt(count(*))) AS BIGINT)) FROM e))"""
    val iters = (1 to KmeansIters).map { i =>
      s"""a$i AS (
  SELECT vec_id, qe, c_id AS bucket
  FROM (SELECT e.vec_id, e.qe, c.c_id,
          row_number() OVER (PARTITION BY e.vec_id ORDER BY
            ${cosDesc("c.c_qe", "e.qe", "c.c_qn", "e.qn")}, c.c_id) AS rn
        FROM e CROSS JOIN c${i - 1} c)
  WHERE rn = 1
),
s$i AS (
  SELECT bucket, pos, CAST(sum(qe[pos]) AS BIGINT) AS sv, count(*) AS cnt
  FROM a$i CROSS JOIN (SELECT unnest(generate_series(1, $Dims)) AS pos) pp
  GROUP BY bucket, pos
),
c$i AS (
  SELECT c_id, c_qe,
    CAST(list_sum(list_transform(c_qe, v -> v * v)) AS BIGINT) AS c_qn
  FROM (SELECT bucket AS c_id, list(sv // cnt ORDER BY pos) AS c_qe
        FROM s$i GROUP BY bucket)
)"""
    }
    (init +: iters).mkString(",\n") +
      s",\nc AS (SELECT * FROM c$KmeansIters)"
  }

  /** DuckDB `scored`/`assigned` CTEs in lockstep with [[assignedBuckets]]
    * (shared by x11 and x41 so the bucket-assignment spelling cannot
    * drift between them).
    */
  private[operators] def duckAssignedCtes: String = s"""scored AS (
  SELECT e.vec_id, e.qe, e.qn, c.c_id,
    ${duckCos("c.c_qe", "c.c_qn", "e.qe", "e.qn")} AS ccos
  FROM e CROSS JOIN c
),
assigned AS (
  SELECT vec_id, qe, qn, c_id AS bucket
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
          ORDER BY ccos DESC, c_id) AS rn FROM scored)
  WHERE rn = 1
)"""

  /** Rounds of the x41 cluster unroll — same bound as x14's CcRounds:
    * components live inside one IVF bucket, so pointer jumping covers any
    * in-bucket chain well within 12 rounds; the Spark side early-stops at
    * the fixpoint and the cap only bounds the oracle's unroll length.
    */
  private val EmbCcRounds = 12

  /** x41's cluster assignment (vec_id → cluster_id), factored out so the
    * purity audit (x64) recomposes the SAME clusters — one spelling, no
    * drift between the dedup query and its QC twin.
    *
    * Shape: bucket-local near-dup pairs (the x11 join) solved by
    * HIERARCHICAL connected components — every candidate edge lives
    * inside one IVF bucket by construction (the pair join's equality on
    * `bucket`), so each bucket's component structure is independent and
    * one `collect_list` aggregation + the `local_components` union-find
    * expression labels it in a single key-partitioned shuffle. This
    * replaces the global BSP loop (4-5 rounds of join + checkpoint +
    * convergence probe at sf0.1) that [[Components]] still runs for
    * graphs whose edges DO cross partition keys (x14's LSH band graph).
    * Per-bucket work is bounded by the √n centroid budget and the
    * `bucketCap` lever, so the local solve never sees a
    * corpus-proportional edge list. The oracle keeps the unrolled
    * pointer-jumping SQL — both compute the same fixpoint (min
    * reachable vec_id per component).
    */
  private def embClusterAssignment(s: SparkSession, d: String,
      bucketCap: Option[Int] = None): DataFrame = {
    val e = quantizedCached(s, d)
    embClustersOf(s, d,
      assignedBuckets(e, trainedCentroids(e))
        .select(col("vec_id"), col("qe"), col("qn"), col("bucket")),
      bucketCap)
  }

  /** The x41 cluster derivation over an ALREADY-ASSIGNED frame —
    * factored so composite queries that independently need the IVF
    * assignment (x86's silhouette membership, x96's candidate scan)
    * derive clusters from the SAME trained/assigned substrate instead
    * of re-running quantize + Lloyd + assignment a second time inside
    * one query (guide §1.2: the r13 profile showed the double
    * derivation costing x86/x96 roughly half their wall). Identical
    * rows by determinism of the shared spelling — the oracle replays
    * one derivation either way.
    */
  private def embClustersOf(s: SparkSession, d: String,
      full: DataFrame, bucketCap: Option[Int]): DataFrame = {
    // capped-out vectors generate no pairs → they fall through the final
    // left join as singleton clusters (the documented cap contract)
    val assigned = cappedByBucket(full, bucketCap)
    val comp = assigned.as("a").join(assigned.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .filter(expr(sparkCos("a.qe", "a.qn", "b.qe", "b.qn")) >= NearDupTau)
      .groupBy(col("a.bucket"))
      .agg(collect_list(struct(col("a.vec_id"), col("b.vec_id")))
        .as("es"))
      .select(explode(expr("local_components(es)")).as("ic"))
      .select(col("ic.id").as("vec_id"), col("ic.comp").as("cluster_id"))
    Tables.embeddings(s, d).select(col("vec_id"))
      .join(comp, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("cluster_id"), col("vec_id")).as("cluster_id"))
  }

  /** DuckDB CTE chain ending in `clusters(vec_id, cluster_id)` — the
    * oracle-side twin of [[embClusterAssignment]], shared by x41 and
    * x64. Round CTEs are lv-/pr-prefixed: the kmeans CTE chain already
    * owns s1..sN for its per-iteration sums.
    */
  private def duckEmbClusterCtes: String = {
    val rounds = (1 to EmbCcRounds).map { i =>
      s"""pr$i AS MATERIALIZED (
  SELECT v.vec_id, least(v.label, coalesce(m.nl, v.label)) AS label
  FROM lv${i - 1} v LEFT JOIN (
    SELECT s.src, min(l.label) AS nl
    FROM sym s JOIN lv${i - 1} l ON s.dst = l.vec_id GROUP BY s.src) m
  ON v.vec_id = m.src
),
lv$i AS MATERIALIZED (
  SELECT p.vec_id, q.label FROM pr$i p JOIN pr$i q ON p.label = q.vec_id
)"""
    }.mkString(",\n")
    s"""$duckQuantizedCte,
$duckKmeansCtes,
$duckAssignedCtes,
cand AS MATERIALIZED (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM assigned a JOIN assigned b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE ${duckCos("a.qe", "a.qn", "b.qe", "b.qn")} >= $NearDupTau
),
sym AS MATERIALIZED (
  SELECT vec_a AS src, vec_b AS dst FROM cand
  UNION ALL SELECT vec_b, vec_a FROM cand
),
lv0 AS (SELECT vec_id, vec_id AS label FROM embeddings),
$rounds,
clusters AS (SELECT vec_id, label AS cluster_id FROM lv$EmbCcRounds)"""
  }

  /** Bucket-local silhouette QC for the x41 semantic-dedup clusters
    * (the declared `x86_cluster_silhouette`) — the standard "are these
    * clusters tight and separated?" statistic, restated exactly:
    * a(i) = mean squared-L2 distance to i's own cluster, b(i) = min
    * over OTHER clusters in i's IVF bucket of the mean distance to
    * that cluster, s(i) = (b−a)/max(a,b).
    *
    * Bucket-local by design, not approximation-by-accident: x41
    * clusters are bucket-contained (pairs never cross buckets), so
    * a(i) is the textbook value, and restricting b(i) to same-bucket
    * clusters measures separation from the clusters i could actually
    * have merged with — distance to a far-away bucket's cluster
    * saturates the statistic toward 1 while costing a full quadratic
    * corpus scan. Per-bucket pair work is bounded by the √n centroid
    * budget, the same envelope as the x11/x41/x63 joins.
    *
    * Exactness: distances are int64 squared L2 ([[PqQueries.sparkSq]]);
    * each mean becomes ONE truncating integer division in micro-units
    * (both operands non-negative, so Spark `div` and DuckDB `//`
    * agree); the min over clusters compares those exact integers; the
    * final s(i) is a single IEEE division of exact integers —
    * bit-identical cross-engine. Conventions (both engines, both
    * spellings): s(i) = 0 for singleton clusters (a undefined), for
    * vectors whose bucket holds no other cluster (b undefined), and
    * when a = b = 0 (co-located duplicates).
    *
    * Public so callers can pass the `bucketCap` skew lever
    * ([[cappedByBucket]], same contract as [[knnHubness]]): the pair
    * join runs over the capped set, while the final join runs over the
    * FULL membership — capped-out vectors surface with the s(i) = 0
    * convention (a and b both undefined) rather than vanishing from
    * the QC report. Default `None` is the exact join the oracle
    * replays.
    */
  def clusterSilhouette(s: SparkSession, d: String,
      bucketCap: Option[Int] = None): DataFrame = {
    val e = quantizedCached(s, d)
    // ONE train + ONE assignment feed both the membership frame and the
    // cluster derivation (pre-r13 this called embClusterAssignment,
    // which re-ran quantize + Lloyd + assign — a second copy of the
    // whole substrate inside the same query)
    val full = assignedBuckets(e, trainedCentroids(e))
      .select(col("vec_id"), col("qe"), col("qn"), col("bucket"))
    silhouetteOf(
      full.select(col("vec_id"), col("qe"), col("bucket"))
        .join(embClustersOf(s, d, full, None), "vec_id"),
      bucketCap)
  }

  /** The silhouette reduction over any (vec_id, qe, bucket, cluster_id)
    * membership frame — factored so the declared x86 and the
    * persisted-artifact serve path ([[silhouetteFrom]]) share ONE
    * spelling, the [[purityOf]] discipline.
    */
  private def silhouetteOf(memIn: DataFrame,
      bucketCap: Option[Int]): DataFrame = {
    val memFull = memIn
      .transform(graft.Caches.scoped)
    val mem = cappedByBucket(memFull, bucketCap)
    val pairs = mem.as("a").join(mem.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("i"),
        col("a.cluster_id").as("ci"), col("b.cluster_id").as("cj"),
        expr(PqQueries.sparkSq("a.qe", "b.qe")).as("dd"))
      .transform(graft.Caches.scoped)
    val intra = pairs.filter(col("ci") === col("cj"))
      .groupBy(col("i").as("iv"))
      .agg(expr("(sum(dd) * CAST(1000000 AS BIGINT)) div count(1)")
        .as("qa"))
    val inter = pairs.filter(col("ci") =!= col("cj"))
      .groupBy(col("i"), col("cj"))
      .agg(expr("(sum(dd) * CAST(1000000 AS BIGINT)) div count(1)")
        .as("qbc"))
      .groupBy(col("i").as("iv"))
      .agg(min(col("qbc")).as("qb"))
    memFull.select(col("vec_id"), col("cluster_id"))
      .join(intra, col("vec_id") === intra("iv"), "left").drop("iv")
      .join(inter, col("vec_id") === inter("iv"), "left").drop("iv")
      .select(col("vec_id"), col("cluster_id"),
        col("qa").as("a_micro"), col("qb").as("b_micro"),
        expr("""CASE WHEN qa IS NULL OR qb IS NULL
                      OR greatest(qa, qb) = 0 THEN CAST(0.0d AS DOUBLE)
                ELSE CAST(qb - qa AS DOUBLE)
                  / CAST(greatest(qa, qb) AS DOUBLE) END"""
          .replace('\n', ' ')).as("silhouette"))
      .orderBy("vec_id")
  }

  /** Bucket-local embedding near-dup pairs (the declared
    * `x11_embed_neardup`), public so callers can pass the `bucketCap`
    * skew lever ([[cappedByBucket]] — the x08 `dfCap` twin for the
    * embedding path). Default `None` is the exact bucket join the
    * oracle replays.
    */
  def embedNearDup(s: SparkSession, d: String,
      bucketCap: Option[Int] = None): DataFrame = {
    val e = quantizedCached(s, d)
    val assigned = cappedByBucket(
      assignedBuckets(e, trainedCentroids(e))
        .select(col("vec_id"), col("qe"), col("qn"), col("bucket")),
      bucketCap)
    assigned.as("a").join(assigned.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", expr(sparkCos("a.qe", "a.qn", "b.qe", "b.qn")))
      .filter(col("cos") >= NearDupTau)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("cos"))
      .orderBy("vec_a", "vec_b")
  }

  /** Corpus → nearest-centroid bucket assignment (the IVF partitioning
    * step): below [[BroadcastCentroidLimit]] centroids, broadcast packed
    * centroids + map-only argmax fold ([[nearestCentroid]]) — no
    * fan-out, no window shuffle; past it, the automatic flip to
    * [[nearestCentroidShuffle]] (row-identical, IvfFlipSpec). Persisted
    * because every consumer (x10 stats, x11 self-join, x12 search) reads
    * it more than once.
    */
  private[operators] def assignedBuckets(e: DataFrame, cent: DataFrame): DataFrame =
    assignedBuckets(e, cent, BroadcastCentroidLimit)

  private[graft] def assignedBuckets(e: DataFrame, cent: DataFrame,
      flipAt: Long): DataFrame = {
    val scored =
      if (centroidCount(cent) < flipAt) nearestCentroid(e, cent)
      else nearestCentroidShuffle(e, cent, "qe", "qn", "vec_id")
    scored
      .select(col("vec_id"), col("qe"), col("qn"),
        col("best.id").as("bucket"), col("best.cos").as("centroid_cos"))
      .transform(graft.Caches.scoped)
  }

  /** Probe routing — the same map-only shape as [[nearestCentroid]],
    * widened to top-NProbe: score the packed centroid array, sort the
    * ≤ NCentroids scored structs per probe row (same (cos DESC, id)
    * total order as the oracle's window), keep NProbe, explode. No
    * fan-out rows ever exist, so routing costs O(C log C) per probe
    * with zero shuffle — the serve path stays map-only however many
    * probes arrive. Shared by [[nprobeTopK]] and the IVFADC composite
    * (`x85_ivfpq_search`). Yields (q_id, q_qe, q_qn, bucket).
    *
    * Past [[BroadcastCentroidLimit]] centroids the packed row itself is
    * the problem, and routing flips to the fan-out + per-probe window
    * spelling (one q_id-keyed shuffle; identical total order, so
    * identical buckets — IvfFlipSpec).
    */
  private[operators] def probeBuckets(probes: DataFrame,
      cent: DataFrame): DataFrame =
    probeBuckets(probes, cent, BroadcastCentroidLimit)

  private[graft] def probeBuckets(probes: DataFrame, cent: DataFrame,
      flipAt: Long): DataFrame =
    if (centroidCount(cent) < flipAt)
      probes
        .crossJoin(broadcast(packedCentroids(cent)))
        .withColumn("topb", expr(s"""
          slice(array_sort(
            transform(cents, c -> named_struct('id', c.c_id, 'cos',
              ${sparkCos("c.c_qe", "c.c_qn", "q_qe", "q_qn")})),
            (l, r) -> CASE WHEN l.cos > r.cos THEN -1
                           WHEN l.cos < r.cos THEN 1
                           WHEN l.id < r.id THEN -1
                           WHEN l.id > r.id THEN 1 ELSE 0 END),
            1, $NProbe)"""))
        .select(col("q_id"), col("q_qe"), col("q_qn"),
          explode(expr("transform(topb, t -> t.id)")).as("bucket"))
    else
      probes
        .crossJoin(cent)
        .withColumn("cos",
          expr(sparkCos("c_qe", "c_qn", "q_qe", "q_qn")))
        .withColumn("__rn", row_number().over(
          Window.partitionBy("q_id").orderBy(desc("cos"), col("c_id"))))
        .filter(col("__rn") <= NProbe)
        .select(col("q_id"), col("q_qe"), col("q_qn"),
          col("c_id").as("bucket"))

  /** The probe-routing CTE (`name(q_id, q_qe, q_qn, bucket)`) in DuckDB
    * SQL — the oracle twin of [[probeBuckets]], shared by the x12
    * oracle and x85's.
    */
  private[operators] def duckProbeCte(name: String): String = s"""$name AS (
  SELECT q_id, q_qe, q_qn, c_id AS bucket
  FROM (SELECT p.vec_id AS q_id, p.qe AS q_qe, p.qn AS q_qn, c.c_id,
          row_number() OVER (PARTITION BY p.vec_id ORDER BY
            ${duckCos("c.c_qe", "c.c_qn", "p.qe", "p.qn")}
            DESC, c.c_id) AS rn
        FROM e p CROSS JOIN c WHERE p.vec_id < $NQueries)
  WHERE rn <= $NProbe
)"""

  /** Coarse-router knobs for the two-level routing row (x99): the
    * coarse layer holds `max(CoarseFloor, ceil(√C))` centroids trained
    * over the C fine centroids (the √ discipline applied one level up),
    * and a probe expands its top [[CoarseProbe]] coarse groups before
    * the fine argmax. At the documented flip bound (C past
    * [[BroadcastCentroidLimit]]) this turns per-probe routing cost from
    * O(C) into O(√C · CoarseProbe + C/√C · CoarseProbe) with only the
    * √C-row coarse table broadcast — the next step the flip docs
    * promise, implemented and oracle-pinned rather than cited.
    */
  private val CoarseFloor = 4L
  private val CoarseProbe = 2

  /** Two-level coarse→fine probe routing with the flat-router agreement
    * audit built in: returns (q_id, bucket, in_flat) — every fine
    * bucket the two-level router selects, flagged 1 when the flat
    * (score-all-C) router also picked it. Routing is approximate BY
    * DESIGN (a fine centroid whose coarse group the probe skips is
    * invisible), so the agreement column IS the recall audit — the x90
    * discipline applied to the router instead of the index.
    */
  private def twoLevelRoute(s: SparkSession, d: String): DataFrame = {
    val fine = trainedCentroids(quantizedCached(s, d))
    twoLevelRouteOver(s, d, fine,
      trainCoarse(fine).transform(graft.Caches.scoped))
  }

  /** The x99s serve spelling: BOTH layers from the persisted index —
    * fine centroids from the manifest-seeded artifact, coarse groups
    * from the `coarse/centroids` artifact built beside them by
    * [[prepareServe]] — zero training jobs, zero count() jobs
    * (IvfIndexSpec pins the job count at plan construction). Staleness
    * is bounded by co-residence: the coarse layer lives in the SAME
    * versioned root as the fine layer it was trained over, so a data
    * refresh or builder-version bump invalidates both together and the
    * router can never pair a stale coarse layer with a fresh fine one
    * (the x88 append-audit pattern covers post-build appends: appended
    * vectors route through the frozen layers and the audit row prices
    * the drift).
    */
  private def twoLevelRouteServe(s: SparkSession, d: String): DataFrame = {
    prepareServe(s, d)
    twoLevelRouteOver(s, d, centroidsFrom(s, s"${serveRoot(d)}/ivf"),
      Tables.parquet(s, s"${serveRoot(d)}/coarse/centroids"))
  }

  /** Train the coarse router layer: Lloyd over the fine centroid table,
    * seeded from the K2 lowest fine ids (fine ids are sparse —
    * surviving Lloyd buckets — so rank, don't threshold). The global
    * window sorts ≤ C = √n rows once; acceptable at any corpus size.
    * Shared by the declared x99 (trains per run — it PRICES the build)
    * and [[prepareServe]] (trains once per data version for the serve
    * row). Deterministic in the fine table alone, so build-time and
    * per-run training yield identical groups and the serve row keeps
    * the declared oracle.
    */
  private[operators] def trainCoarse(fine: DataFrame): DataFrame = {
    val fe = fine.select(col("c_id").as("vec_id"), col("c_qe").as("qe"),
      col("c_qn").as("qn"))
    val k2 = fe.agg(greatest(lit(CoarseFloor),
      ceil(sqrt(count(lit(1)).cast("double"))).cast("long")).as("k2"))
    val init = fe.crossJoin(broadcast(k2))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("vec_id")))
      .filter(col("rn") <= col("k2"))
      .select(col("vec_id").as("c_id"), col("qe").as("c_qe"),
        col("qn").as("c_qn"))
    lloydOver(fe, init)
  }

  private def twoLevelRouteOver(s: SparkSession, d: String,
      fine: DataFrame, coarse: DataFrame): DataFrame = {
    val e = quantizedCached(s, d)
    val fe = fine.select(col("c_id").as("vec_id"), col("c_qe").as("qe"),
      col("c_qn").as("qn"))
    // fine centroid → coarse group (map-only argmax fold)
    val fa = nearestCentroid(fe, coarse)
      .select(col("vec_id").as("c_id"), col("qe").as("c_qe"),
        col("qn").as("c_qn"), col("best.id").as("cb"))
    val probes = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("qe").as("q_qe"),
        col("qn").as("q_qn"))
    // probe → top-CoarseProbe coarse groups (the probeBuckets fold,
    // width CoarseProbe over the √C-row packed coarse table)
    val ctop = probes
      .crossJoin(broadcast(packedCentroids(coarse)))
      .withColumn("topb", expr(s"""
        slice(array_sort(
          transform(cents, c -> named_struct('id', c.c_id, 'cos',
            ${sparkCos("c.c_qe", "c.c_qn", "q_qe", "q_qn")})),
          (l, r) -> CASE WHEN l.cos > r.cos THEN -1
                         WHEN l.cos < r.cos THEN 1
                         WHEN l.id < r.id THEN -1
                         WHEN l.id > r.id THEN 1 ELSE 0 END),
          1, $CoarseProbe)"""))
      .select(col("q_id"), col("q_qe"), col("q_qn"),
        explode(expr("transform(topb, t -> t.id)")).as("cb"))
    // fine argmax restricted to the selected coarse groups
    val routed = ctop.join(fa, "cb")
      .withColumn("cos", expr(sparkCos("c_qe", "c_qn", "q_qe", "q_qn")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cos"), col("c_id"))))
      .filter(col("rn") <= NProbe)
      .select(col("q_id"), col("c_id").as("bucket"))
    val flat = probeBuckets(probes, fine)
      .select(col("q_id"), col("bucket")).distinct()
      .withColumn("in_flat", lit(1L))
    routed.join(flat, Seq("q_id", "bucket"), "left")
      .select(col("q_id"), col("bucket"),
        coalesce(col("in_flat"), lit(0L)).as("in_flat"))
      .orderBy("q_id", "bucket")
  }

  /** The x99 oracle: the coarse Lloyd chain (kc0→kc) over the fine
    * centroid table, the same two-level route, and the flat router's
    * rows joined back as the agreement flag.
    */
  private lazy val x99Oracle: String = {
    val coarseIters = (1 to KmeansIters).map { i =>
      s"""ka$i AS (
  SELECT vec_id, qe, c_id AS bucket
  FROM (SELECT fe.vec_id, fe.qe, k.c_id,
          row_number() OVER (PARTITION BY fe.vec_id ORDER BY
            ${duckCos("k.c_qe", "k.c_qn", "fe.qe", "fe.qn")} DESC,
            k.c_id) AS rn
        FROM fe CROSS JOIN kc${i - 1} k)
  WHERE rn = 1
),
ks$i AS (
  SELECT bucket, pos, CAST(sum(qe[pos]) AS BIGINT) AS sv, count(*) AS cnt
  FROM ka$i CROSS JOIN (SELECT unnest(generate_series(1, $Dims)) AS pos) pp
  GROUP BY bucket, pos
),
kc$i AS (
  SELECT c_id, c_qe,
    CAST(list_sum(list_transform(c_qe, v -> v * v)) AS BIGINT) AS c_qn
  FROM (SELECT bucket AS c_id, list(sv // cnt ORDER BY pos) AS c_qe
        FROM ks$i GROUP BY bucket)
)"""
    }.mkString(",\n")
    s"""
WITH $duckQuantizedCte,
$duckKmeansCtes,
fe AS (SELECT c_id AS vec_id, c_qe AS qe, c_qn AS qn FROM c),
kc0 AS (
  SELECT vec_id AS c_id, qe AS c_qe, qn AS c_qn FROM (
    SELECT fe.*, row_number() OVER (ORDER BY vec_id) AS rn,
      (SELECT greatest($CoarseFloor,
         CAST(ceil(sqrt(count(*))) AS BIGINT)) FROM fe) AS k2
    FROM fe)
  WHERE rn <= k2
),
$coarseIters,
kc AS (SELECT * FROM kc$KmeansIters),
fa AS (
  SELECT c_id, c_qe, c_qn, cb FROM (
    SELECT f.c_id, f.c_qe, f.c_qn, k.c_id AS cb,
      row_number() OVER (PARTITION BY f.c_id ORDER BY
        ${duckCos("k.c_qe", "k.c_qn", "f.c_qe", "f.c_qn")} DESC,
        k.c_id) AS rn
    FROM c f CROSS JOIN kc k)
  WHERE rn = 1
),
q AS (SELECT vec_id AS q_id, qe AS q_qe, qn AS q_qn FROM e
      WHERE vec_id < $NQueries),
ctop AS (
  SELECT q_id, q_qe, q_qn, c_id AS cb FROM (
    SELECT p.q_id, p.q_qe, p.q_qn, k.c_id,
      row_number() OVER (PARTITION BY p.q_id ORDER BY
        ${duckCos("k.c_qe", "k.c_qn", "p.q_qe", "p.q_qn")} DESC,
        k.c_id) AS rn
    FROM q p CROSS JOIN kc k)
  WHERE rn <= $CoarseProbe
),
routed AS (
  SELECT q_id, c_id AS bucket FROM (
    SELECT t.q_id, f.c_id,
      row_number() OVER (PARTITION BY t.q_id ORDER BY
        ${duckCos("f.c_qe", "f.c_qn", "t.q_qe", "t.q_qn")} DESC,
        f.c_id) AS rn
    FROM ctop t JOIN fa f USING (cb))
  WHERE rn <= $NProbe
),
${duckProbeCte("pbf")}
SELECT r.q_id, r.bucket,
  CAST(CASE WHEN p.bucket IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
    AS in_flat
FROM routed r LEFT JOIN (SELECT DISTINCT q_id, bucket FROM pbf) p
  ON r.q_id = p.q_id AND r.bucket = p.bucket
ORDER BY r.q_id, r.bucket"""
  }

  /** nprobe top-k over a (centroids, assignment) pair: probes route to
    * their NProbe nearest centroid buckets ([[probeBuckets]]) and scan
    * ONLY those via the bucket equi-join. Shared by the self-contained
    * x12 and the persisted-index serve path.
    */
  private def nprobeTopK(probes: DataFrame, cent: DataFrame,
      assigned: DataFrame): DataFrame = {
    val wk = Window.partitionBy("q_id").orderBy(desc("cos"), col("vec_id"))
    probeBuckets(probes, cent).join(assigned, "bucket")
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", expr(sparkCos("q_qe", "q_qn", "qe", "qn")))
      .withColumn("rank", row_number().over(wk).cast("bigint"))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cos"), col("bucket"))
      .orderBy("q_id", "rank")
  }

  /** Hard-negative mining for contrastive retrieval training (the
    * declared `x96_hard_negatives`) — the targeted complement of x44's
    * random negatives: for each probe, the highest-cosine candidates in
    * its probed IVF buckets whose x41 semantic-dedup CLUSTER differs
    * from the probe's. Near-but-not-duplicate is exactly the negative a
    * contrastive trainer wants (random negatives are too easy; same-
    * cluster "negatives" are false negatives that corrupt the loss —
    * the standard ANCE/contriever mining recipe, restated over the
    * engine's own index + clusters).
    *
    * Shape: candidate generation IS x12's nprobe scan (map-only probe
    * routing + bucket equi-join); the cluster-exclusion joins are
    * vec_id-keyed against the |V|-row cluster table (probe side is
    * ≤ NQueries rows, candidate side key-partitioned); top-K is the
    * same per-probe window. Everything reuses the shared spellings, so
    * the oracle composes [[duckEmbClusterCtes]] + [[duckProbeCte]]
    * verbatim.
    */
  private def hardNegatives(s: SparkSession, d: String): DataFrame = {
    val e = quantizedCached(s, d)
    val cent = trainedCentroids(e)
    // ONE assignment feeds both the candidate scan and the cluster
    // derivation (pre-r13 embClusterAssignment re-trained and
    // re-assigned the whole corpus a second time inside this query)
    val assigned = assignedBuckets(e, cent)
    val clusters = embClustersOf(s, d,
        assigned.select(col("vec_id"), col("qe"), col("qn"), col("bucket")),
        None)
      .transform(graft.Caches.scoped)
    val probes = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("qe").as("q_qe"),
        col("qn").as("q_qn"))
    hardNegativesOf(probes, cent, assigned, clusters)
  }

  /** The hard-negative reduction over any (probes, centroids,
    * assignment, clusters) inputs — factored so the self-contained x96
    * and the persisted-artifact serve path ([[hardNegativesFrom]]) share
    * ONE spelling, the [[purityOf]]/[[silhouetteOf]] discipline.
    */
  private def hardNegativesOf(probes: DataFrame, cent: DataFrame,
      assigned: DataFrame, clusters: DataFrame): DataFrame = {
    val wk = Window.partitionBy("q_id").orderBy(desc("cos"), col("vec_id"))
    probeBuckets(probes, cent)
      .join(assigned, "bucket")
      .filter(col("vec_id") =!= col("q_id"))
      .join(clusters.select(col("vec_id").as("q_id"),
        col("cluster_id").as("q_cluster")), "q_id")
      .join(clusters, "vec_id")
      .filter(col("cluster_id") =!= col("q_cluster"))
      .withColumn("cos", expr(sparkCos("q_qe", "q_qn", "qe", "qn")))
      .withColumn("rank", row_number().over(wk).cast("bigint"))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cos"))
      .orderBy("q_id", "rank")
  }

  /** x96's mining served from the persisted IVF index + persisted
    * clusters — zero retraining and zero re-clustering (the two
    * artifact reads [[silhouetteFrom]] also consumes); probes are the
    * same map-only quantization of the probe rows. Results identical to
    * the self-contained query (HardNegativeSpec pins frame equality).
    */
  def hardNegativesFrom(s: SparkSession, dir: String, ivfPath: String,
      clustersPath: String): DataFrame = {
    // the serve path never touches [[quantized]], so the native
    // dot_long registration (inside sparkCos) must happen here
    graft.GraftExtensions.ensureInstalled(s)
    val probes = quantized(s, dir).filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("qe").as("q_qe"),
        col("qn").as("q_qn"))
    hardNegativesOf(probes,
      centroidsFrom(s, ivfPath),
      s.read.parquet(s"$ivfPath/assignment")
        .select(col("vec_id"), col("qe"), col("qn"),
          col("bucket").cast("bigint").as("bucket")),
      clustersFrom(s, clustersPath))
  }

  private lazy val x96Oracle: String = s"""
WITH $duckEmbClusterCtes,
${duckProbeCte("pb")},
cscore AS (
  SELECT pb.q_id, a.vec_id AS neighbor_id,
    ${duckCos("pb.q_qe", "pb.q_qn", "a.qe", "a.qn")} AS cos
  FROM pb JOIN assigned a USING (bucket)
  WHERE a.vec_id != pb.q_id
),
flt AS (
  SELECT s.q_id, s.neighbor_id, s.cos
  FROM cscore s
  JOIN clusters cq ON cq.vec_id = s.q_id
  JOIN clusters cn ON cn.vec_id = s.neighbor_id
  WHERE cq.cluster_id <> cn.cluster_id
)
SELECT q_id, CAST(rn AS BIGINT) AS rank, neighbor_id, cos
FROM (SELECT *, row_number() OVER (PARTITION BY q_id
        ORDER BY cos DESC, neighbor_id) AS rn FROM flt)
WHERE rn <= $K ORDER BY q_id, rank"""

  /** Train the IVF index ONCE and persist it — the production serve path
    * amortizes centroid training and corpus assignment across every
    * query instead of paying them per search. The centroid table is a
    * tiny parquet; the assignment is PARTITIONED BY bucket, so a search
    * reads only its probed buckets (directory-level pruning through the
    * bucket join — the disk layout mirrors what the in-memory equi-join
    * exploits).
    */
  def buildIndex(s: SparkSession, dir: String, indexPath: String): Unit = {
    val e = quantizedCached(s, dir)
    val cent = trainedCentroids(e)
    // coalesce/repartition before writing: the upstream frames are
    // persisted at full parallelism, and writing them as-is sprays up
    // to (shuffle partitions) tiny files into EVERY bucket directory —
    // thousands of file opens per serve-side read. One file for the
    // centroid table, one file per bucket dir for the assignment (each
    // bucket lands in exactly one task after the hash repartition).
    cent.coalesce(1).write.mode("overwrite")
      .parquet(s"$indexPath/centroids")
    // the router-flip manifest: serve-path plan construction reads the
    // centroid count from here instead of running a count() job
    java.nio.file.Files.writeString(countManifest(indexPath),
      centroidCount(cent).toString)
    assignedBuckets(e, cent)
      .select(col("vec_id"), col("qe"), col("qn"), col("bucket"))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$indexPath/assignment")
  }

  /** Purity reduction over any (vec_id, cluster_id) × (vec_id, label)
    * frames — factored so the declared x64 and the persisted-cluster
    * serve path share ONE spelling. Majority label via the
    * partial-aggregable max(struct) argmax; purity as one exact-integer
    * division.
    */
  private[graft] def purityOf(clusters: DataFrame,
      labels: DataFrame): DataFrame =
    clusters.join(labels, "vec_id")
      .groupBy("cluster_id", "label")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("cluster_id")
      .agg(sum(col("cnt")).as("cluster_size"),
        count(lit(1)).as("n_labels"),
        max(struct(col("cnt"), (-col("label")).as("neg"),
          col("label").as("lbl"))).as("mj"))
      .select(col("cluster_id"),
        col("cluster_size"), col("n_labels"),
        col("mj.lbl").as("majority_label"),
        col("mj.cnt").as("majority_cnt"),
        (col("mj.cnt").cast("double") /
          col("cluster_size").cast("double")).as("purity"))
      .orderBy("cluster_id")

  /** Derive the x41 semantic-dedup clusters ONCE and persist them — the
    * serve path for every downstream consumer (canonical collapse,
    * purity QC, joins back to content) that would otherwise re-pay
    * k-means + the bucket pair join + connected components per query
    * (the bench's per-query isolation documents exactly that re-payment
    * on x64/x42; an application derives clusters once per corpus
    * version). Mirrors [[buildIndex]]/[[searchIndex]].
    */
  def buildClusters(s: SparkSession, dir: String, path: String,
      bucketCap: Option[Int] = None): Unit =
    embClusterAssignment(s, dir, bucketCap)
      .write.mode("overwrite").parquet(path)

  /** Persisted clusters back as a frame — identical rows to the
    * in-query x41 derivation (ClusterIndexSpec pins it).
    */
  def clustersFrom(s: SparkSession, path: String): DataFrame =
    Tables.parquet(s, path)

  /** x64's purity audit served from persisted clusters — zero
    * re-derivation; same reduction as the declared query.
    */
  def purityFrom(s: SparkSession, dir: String, path: String): DataFrame =
    purityOf(clustersFrom(s, path),
      Tables.embeddings(s, dir).select(col("vec_id"), col("label")))

  /** x86's silhouette QC served from the persisted IVF assignment +
    * persisted clusters — zero retraining (the membership frame is two
    * artifact reads joined on vec_id); same reduction as the declared
    * query.
    */
  def silhouetteFrom(s: SparkSession, ivfPath: String,
      clustersPath: String): DataFrame =
    silhouetteOf(
      s.read.parquet(s"$ivfPath/assignment")
        .select(col("vec_id"), col("qe"),
          col("bucket").cast("bigint").as("bucket"))
        .join(clustersFrom(s, clustersPath), "vec_id"),
      None)

  /** Per-bucket assignment-quality state for a (possibly streaming)
    * vector frame scored against FROZEN centroids — the drift monitor a
    * continuous-ingest IVF deployment maintains (st17's reduction; the
    * st16 discipline applied to the index half). Each vector folds over
    * the broadcast packed centroids (map-only, streamable as a
    * stream-static cross join of a one-row frame), its best cosine
    * fixed-points to micro-units per row (one IEEE multiply of a
    * bit-identical double — cross-engine safe), and the maintained
    * state is ≤ C rows of count/sum/min monoids, so the drained stream
    * state equals the batch rollup at any arrival order. A falling
    * min/mean cosine against frozen centroids is the retrain signal —
    * the continuous complement of x88's batch growth audit.
    */
  def frozenAssignStats(e: DataFrame, cent: DataFrame): DataFrame =
    nearestCentroid(e, cent)
      .select(col("best.id").as("bucket"),
        expr("CAST(floor(best.cos * 1000000.0d + 0.5d) AS BIGINT)")
          .as("cm"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("cm")).as("sum_cos_micro"),
        min(col("cm")).as("min_cos_micro"))

  /** The batch oracle of [[frozenAssignStats]] over the full corpus —
    * kmeans + full-corpus best-centroid pick + the per-bucket rollup.
    */
  lazy val frozenAssignStatsSql: String = s"""
WITH $duckQuantizedCte,
$duckKmeansCtes,
fsc AS (
  SELECT e.vec_id, c.c_id,
    ${duckCos("c.c_qe", "c.c_qn", "e.qe", "e.qn")} AS ccos
  FROM e CROSS JOIN c
),
fba AS (
  SELECT vec_id, c_id AS bucket,
    CAST(floor(ccos * 1000000.0 + 0.5) AS BIGINT) AS cm
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
          ORDER BY ccos DESC, c_id) AS rn FROM fsc)
  WHERE rn = 1
)
SELECT bucket, CAST(count(*) AS BIGINT) AS n_vecs,
  CAST(sum(cm) AS BIGINT) AS sum_cos_micro,
  CAST(min(cm) AS BIGINT) AS min_cos_micro
FROM fba GROUP BY bucket ORDER BY bucket"""

  /** Build the CSLS rescoring statistics artifact from the persisted
    * IVF assignment: the |V|-row (v, rm) table of per-vector kNN-mean
    * cosines — the HALF of x87's work that does not depend on which
    * probes arrive. Persisting it is what makes CSLS servable: the
    * full bucket-local pair join (every vector × its bucket) and the
    * per-vector top-k window run ONCE per corpus version here, and the
    * serve path pays only probe-side candidate generation. The same
    * (cos DESC, dst) windows and [[tdiv]] mean as the self-contained
    * query, so served rows replay bit-identically (shared x87 oracle).
    */
  def buildCslsStats(s: SparkSession, ivfPath: String,
      path: String): Unit =
    cslsMeans(cslsPairs(
        s.read.parquet(s"$ivfPath/assignment")
          .select(col("vec_id"), col("qe"), col("qn"),
            col("bucket").cast("bigint").as("bucket"))))
      .write.mode("overwrite").parquet(path)

  /** x87's CSLS retrieval served from the persisted IVF assignment +
    * persisted rescoring statistics ([[buildCslsStats]]) — zero
    * retraining AND zero re-derivation of the corpus-wide kNN means:
    * the serve pass computes only the PROBE-side candidate pairs
    * (≤ NQueries probes joined to their buckets) and joins the stored
    * (v, rm) table twice. Same final reduction as the declared query.
    */
  def cslsFrom(s: SparkSession, ivfPath: String,
      rmPath: String): DataFrame = {
    // the serve path never touches [[quantized]], so the native-expression
    // registration (dot_long in sparkCos) must happen here
    graft.GraftExtensions.ensureInstalled(s)
    val assigned = s.read.parquet(s"$ivfPath/assignment")
      .select(col("vec_id"), col("qe"), col("qn"),
        col("bucket").cast("bigint").as("bucket"))
    val probePairs = cslsPairs(
      assigned.filter(col("vec_id") < NQueries), assigned)
    cslsFinal(probePairs, Tables.parquet(s, rmPath))
  }

  /** Serve nprobe top-k for `dir`'s probe set from a persisted index —
    * zero training, bucket-pruned scans; results identical to the
    * self-contained `x12_ann_ivf_search` (IvfIndexSpec pins this).
    */
  def searchIndex(s: SparkSession, dir: String,
      indexPath: String): DataFrame = {
    val probes = quantized(s, dir).filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("qe").as("q_qe"),
        col("qn").as("q_qn"))
    nprobeTopK(probes,
      centroidsFrom(s, indexPath),
      s.read.parquet(s"$indexPath/assignment"))
  }

  /** Truncate-toward-zero integer division for a possibly-negative
    * numerator over a positive denominator — Spark `div` truncates but
    * DuckDB `//` floors, so every signed division in x74 goes through
    * this sign-split spelling (identical text both engines modulo the
    * operator token).
    */
  private[graft] def tdiv(a: String, b: String, op: String): String =
    s"(CASE WHEN ($a) >= 0 THEN ($a) $op ($b) ELSE -((-($a)) $op ($b)) END)"

  /** floor(sqrt(x)) over a DECIMAL(38,0)/HUGEINT sum: both engines
    * convert the same exact integer to the same IEEE double
    * (round-to-nearest), sqrt is correctly rounded, floor is exact —
    * bit-identical cross-engine.
    */
  private[graft] def isqrt(x: String): String =
    s"CAST(floor(sqrt(CAST(($x) AS DOUBLE))) AS BIGINT)"

  /** Micro-unit fixed-point scale shared by the x74 pipeline. */
  private[graft] val PcaScale = 1000000L

  /** Top principal component of the embedding corpus by two unrolled
    * power-iteration rounds (the declared `x74_pca_power`), exact
    * integers end-to-end — the whitening/PCA primitive a corpus pipeline
    * runs before dimensionality reduction or decorrelated quantization.
    *
    * Shape per round: ONE vec-keyed aggregation (dot products, the
    * matvec x·v collapsing map-side) + ONE dim-keyed aggregation
    * (w = Σᵢ xᵢ·dotᵢ) — the classic distributed power-iteration layout:
    * the d-long vector state is driver-held between rounds and re-enters
    * as a literal array (MLlib's own shape; the x14 convergence-scalar
    * argument), so the data is scanned once per round with no
    * broadcast-join chain. Determinism: components quantize to micro-units
    * (x59), v₀ is the constant all-ones vector, every signed division is
    * sign-split truncating ([[tdiv]]), norms go through DECIMAL(38,0)/
    * HUGEINT squares ([[isqrt]]) — both engines walk identical integer
    * states, so the round count is a fixed constant exactly like x46's
    * PageRank. BIGINT bounds: |Σ xf·dot| ≤ d·maxXf²·n ≈ 3.6e16 at sf0.1
    * — exact to ~10⁵-vector shards at these magnitudes; beyond that,
    * shard the w-accumulation per the x59 DECIMAL rule and merge (or
    * accept per-shard components merged by averaging).
    *
    * Output: one row per dimension with the normalized component after
    * round 2 (`v_fp`, 1e6-scaled unit vector), the un-normalized
    * accumulator (`w_fp`), and both round norms (`norm1`, `norm2` —
    * norm2 approximates the top eigenvalue × 1e6 in micro² units since
    * ‖v₁‖ = 1e6).
    */
  def pcaPower(s: SparkSession, d: String): DataFrame = {
    // The VECTOR state (d longs) lives on the driver between rounds —
    // the classic distributed power-iteration layout (MLlib does the
    // same): per round the corpus is scanned ONCE for the dim-keyed
    // accumulation, the d-row result collects (d ≪ corpus, the x14
    // convergence-scalar argument), and the next round's vector enters
    // as a literal array so the matvec is pure map-side expression —
    // no broadcast-join chain, two Spark jobs total.
    val xq = Tables.embeddingsSpread(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"), (col("pos") + 1).cast("int").as("dim"),
        expr(s"CAST(floor(CAST(x AS DOUBLE) * $PcaScale + 0.5d) AS BIGINT)")
          .as("xf"))
      .transform(graft.Caches.scoped)
    def tdivJvm(a: Long, b: Long): Long = a / b // Long / truncates = div
    def isqrtJvm(sq: BigInt): Long =
      math.floor(math.sqrt(sq.toDouble)).toLong // same dbl path as SQL
    // one round: w = Σᵢ xᵢ·dotᵢ per dim (collected), then wr/norm/v on
    // the driver in the same integer arithmetic the oracle spells
    def round(dots: DataFrame): (Array[Long], Array[Long], Long) = {
      val wr = xq.join(dots, Seq("vec_id"))
        .groupBy("dim").agg(sum(col("xf") * col("dt")).as("w"))
        .select(col("dim"), expr(tdiv("w", PcaScale.toString, "div"))
          .as("wr"))
        .collect().map(r => r.getInt(0) -> r.getLong(1))
        .sortBy(_._1).map(_._2)
      val nrm = isqrtJvm(wr.map(x => BigInt(x) * BigInt(x)).sum)
      // multiplyExact: the oracle's BIGINT `wr * 1000000` RAISES on
      // overflow (|wr| > ~9.2e12); a bare JVM `*` would wrap silently —
      // a silent-wrong-answer vs loud-error divergence (r4 ADVICE).
      // Failing loudly on both engines keeps the doc-comment's bound
      // argument honest instead of load-bearing.
      val v = wr.map(x => if (nrm == 0L) 0L
                          else tdivJvm(Math.multiplyExact(x, PcaScale), nrm))
      (v, wr, nrm)
    }
    // round 1 against v0 = (1e6, …, 1e6): (xf·1e6) div 1e6 = xf exactly,
    // so dot0 is just the component sum
    val dot0 = xq.groupBy("vec_id").agg(sum(col("xf")).as("dt"))
    val (v1, _, n1) = round(dot0)
    val dot1 = xq
      .withColumn("v", element_at(typedLit(v1.toSeq), col("dim")))
      .groupBy("vec_id")
      .agg(expr(tdiv("sum(xf * v)", PcaScale.toString, "div")).as("dt"))
    val (v2, wr2, n2) = round(dot1)
    import s.implicits._
    v2.indices.map(j =>
        ((j + 1).toLong, v2(j), wr2(j), n1, n2))
      .toDF("dim", "v_fp", "w_fp", "norm1", "norm2")
      .orderBy("dim")
  }

  /** DuckDB twin of [[pcaPower]]: same constants, same sign-split
    * truncating divisions (`//` token), same DECIMAL→HUGEINT norms.
    */
  private def pcaOracle: String = {
    def w(dots: String) = s"""
  SELECT xq.dim,
    CAST(${tdiv(s"sum(xq.xf * $dots.dt)", PcaScale.toString, "//")}
         AS BIGINT) AS wr
  FROM xq JOIN $dots ON xq.vec_id = $dots.vec_id
  GROUP BY xq.dim"""
    s"""
WITH xq AS (
  SELECT vec_id, CAST(i AS BIGINT) AS dim,
    CAST(floor(CAST(embedding[i] AS DOUBLE) * $PcaScale + 0.5) AS BIGINT)
      AS xf
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)
),
dot0 AS (SELECT vec_id, CAST(sum(xf) AS BIGINT) AS dt
         FROM xq GROUP BY vec_id),
w1 AS (${w("dot0")}),
n1 AS (SELECT ${isqrt(
      "sum(CAST(wr AS HUGEINT) * CAST(wr AS HUGEINT))")} AS nrm FROM w1),
v1 AS (
  SELECT dim, wr,
    CAST(CASE WHEN n1.nrm = 0 THEN 0
    ELSE ${tdiv(s"wr * $PcaScale", "n1.nrm", "//")} END AS BIGINT) AS v
  FROM w1 CROSS JOIN n1
),
dot1 AS (
  SELECT xq.vec_id,
    CAST(${tdiv("sum(xq.xf * v1.v)", PcaScale.toString, "//")}
         AS BIGINT) AS dt
  FROM xq JOIN v1 ON xq.dim = v1.dim
  GROUP BY xq.vec_id
),
w2 AS (${w("dot1")}),
n2 AS (SELECT ${isqrt(
      "sum(CAST(wr AS HUGEINT) * CAST(wr AS HUGEINT))")} AS nrm FROM w2),
v2 AS (
  SELECT dim, wr,
    CAST(CASE WHEN n2.nrm = 0 THEN 0
    ELSE ${tdiv(s"wr * $PcaScale", "n2.nrm", "//")} END AS BIGINT) AS v
  FROM w2 CROSS JOIN n2
)
SELECT v2.dim, v2.v AS v_fp, v2.wr AS w_fp,
  n1.nrm AS norm1, n2.nrm AS norm2
FROM v2 CROSS JOIN n1 CROSS JOIN n2
ORDER BY dim"""
  }

  /** The full x12 nprobe-search oracle — shared verbatim by
    * `x12_ann_ivf_search` and the serve-path row `x12s_ann_serve`: the
    * serve path reads training + assignment from the persisted index,
    * which by the [[buildIndex]] contract (IvfIndexSpec) is
    * row-identical to the in-query derivation, so ONE SQL text checks
    * both.
    */
  private lazy val x12Oracle: String = s"""
WITH $duckQuantizedCte,
$duckKmeansCtes,
assigned AS (
  SELECT vec_id, qe, qn, c_id AS bucket
  FROM (SELECT e.vec_id, e.qe, e.qn, c.c_id,
          row_number() OVER (PARTITION BY e.vec_id ORDER BY
            ${duckCos("c.c_qe", "c.c_qn", "e.qe", "e.qn")}
            DESC, c.c_id) AS rn
        FROM e CROSS JOIN c)
  WHERE rn = 1
),
${duckProbeCte("pb")},
scored AS (
  SELECT pb.q_id, a.vec_id AS neighbor_id, a.bucket,
    ${duckCos("pb.q_qe", "pb.q_qn", "a.qe", "a.qn")} AS cos
  FROM pb JOIN assigned a USING (bucket)
  WHERE a.vec_id != pb.q_id
)
SELECT q_id, CAST(rn AS BIGINT) AS rank, neighbor_id, cos, bucket
FROM (SELECT *, row_number() OVER (PARTITION BY q_id
        ORDER BY cos DESC, neighbor_id) AS rn FROM scored)
WHERE rn <= $K ORDER BY q_id, rank"""

  /** The full x64 purity oracle — shared verbatim by
    * `x64_cluster_purity` and `x64s_purity_serve` (same argument as
    * [[x12Oracle]]; ClusterIndexSpec pins persisted == derived).
    */
  private lazy val x64Oracle: String = s"""
WITH $duckEmbClusterCtes,
cl AS (
  SELECT c.cluster_id, emb.label
  FROM clusters c JOIN embeddings emb ON c.vec_id = emb.vec_id
),
pl AS (
  SELECT cluster_id, label, CAST(count(*) AS BIGINT) AS cnt
  FROM cl GROUP BY 1, 2
),
mj AS (
  SELECT cluster_id, label AS majority_label, cnt AS majority_cnt
  FROM (SELECT *, row_number() OVER (PARTITION BY cluster_id
          ORDER BY cnt DESC, label) AS rn FROM pl)
  WHERE rn = 1
)
SELECT p.cluster_id,
  CAST(sum(p.cnt) AS BIGINT) AS cluster_size,
  CAST(count(*) AS BIGINT) AS n_labels,
  mj.majority_label, mj.majority_cnt,
  CAST(mj.majority_cnt AS DOUBLE) / CAST(sum(p.cnt) AS DOUBLE) AS purity
FROM pl p JOIN mj USING (cluster_id)
GROUP BY 1, 4, 5
ORDER BY p.cluster_id"""

  /** Serve-artifact root for `dir`, keyed on the embeddings file's
    * identity (path + mtime + size) AND the shared
    * [[Serve.IndexBuilderVersion]] — so both a driver-side data regeneration
    * and a builder-algorithm change force a rebuild instead of silently
    * replaying a stale artifact (see [[Serve]] for the key contract).
    */
  private[graft] def serveRoot(dir: String): String =
    Serve.root(dir, "embeddings.parquet", Serve.IndexBuilderVersion)

  /** Build the serve artifacts (IVF index + semantic-dedup clusters)
    * for `dir` once per data version — idempotent behind a _READY
    * marker, synchronized within the JVM. The declared serve queries
    * call this so they self-heal in any harness; [[graft.Bench]] calls
    * it BEFORE its timed pass so the serve rows measure serving, not
    * training (the build cost is already measured by x10/x41).
    */
  /** Every DECLARED row that READS this family's serve root — the set
    * [[graft.Bench]] pre-builds from, kept NEXT TO the builder so a new
    * serve-reading row can't silently fall through to an in-row build
    * (the round-6 review caught exactly that drift when the Bench-side
    * copy missed x82s/st16).
    */
  val serveRows: Set[String] = Set("x12s_ann_serve", "x64s_purity_serve",
    "x82s_pq_serve", "x85s_ivfpq_serve", "x86s_silhouette_serve",
    "x87s_csls_serve", "x96s_negatives_serve", "x99s_coarse_route_serve",
    "st16_stream_pq_encode", "st17_stream_ivf_assign")

  /** The artifact subdirectories [[prepareServe]] must produce. */
  private val ArtifactDirs =
    Seq("ivf/centroids", "ivf/assignment", "coarse/centroids", "clusters",
      "pq/books", "pq/codes", "pqres/books", "pqres/codes", "csls_rm")

  def prepareServe(s: SparkSession, dir: String): Unit = synchronized {
    val root = serveRoot(dir)
    if (!Serve.complete(root, ArtifactDirs)) {
      buildIndex(s, dir, s"$root/ivf")
      // coarse router layer trained over the PERSISTED fine centroids
      // (≤ √C rows — one file), so the x99s serve row routes with zero
      // training jobs; co-residence in this versioned root bounds its
      // staleness to the fine layer's (see [[twoLevelRouteServe]])
      trainCoarse(centroidsFrom(s, s"$root/ivf"))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$root/coarse/centroids")
      buildClusters(s, dir, s"$root/clusters")
      PqQueries.buildPq(s, dir, s"$root/pq")
      PqQueries.buildIvfPq(s, s"$root/ivf", s"$root/pqres")
      buildCslsStats(s, s"$root/ivf", s"$root/csls_rm")
      Serve.stamp(root)
      s.catalog.clearCache() // build-side persists must not leak
    }
  }

  /** CSLS-rescored retrieval (the declared `x87_csls_rescore`):
    * cross-domain similarity local scaling (Conneau et al., "Word
    * Translation Without Parallel Data", ICLR 2018 — public algorithm)
    * applied to the probe set. Plain cosine retrieval is distorted by
    * hubs — exactly the pathology x63 AUDITS, this query CORRECTS:
    * csls(x, y) = 2·cos(x, y) − r(x) − r(y), where r(v) is the mean
    * cosine of v's k nearest neighbors. A hub's high r(y) subtracts
    * away its crowding advantage, so neighbor lists diversify.
    *
    * Shape: the same bucket-local pair join as x63 (pair work bounded
    * by the √n centroid budget), ONE window for the kNN prefix, one
    * |V|-row mean table joined back twice (both joins key on vec_id —
    * AQE broadcasts while small, shuffle-joins at scale), one window
    * for the final per-probe rank. Parity: each cosine fixed-points to
    * micro-units (floor(cos·10⁶ + 0.5) of a bit-identical double); the
    * neighborhood mean is the sign-split truncating division ([[tdiv]]
    * — top-k cosines CAN all be negative, where `div` and `//`
    * disagree); csls is then exact integer algebra. Probes in
    * singleton buckets have no candidates and return no rows (the
    * retrieval contract — there is nothing to retrieve).
    *
    * Public so callers can pass the `bucketCap` skew lever
    * ([[cappedByBucket]], same contract as [[embedNearDup]]): the pair
    * join — and therefore both the kNN-mean table and the candidate
    * lists — runs over the capped set, so capped-out probes return no
    * rows, exactly like singleton-bucket probes. Default `None` is the
    * exact join the oracle replays.
    */
  def cslsRescore(s: SparkSession, d: String,
      bucketCap: Option[Int] = None): DataFrame = {
    val e = quantizedCached(s, d)
    cslsOf(
      assignedBuckets(e, trainedCentroids(e))
        .select(col("vec_id"), col("qe"), col("qn"), col("bucket")),
      bucketCap)
  }

  /** The CSLS reduction over any (vec_id, qe, qn, bucket) assignment
    * frame — factored so the declared x87 and the persisted-index serve
    * path ([[cslsFrom]]) share ONE spelling of every stage.
    */
  private def cslsOf(assignedIn: DataFrame,
      bucketCap: Option[Int]): DataFrame = {
    val assigned = cappedByBucket(assignedIn, bucketCap)
    val pairs = cslsPairs(assigned).transform(graft.Caches.scoped)
    cslsFinal(pairs.filter(col("src") < NQueries), cslsMeans(pairs))
  }

  /** Bucket-local scored pairs (src, dst, cm): every `left` vector
    * against every OTHER vector of its bucket on the `right` side, the
    * cosine fixed-pointed to micro-units. The two-argument form is what
    * lets the serve path price only probe-side pairs: left = the
    * ≤ NQueries probe rows, right = the full assignment.
    */
  private def cslsPairs(left: DataFrame): DataFrame = cslsPairs(left, left)

  private def cslsPairs(left: DataFrame, right: DataFrame): DataFrame =
    left.as("a").join(right.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
        expr(s"""CAST(floor((${sparkCos("a.qe", "a.qn", "b.qe", "b.qn")})
                 * 1000000.0d + 0.5d) AS BIGINT)""".replace('\n', ' '))
          .as("cm"))

  /** Per-vector kNN-mean table (v, rm): top-K cosines per src by the
    * (cm DESC, dst) total order, mean as the sign-split truncating
    * division (top-k cosines CAN all be negative, where `div` and `//`
    * disagree). This is the corpus-wide statistic [[buildCslsStats]]
    * persists.
    */
  private def cslsMeans(pairs: DataFrame): DataFrame = {
    val wk = Window.partitionBy("src").orderBy(desc("cm"), col("dst"))
    pairs.withColumn("rn", row_number().over(wk))
      .filter(col("rn") <= K)
      .groupBy(col("src").as("v"))
      .agg(expr(tdiv("sum(cm)", "count(1)", "div")).as("rm"))
  }

  /** Final CSLS ranking: candidate pairs joined to the (v, rm) table on
    * both endpoints, csls = 2·cm − r(src) − r(dst) as exact integer
    * algebra, one per-probe window.
    */
  private def cslsFinal(probePairs: DataFrame, r: DataFrame): DataFrame = {
    val wq = Window.partitionBy("q_id").orderBy(desc("csls"), col("dst"))
    probePairs
      .join(r.as("ra"), col("src") === col("ra.v"))
      .join(r.as("rb"), col("dst") === col("rb.v"))
      .select(col("src").as("q_id"), col("dst"), col("cm"),
        (lit(2L) * col("cm") - col("ra.rm") - col("rb.rm")).as("csls"))
      .withColumn("rank", row_number().over(wq).cast("bigint"))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("rank"), col("dst").as("neighbor_id"),
        col("cm").as("cos_micro"), col("csls").as("csls_micro"))
      .orderBy("q_id", "rank")
  }

  /** Bucket-local kNN-graph degree audit (the declared
    * `x63_knn_hubness`), public so callers can pass the `bucketCap`
    * skew lever. The kNN edge join runs over the capped set; the final
    * degree join runs over the FULL assignment, so capped-out vectors
    * surface as zero-degree vertices (visible in the audit, per the
    * [[cappedByBucket]] contract) rather than vanishing.
    */
  def knnHubness(s: SparkSession, d: String,
      bucketCap: Option[Int] = None): DataFrame = {
    val e = quantizedCached(s, d)
    val full = assignedBuckets(e, trainedCentroids(e))
      .select(col("vec_id"), col("qe"), col("qn"), col("bucket"))
    val assigned = cappedByBucket(full, bucketCap)
    val wk = Window.partitionBy(col("a.vec_id"))
      .orderBy(desc("cos"), col("b.vec_id"))
    val knn = assigned.as("a").join(assigned.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .withColumn("cos", expr(sparkCos("a.qe", "a.qn", "b.qe", "b.qn")))
      .withColumn("rn", row_number().over(wk))
      .filter(col("rn") <= K)
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"))
      .transform(graft.Caches.scoped)
    val ind = knn.groupBy(col("dst")).agg(count(lit(1)).as("ic"))
    val outd = knn.groupBy(col("src")).agg(count(lit(1)).as("oc"))
    full.select(col("vec_id"), col("bucket"))
      .join(ind, col("vec_id") === col("dst"), "left")
      .join(outd, col("vec_id") === col("src"), "left")
      .select(col("vec_id"), col("bucket"),
        coalesce(col("ic"), lit(0L)).as("in_degree"),
        coalesce(col("oc"), lit(0L)).as("out_degree"))
      .withColumn("is_hub", col("in_degree") >= lit(2L * K))
      .orderBy("vec_id")
  }

  /** IVF index freshness without retraining (the declared
    * `x88_ivf_append`): centroids train on the OLD half of the corpus
    * (vec_id below the midpoint — the already-indexed vintage), the NEW
    * half assigns against those FROZEN centroids in one map-only argmax
    * fold, and the output is the per-bucket growth audit (n_old, n_new,
    * share_new_pct) an index operator watches to decide when ingest
    * drift forces a retrain. This is the operational append path of a
    * production IVF deployment: ingest keeps the index fresh at the
    * cost of one broadcast argmax per new vector — no Lloyd re-run, no
    * rewrite of the existing assignment.
    *
    * Scale shape: the midpoint is a 1-row broadcast scalar (count div 2,
    * no driver action — the [[initCentroids]] budget discipline);
    * training reads only the old half; the new half's assignment is the
    * same map-only [[nearestCentroid]] fold the serve path runs; the
    * audit is one bucket-keyed aggregation that partially aggregates to
    * ≤ C rows per partition. Integer-only output — no float parity
    * surface at all (share_new_pct is a truncating division of
    * non-negative BIGINTs, where Spark `div` and DuckDB `//` agree).
    */
  private def ivfAppend(s: SparkSession, d: String): DataFrame = {
    val e = quantizedCached(s, d)
    val withH = e.crossJoin(broadcast(e.agg(
      expr("count(1) div 2").as("h"))))
    val eold = withH.filter(col("vec_id") < col("h"))
      .select(col("vec_id"), col("qe"), col("qn"))
    val cent = trainedCentroids(eold)
    val oldA = assignedBuckets(eold, cent)
      .select(col("bucket"), lit(0L).as("is_new"))
    val newA = nearestCentroid(
        withH.filter(col("vec_id") >= col("h"))
          .select(col("vec_id"), col("qe"), col("qn")), cent)
      .select(col("best.id").as("bucket"), lit(1L).as("is_new"))
    oldA.union(newA)
      .groupBy("bucket")
      .agg(sum(lit(1L) - col("is_new")).as("n_old"),
        sum(col("is_new")).as("n_new"))
      .withColumn("share_new_pct",
        expr("(n_new * 100) div (n_old + n_new)"))
      .orderBy("bucket")
  }

  /** x88's oracle. The shared kmeans/assignment CTEs train over a table
    * literally named `e` — so the full corpus aliases to `eall` and `e`
    * BECOMES the old half, reusing both shared CTE strings verbatim
    * (training and old-half assignment replay bit-identically with zero
    * drift risk).
    */
  private lazy val x88Oracle: String = s"""
WITH eall AS (
  SELECT vec_id, label, qe, $duckNorm AS qn
  FROM (SELECT vec_id, label, $duckQuant AS qe FROM embeddings)
),
e AS (SELECT * FROM eall WHERE vec_id < (SELECT count(*) // 2 FROM eall)),
$duckKmeansCtes,
$duckAssignedCtes,
nw AS (
  SELECT vec_id, c_id AS bucket
  FROM (SELECT n.vec_id, c.c_id,
          row_number() OVER (PARTITION BY n.vec_id ORDER BY
            ${duckCos("c.c_qe", "c.c_qn", "n.qe", "n.qn")} DESC, c.c_id) AS rn
        FROM eall n CROSS JOIN c
        WHERE n.vec_id >= (SELECT count(*) // 2 FROM eall))
  WHERE rn = 1
),
u AS (
  SELECT bucket, 0 AS is_new FROM assigned
  UNION ALL SELECT bucket, 1 AS is_new FROM nw
)
SELECT bucket,
  CAST(sum(1 - is_new) AS BIGINT) AS n_old,
  CAST(sum(is_new) AS BIGINT) AS n_new,
  (CAST(sum(is_new) AS BIGINT) * 100) // CAST(count(*) AS BIGINT)
    AS share_new_pct
FROM u GROUP BY bucket ORDER BY bucket"""

  /** x86's oracle — shared verbatim by the declared query and its serve
    * twin (`x86s_silhouette_serve`), the equal-oracle serve discipline.
    */
  private lazy val x86Oracle: String = s"""
WITH $duckEmbClusterCtes,
smem AS (
  SELECT a.vec_id, a.qe, a.bucket, c.cluster_id
  FROM assigned a JOIN clusters c ON a.vec_id = c.vec_id
),
sprs AS (
  SELECT a.vec_id AS i, a.cluster_id AS ci, b.cluster_id AS cj,
    ${PqQueries.duckSq("a.qe", "b.qe")} AS dd
  FROM smem a JOIN smem b
    ON a.bucket = b.bucket AND a.vec_id != b.vec_id
),
sintra AS (
  SELECT i, (CAST(sum(dd) AS BIGINT) * 1000000) // count(*) AS qa
  FROM sprs WHERE ci = cj GROUP BY i
),
sinterc AS (
  SELECT i, cj, (CAST(sum(dd) AS BIGINT) * 1000000) // count(*) AS qbc
  FROM sprs WHERE ci != cj GROUP BY i, cj
),
sinter AS (SELECT i, min(qbc) AS qb FROM sinterc GROUP BY i)
SELECT m.vec_id, m.cluster_id, ia.qa AS a_micro, ir.qb AS b_micro,
  CASE WHEN ia.qa IS NULL OR ir.qb IS NULL
        OR greatest(ia.qa, ir.qb) = 0 THEN CAST(0.0 AS DOUBLE)
       ELSE CAST(ir.qb - ia.qa AS DOUBLE)
         / CAST(greatest(ia.qa, ir.qb) AS DOUBLE) END AS silhouette
FROM smem m
LEFT JOIN sintra ia ON m.vec_id = ia.i
LEFT JOIN sinter ir ON m.vec_id = ir.i
ORDER BY m.vec_id"""

  /** x87's oracle — shared verbatim by the declared query and its serve
    * twin (`x87s_csls_serve`).
    */
  private lazy val x87Oracle: String = s"""
WITH $duckQuantizedCte,
$duckKmeansCtes,
$duckAssignedCtes,
cpr AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
    CAST(floor((${duckCos("a.qe", "a.qn", "b.qe", "b.qn")})
      * 1000000.0 + 0.5) AS BIGINT) AS cm
  FROM assigned a JOIN assigned b
    ON a.bucket = b.bucket AND a.vec_id != b.vec_id
),
ckn AS (
  SELECT src, cm
  FROM (SELECT *, row_number() OVER (PARTITION BY src
          ORDER BY cm DESC, dst) AS rn FROM cpr)
  WHERE rn <= $K
),
crr AS (
  SELECT src AS v,
    ${tdiv("CAST(sum(cm) AS BIGINT)", "count(*)", "//")} AS rm
  FROM ckn GROUP BY src
),
csc AS (
  SELECT p.src AS q_id, p.dst, p.cm,
    2 * p.cm - ra.rm - rb.rm AS csls
  FROM cpr p JOIN crr ra ON p.src = ra.v JOIN crr rb ON p.dst = rb.v
  WHERE p.src < $NQueries
)
SELECT q_id, CAST(rn AS BIGINT) AS rank, dst AS neighbor_id,
  cm AS cos_micro, csls AS csls_micro
FROM (SELECT *, row_number() OVER (PARTITION BY q_id
        ORDER BY csls DESC, dst) AS rn FROM csc)
WHERE rn <= $K ORDER BY q_id, rank"""

  /** Per-label embedding-norm QC (the declared `dq10_embed_norms`) —
    * the data-quality audit an embedding INGEST runs before anything
    * downstream trusts the vectors: dead vectors (all-zero after
    * quantization — a failed encoder call or a padding row) and norm
    * outliers (|‖v‖² − median| > 3·MAD — truncation, double-write, or a
    * mis-scaled batch), per label slice. x51's robust-statistic
    * discipline applied to the vector table: the lower median and MAD
    * of the EXACT int64 quantized squared norm are rank-selected
    * integers (no float stats anywhere), so the flag predicate is exact
    * integer algebra and hash-identical cross-engine. Shape: one
    * label-keyed window pass per statistic over |V| rows, medians
    * broadcast back — the same envelope as x51 on documents.
    */
  private def embedNormAudit(s: SparkSession, d: String): DataFrame = {
    val e = quantizedCached(s, d).select(col("vec_id"), col("label"),
      col("qn"))
    def lowerMedian(df: DataFrame, v: String, out: String) = df
      .withColumn("rn", row_number().over(
        Window.partitionBy("label").orderBy(col(v), col("vec_id"))))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("label")))
      .filter(expr("rn = (cnt + 1) div 2"))
      .select(col("label"), col(v).as(out))
    val med = lowerMedian(e, "qn", "med_norm")
    val dev = e.join(broadcast(med), Seq("label"))
      .withColumn("adev", abs(col("qn") - col("med_norm")))
    val mad = lowerMedian(
      dev.select(col("label"), col("vec_id"), col("adev")),
      "adev", "mad_norm")
    dev.join(broadcast(mad), Seq("label"))
      .groupBy(col("label"), col("med_norm"), col("mad_norm"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("qn") === 0L, 1L).otherwise(0L)).as("n_dead"),
        sum(when(col("adev") > lit(3L) * col("mad_norm"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .select(col("label"), col("n_vecs"), col("n_dead"),
        col("med_norm"), col("mad_norm"), col("n_outliers"),
        (col("n_outliers").cast("double") / col("n_vecs"))
          .as("outlier_share"))
      .orderBy("label")
  }

  private lazy val dq10Oracle: String = s"""
WITH $duckQuantizedCte,
nmed AS (
  SELECT label, qn AS med_norm FROM (
    SELECT label, qn,
      row_number() OVER (PARTITION BY label ORDER BY qn, vec_id) AS rn,
      count(*) OVER (PARTITION BY label) AS cnt
    FROM e)
  WHERE rn = (cnt + 1) // 2
),
ndev AS (
  SELECT e.label, e.vec_id, e.qn, m.med_norm,
    abs(e.qn - m.med_norm) AS adev
  FROM e JOIN nmed m ON e.label = m.label
),
nmad AS (
  SELECT label, adev AS mad_norm FROM (
    SELECT label, adev, vec_id,
      row_number() OVER (PARTITION BY label ORDER BY adev, vec_id) AS rn,
      count(*) OVER (PARTITION BY label) AS cnt
    FROM ndev)
  WHERE rn = (cnt + 1) // 2
)
SELECT v.label, CAST(count(*) AS BIGINT) AS n_vecs,
  CAST(sum(CASE WHEN v.qn = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_dead,
  v.med_norm, a.mad_norm,
  CAST(sum(CASE WHEN v.adev > 3 * a.mad_norm THEN 1 ELSE 0 END)
    AS BIGINT) AS n_outliers,
  CAST(sum(CASE WHEN v.adev > 3 * a.mad_norm THEN 1 ELSE 0 END)
    AS DOUBLE) / count(*) AS outlier_share
FROM ndev v JOIN nmad a ON v.label = a.label
GROUP BY v.label, v.med_norm, a.mad_norm
ORDER BY v.label"""

  def defs: Map[String, QueryDef] = Map(
    // ── Embedding-norm ingest QC (see [[embedNormAudit]]): dead
    // vectors + robust norm outliers per label, rank-selected integer
    // median/MAD (the x51 discipline on the vector table).
    "dq10_embed_norms" -> QueryDef(
      (s, d) => embedNormAudit(s, d),
      Some(dq10Oracle),
      "embedding-norm QC: dead vectors + 3-MAD outliers per label"),


    "x74_pca_power" -> QueryDef(
      pcaPower,
      Some(pcaOracle),
      "top principal component by 2 integer power-iteration rounds"),

    // ── Brute-force cosine top-k: exact baseline; probe set broadcast,
    // one pass over the corpus, per-query heap via window rank.
    "x09_ann_bruteforce" -> QueryDef(
      (s, d) => bruteTopK(quantized(s, d)),
      Some(s"""
WITH $duckQuantizedCte,
q AS (SELECT vec_id AS q_id, qe AS q_qe, qn AS q_qn FROM e
      WHERE vec_id < $NQueries),
p AS (
  SELECT q.q_id, e.vec_id AS neighbor_id,
    ${duckCos("q.q_qe", "q.q_qn", "e.qe", "e.qn")} AS cos
  FROM q JOIN e ON e.vec_id != q.q_id
)
SELECT q_id, CAST(rn AS BIGINT) AS rank, neighbor_id, cos
FROM (SELECT *, row_number() OVER (PARTITION BY q_id
        ORDER BY cos DESC, neighbor_id) AS rn FROM p)
WHERE rn <= $K ORDER BY q_id, rank"""),
      "exact ANN baseline: broadcast probes, map-side scoring, window top-k"),

    // ── IVF assignment: nearest of 64 k-means centroids (broadcast), the
    // partitioning step that makes similarity search sub-quadratic.
    "x10_ann_ivf_assign" -> QueryDef(
      (s, d) => {
        val e = quantizedCached(s, d)
        assignedBuckets(e, trainedCentroids(e))
          .select(col("vec_id"), col("bucket"), col("centroid_cos"))
          .withColumn("bucket_size",
            count(lit(1)).over(Window.partitionBy("bucket")))
          .orderBy("vec_id")
      },
      Some(s"""
WITH $duckQuantizedCte,
$duckKmeansCtes,
scored AS (
  SELECT e.vec_id, c.c_id,
    ${duckCos("c.c_qe", "c.c_qn", "e.qe", "e.qn")} AS cos
  FROM e CROSS JOIN c
),
assigned AS (
  SELECT vec_id, c_id AS bucket, cos AS centroid_cos
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
          ORDER BY cos DESC, c_id) AS rn FROM scored)
  WHERE rn = 1
)
SELECT vec_id, bucket, centroid_cos,
  count(*) OVER (PARTITION BY bucket) AS bucket_size
FROM assigned ORDER BY vec_id"""),
      "IVF bucketing: broadcast k-means centroids, map-only assignment"),

    // ── Embedding near-dup pairs, bucket-local: the quadratic scan runs
    // only inside each IVF bucket.
    "x11_embed_neardup" -> QueryDef(
      (s, d) => embedNearDup(s, d),
      Some(s"""
WITH $duckQuantizedCte,
$duckKmeansCtes,
$duckAssignedCtes
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
  ${duckCos("a.qe", "a.qn", "b.qe", "b.qn")} AS cos
FROM assigned a JOIN assigned b
  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE ${duckCos("a.qe", "a.qn", "b.qe", "b.qn")}
  >= $NearDupTau
ORDER BY vec_a, vec_b"""),
      "bucket-local near-dup scan over IVF assignment"),

    // ── x11 with the bucketCap participation lever ENGAGED — the capped
    // path is what a 100 TB run executes when an IVF bucket goes hot
    // (the self-join fans out quadratically in bucket size), so its
    // semantics get their own oracle row instead of living only in
    // EmbedBucketCapSpec: only the TwinBucketCap lowest-vec_id vectors
    // of each bucket participate in pair generation (deterministic rank
    // by vec_id, stable across runs and engines); capped-out vectors
    // produce no pairs — the conservative "keep, don't dedup" outcome.
    // The cap bites on this data (avg bucket ~8-31 vectors), so this
    // row pins a result genuinely different from x11.
    "x11c_neardup_bucketcap" -> QueryDef(
      (s, d) => embedNearDup(s, d, Some(TwinBucketCap)),
      Some(s"""
WITH $duckQuantizedCte,
$duckKmeansCtes,
$duckAssignedCtes,
capped AS (
  SELECT vec_id, qe, qn, bucket
  FROM (SELECT *, row_number() OVER (PARTITION BY bucket
          ORDER BY vec_id) AS br FROM assigned)
  WHERE br <= $TwinBucketCap
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
  ${duckCos("a.qe", "a.qn", "b.qe", "b.qn")} AS cos
FROM capped a JOIN capped b
  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE ${duckCos("a.qe", "a.qn", "b.qe", "b.qn")}
  >= $NearDupTau
ORDER BY vec_a, vec_b"""),
      "x11 with the bucketCap skew lever engaged (capped-path semantics)"),

    // ── SEMANTIC dedup clusters: the x11 embedding near-dup pairs
    // assembled into connected components — the "keep one canonical doc
    // per embedding cluster" step of an LLM corpus pipeline. Spark
    // solves them hierarchically (bucket-local union-find in ONE
    // aggregation — see [[embClusterAssignment]]); the oracle unrolls a
    // FIXED EmbCcRounds of pointer-jumping over the full vertex set —
    // both compute the same fixpoint (min reachable vec_id), so the
    // hash matches at any unroll length. Components can never span
    // buckets (a vector has exactly one IVF bucket and pairs are
    // intra-bucket), which also bounds cluster size by bucket size.
    "x41_embed_dedup_clusters" -> QueryDef(
      (s, d) => embClusterAssignment(s, d)
        .withColumn("cluster_size", count(lit(1)).over(
          Window.partitionBy("cluster_id")))
        .withColumn("is_canonical", col("vec_id") === col("cluster_id"))
        .orderBy("vec_id"),
      Some(s"""
WITH $duckEmbClusterCtes
SELECT vec_id, cluster_id,
  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
  (vec_id = cluster_id) AS is_canonical
FROM clusters ORDER BY vec_id"""),
      "embedding near-dup pairs → connected components (semantic dedup)"),

    // ── IVF top-k search: each probe fans out to its NProbe nearest
    // centroid buckets and scans ONLY those — the recall-for-throughput
    // trade that replaces the brute-force scan at corpus scale. The join
    // is an equi-join on bucket, so the cluster partitions the corpus by
    // bucket once and every probe touches NProbe partitions, not all.
    "x12_ann_ivf_search" -> QueryDef(
      (s, d) => {
        val e = quantizedCached(s, d)
        val cent = trainedCentroids(e)
        val probes = e.filter(col("vec_id") < NQueries)
          .select(col("vec_id").as("q_id"), col("qe").as("q_qe"),
            col("qn").as("q_qn"))
        nprobeTopK(probes, cent, assignedBuckets(e, cent))
      },
      Some(x12Oracle),
      "IVF nprobe search: probe → nearest buckets → bucket-local top-k"),

    // ── The SERVE half of the train-once/serve-many contract, as a
    // first-class declared query (the r4 verdict's ask #8): identical
    // results to x12 — the oracle string IS x12's — but the centroid
    // training and corpus assignment are read from the persisted index
    // ([[buildIndex]] artifacts, built once per (dir, data-version) by
    // [[prepareServe]]; Bench pre-builds before its timed pass, so this
    // row measures what a production search actually costs per query
    // batch once training is amortized — the number the x10/x12 scaladocs
    // kept citing as an argument instead of a measurement).
    "x12s_ann_serve" -> QueryDef(
      (s, d) => {
        prepareServe(s, d)
        searchIndex(s, d, s"${serveRoot(d)}/ivf")
      },
      Some(x12Oracle),
      "ANN serve path: nprobe search from the persisted IVF index"),

    // ── x64's purity audit served from persisted clusters — the second
    // serve-path bench row; oracle string IS x64's.
    "x64s_purity_serve" -> QueryDef(
      (s, d) => {
        prepareServe(s, d)
        purityFrom(s, d, s"${serveRoot(d)}/clusters")
      },
      Some(x64Oracle),
      "cluster-purity serve path: QC from persisted x41 clusters"),

    // ── Silhouette QC over the x41 clusters (see [[clusterSilhouette]]):
    // the geometric complement of x64's label purity — purity asks "do
    // members share a label?", silhouette asks "are the clusters tight
    // and separated in the embedding space itself?", per vector, as
    // exact integer means + one final IEEE division.
    "x86_cluster_silhouette" -> QueryDef(
      (s, d) => clusterSilhouette(s, d),
      Some(x86Oracle),
      "bucket-local silhouette QC of semantic-dedup clusters (exact)"),

    // ── x86's silhouette served from the persisted IVF assignment +
    // persisted clusters (the x64s/x82s discipline): identical rows —
    // the oracle string IS x86's — but the membership frame is two
    // artifact reads, no k-means / pair-clustering re-derivation.
    "x86s_silhouette_serve" -> QueryDef(
      (s, d) => {
        prepareServe(s, d)
        silhouetteFrom(s, s"${serveRoot(d)}/ivf", s"${serveRoot(d)}/clusters")
      },
      Some(x86Oracle),
      "silhouette serve path: QC from persisted index + clusters"),

    // ── CSLS-rescored retrieval (see [[cslsRescore]]): the correction
    // for the hub pathology x63 audits — each probe's candidates
    // re-rank by 2·cos − r(probe) − r(candidate), all in exact
    // micro-unit integers.
    "x87_csls_rescore" -> QueryDef(
      (s, d) => cslsRescore(s, d),
      Some(x87Oracle),
      "CSLS hubness-corrected retrieval over the IVF neighborhood"),

    // ── x87's CSLS retrieval served from the persisted IVF assignment:
    // identical rows — the oracle string IS x87's — with zero training.
    "x87s_csls_serve" -> QueryDef(
      (s, d) => {
        prepareServe(s, d)
        cslsFrom(s, s"${serveRoot(d)}/ivf", s"${serveRoot(d)}/csls_rm")
      },
      Some(x87Oracle),
      "CSLS serve path: rescored retrieval from the persisted index"),

    // ── Hard-negative mining (see [[hardNegatives]]): x12's nprobe
    // candidates minus the probe's own x41 semantic-dedup cluster —
    // near-but-not-duplicate, the contrastive-training negative that
    // random sampling (x44) can't produce and same-cluster picks would
    // poison as false negatives.
    "x96_hard_negatives" -> QueryDef(
      (s, d) => hardNegatives(s, d),
      Some(x96Oracle),
      "ANN hard negatives: top-k probed candidates outside own cluster"),

    // ── x96's mining served from the persisted IVF index + clusters
    // (the x12s/x64s/x86s discipline): identical rows — the oracle
    // string IS x96's — with zero k-means and zero re-clustering, so
    // the row prices what a serve-tier miner pays per probe batch.
    "x96s_negatives_serve" -> QueryDef(
      (s, d) => {
        prepareServe(s, d)
        hardNegativesFrom(s, d, s"${serveRoot(d)}/ivf",
          s"${serveRoot(d)}/clusters")
      },
      Some(x96Oracle),
      "hard-negative serve path: mining from persisted index + clusters"),

    // ── IVF append-without-retrain (see [[ivfAppend]]): new-batch
    // vectors assign map-only against centroids FROZEN on the old
    // corpus; output is the per-bucket growth audit that tells an index
    // operator when ingest drift forces a retrain.
    "x88_ivf_append" -> QueryDef(
      ivfAppend,
      Some(x88Oracle),
      "new-batch assignment against frozen centroids + growth audit"),

    // ── Two-level coarse→fine probe routing — the scale path the
    // BroadcastCentroidLimit docs promise for C past the flip bound:
    // Lloyd over the fine centroid table yields √C coarse groups, a
    // probe scores those (broadcast fold), expands its top CoarseProbe
    // groups, and argmaxes only their fine members. Approximate by
    // design; the in_flat column audits agreement with the flat
    // score-all-C router per routed bucket (the x90 discipline on the
    // router). See [[twoLevelRoute]].
    "x99_ivf_coarse_route" -> QueryDef(
      (s, d) => twoLevelRoute(s, d),
      Some(x99Oracle),
      "two-level coarse->fine IVF routing + flat-router agreement"),

    // ── x99 served from the persisted index: fine centroids from the
    // manifest-seeded artifact, coarse groups from the coarse artifact
    // built beside them — zero training jobs per call (IvfIndexSpec
    // pins zero jobs at plan construction). Identical rows (the coarse
    // trainer is deterministic in the fine table — the oracle IS x99's).
    "x99s_coarse_route_serve" -> QueryDef(
      (s, d) => twoLevelRouteServe(s, d),
      Some(x99Oracle),
      "two-level routing from the persisted index (serve path)"),

    // ── Int8 scalar quantization: per-vector min/max affine mapping to
    // [0,255] — the 4× compression step a 100 TB vector store ships
    // before ANN serving (float32 → uint8). Map-only array expressions;
    // parity holds because every step is IEEE-exact on both engines:
    // float→double widening, one multiply, one divide (correctly
    // rounded), then floor lands on exact integers. The md5 of the
    // rendered codes pins the whole codebook byte-for-byte; qmin/qscale
    // are what a dequantizer needs to reconstruct.
    // ── Per-label embedding-centroid drift vs the corpus centroid —
    // x45's exact-integer-L1 audit applied to vectors: catches a class
    // (or a source, with a different grouping column) whose embeddings
    // shifted after a re-embed or an upstream model change. Per-dim
    // quantized sums are exact BIGINTs, the distance numerator
    // Σ_d |sl·n_all − sg·n_label| is DECIMAL(38,0) ↔ HUGEINT algebra,
    // and the only float work is one shared-spelling division at the
    // end. Shape: one posexplode + (label, dim) aggregation over the
    // corpus; everything downstream is ≤ |labels|·dims rows, broadcast.
    "x48_embed_drift" -> QueryDef(
      (s, d) => {
        graft.GraftExtensions.ensureInstalled(s)
        val e = Tables.embeddings(s, d)
          .select(col("label"), expr(sparkQuant).as("qe"))
        val dims = e.select(col("label"),
          posexplode(col("qe")).as(Seq("dim", "v")))
        val perL = dims.groupBy("label", "dim")
          .agg(sum(col("v")).as("sl"))
          .transform(graft.Caches.scoped)
        val nL = e.groupBy("label").agg(count(lit(1)).as("n_label"))
        val glob = perL.groupBy("dim").agg(sum(col("sl")).as("sg"))
        val nAll = e.agg(count(lit(1)).as("n_all"))
        perL.join(broadcast(glob), Seq("dim"))
          .join(broadcast(nL), Seq("label"))
          .crossJoin(broadcast(nAll))
          .withColumn("term", abs(
            col("sl").cast("decimal(38,0)") * col("n_all") -
              col("sg").cast("decimal(38,0)") * col("n_label")))
          .groupBy(col("label"), col("n_label"), col("n_all"))
          .agg(sum(col("term")).as("num"))
          .select(col("label"), col("n_label"),
            (col("num").cast("double") /
              (col("n_label").cast("double") * col("n_all").cast("double")))
              .as("drift"))
          .orderBy("label")
      },
      Some(s"""
WITH q AS (SELECT label, $duckQuant AS qe FROM embeddings),
dd AS (
  SELECT label, i.i AS dim, qe[i.i] AS v
  FROM q CROSS JOIN generate_series(1, $Dims) i(i)
),
pl AS (SELECT label, dim, CAST(sum(v) AS BIGINT) AS sl
       FROM dd GROUP BY 1, 2),
nl AS (SELECT label, CAST(count(*) AS BIGINT) AS n_label
       FROM q GROUP BY 1),
gl AS (SELECT dim, CAST(sum(sl) AS BIGINT) AS sg FROM pl GROUP BY 1),
na AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM q),
agg AS (
  SELECT pl.label, nl.n_label, na.n_all,
    sum(abs(CAST(pl.sl AS HUGEINT) * na.n_all
          - CAST(pl_g.sg AS HUGEINT) * nl.n_label)) AS num
  FROM pl JOIN gl pl_g USING (dim) JOIN nl USING (label) CROSS JOIN na
  GROUP BY 1, 2, 3
)
SELECT label, n_label,
  CAST(num AS DOUBLE)
    / (CAST(n_label AS DOUBLE) * CAST(n_all AS DOUBLE)) AS drift
FROM agg ORDER BY label"""),
      "per-label embedding-centroid drift vs corpus (exact integer L1)"),

    "x28_embed_quantize" -> QueryDef(
      (s, d) => Tables.embeddingsSpread(s, d)
        .withColumn("v",
          expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
        .withColumn("vmin", expr("array_min(v)"))
        .withColumn("vmax", expr("array_max(v)"))
        .withColumn("q", expr(
          """CASE WHEN vmax > vmin
             THEN transform(v, x ->
               CAST(floor((x - vmin) * 255.0 / (vmax - vmin)) AS INT))
             ELSE transform(v, x -> 0) END"""))
        .select(col("vec_id"), col("vmin"), col("vmax"),
          expr("aggregate(q, 0L, (a, x) -> a + x)").as("q_sum"),
          expr("CAST(size(q) AS BIGINT)").as("dim"),
          md5(expr("array_join(q, ',')").cast("binary")).as("q_md5"))
        .orderBy("vec_id"),
      Some("""
WITH t AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
m AS (
  SELECT vec_id, v, list_min(v) AS vmin, list_max(v) AS vmax FROM t
),
q AS (
  SELECT vec_id, vmin, vmax,
    CASE WHEN vmax > vmin
    THEN list_transform(v, x ->
      CAST(floor((x - vmin) * 255.0 / (vmax - vmin)) AS INTEGER))
    ELSE list_transform(v, x -> 0) END AS q
  FROM m
)
SELECT vec_id, vmin, vmax,
  CAST(coalesce(list_sum(q), 0) AS BIGINT) AS q_sum,
  CAST(len(q) AS BIGINT) AS dim,
  md5(array_to_string(q, ',')) AS q_md5
FROM q ORDER BY vec_id"""),
      "per-vector int8 affine quantization: 4x smaller vectors, md5-pinned"),

    // ── Per-dimension embedding distribution stats — the whitening /
    // normalization input (mean, population variance, range per dim).
    // Float sums are merge-order-dependent, so every coordinate is
    // fixed-pointed to integer micro-units first (the x36 rule), the
    // moments accumulate exactly (second moment in DECIMAL(38,0) ↔
    // HUGEINT — 1e14 per row overflows BIGINT at corpus scale), and the
    // float mean/variance are re-derived at the end with the SAME
    // association order in both SQL texts (the a14 rule). One explode +
    // one dim-keyed partial aggregation: post-shuffle rows = dim count,
    // independent of corpus size.
    "x59_embed_dim_stats" -> QueryDef(
      (s, d) => Tables.embeddingsSpread(s, d)
        .select(posexplode(col("embedding")).as(Seq("pos", "x")))
        .select((col("pos") + 1).cast("bigint").as("dim"),
          expr("CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5d) AS BIGINT)")
            .as("xf"))
        .groupBy("dim")
        .agg(count(lit(1)).as("n"), sum("xf").as("sx"),
          sum(expr("CAST(xf AS DECIMAL(38,0)) * CAST(xf AS DECIMAL(38,0))"))
            .as("sxx"),
          min("xf").as("min_micro"), max("xf").as("max_micro"))
        .select(col("dim"), col("n"), col("sx"),
          col("sxx").cast("string").as("sxx"),
          col("min_micro"), col("max_micro"),
          expr("CAST(sx AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0d)")
            .as("mean"),
          expr("""CAST(CAST(n AS DECIMAL(38,0)) * sxx
                 - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0))
                 AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 1e12)"""
            .replace('\n', ' ')).as("var_pop"))
        .orderBy("dim"),
      Some("""
WITH f AS (
  SELECT i AS dim,
    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
      AS xf
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)
)
SELECT CAST(dim AS BIGINT) AS dim, CAST(count(*) AS BIGINT) AS n,
  CAST(sum(xf) AS BIGINT) AS sx,
  CAST(sum(CAST(xf AS HUGEINT) * CAST(xf AS HUGEINT)) AS VARCHAR) AS sxx,
  CAST(min(xf) AS BIGINT) AS min_micro,
  CAST(max(xf) AS BIGINT) AS max_micro,
  CAST(sum(xf) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1000000.0)
    AS mean,
  CAST(CAST(count(*) AS HUGEINT)
         * sum(CAST(xf AS HUGEINT) * CAST(xf AS HUGEINT))
       - CAST(sum(xf) AS HUGEINT) * CAST(sum(xf) AS HUGEINT) AS DOUBLE)
    / (CAST(count(*) AS DOUBLE) * CAST(count(*) AS DOUBLE) * 1e12)
    AS var_pop
FROM f GROUP BY dim ORDER BY dim"""),
      "exact per-dimension embedding moments (whitening input) via integer fixed-point"),

    // ── kNN-graph hubness audit: in/out-degree of the bucket-local
    // k-nearest-neighbor graph. Hub vectors (in-degree ≫ k) are the
    // classic high-dimensional pathology — they crowd every neighbor
    // list, distort near-dup clustering, and sink retrieval diversity —
    // so a corpus QC pass flags them before ANN serving. Same
    // bucket-local shape as x11: the quadratic scan is confined to IVF
    // buckets, the kNN edge set is ≤ |V|·k rows, and each degree count
    // is one equi-shuffle on the endpoint id. out_degree < k exposes
    // under-filled buckets (isolation), is_hub pins the audit's verdict.
    "x63_knn_hubness" -> QueryDef(
      (s, d) => knnHubness(s, d),
      Some(s"""
WITH $duckQuantizedCte,
$duckKmeansCtes,
$duckAssignedCtes,
knn AS (
  SELECT src, dst FROM (
    SELECT a.vec_id AS src, b.vec_id AS dst,
      row_number() OVER (PARTITION BY a.vec_id ORDER BY
        ${duckCos("a.qe", "a.qn", "b.qe", "b.qn")}
        DESC, b.vec_id) AS rn
    FROM assigned a JOIN assigned b
      ON a.bucket = b.bucket AND a.vec_id != b.vec_id)
  WHERE rn <= $K
),
ind AS (SELECT dst, count(*) AS ic FROM knn GROUP BY 1),
outd AS (SELECT src, count(*) AS oc FROM knn GROUP BY 1)
SELECT a.vec_id, a.bucket,
  CAST(coalesce(i.ic, 0) AS BIGINT) AS in_degree,
  CAST(coalesce(o.oc, 0) AS BIGINT) AS out_degree,
  (CAST(coalesce(i.ic, 0) AS BIGINT) >= ${2 * K}) AS is_hub
FROM assigned a
LEFT JOIN ind i ON a.vec_id = i.dst
LEFT JOIN outd o ON a.vec_id = o.src
ORDER BY a.vec_id"""),
      "kNN-graph in/out-degree per vector: hub detection before ANN serving"),

    // ── Cluster-vs-label purity audit: how homogeneous are the x41
    // semantic-dedup clusters w.r.t. the supervised `label` column? Low
    // purity on large clusters means the near-dup threshold is merging
    // semantically distinct documents — the canonical QC before an x42
    // canonical-doc collapse is allowed to drop data. Recomposes the
    // EXACT x41 clusters ([[embClusterAssignment]] / `clusters` CTE —
    // one shared spelling), joins the tiny label column, and reduces per
    // cluster: majority label via partial-aggregable max(struct(cnt,
    // -label)) (the j14/x61 argmax respell — no window, map-side
    // combinable), purity as ONE exact-integer division. Post-CC rows
    // are |V| at worst, the per-cluster state is one struct.
    "x64_cluster_purity" -> QueryDef(
      (s, d) => purityOf(embClusterAssignment(s, d),
        Tables.embeddings(s, d).select(col("vec_id"), col("label"))),
      Some(x64Oracle),
      "label purity of the x41 semantic-dedup clusters (merge-threshold QC)"))
}
