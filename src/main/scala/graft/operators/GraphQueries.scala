package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Link-analysis operators over graphs derived from the relational
  * tables — the crawl-seed / item-importance scoring tier of a
  * training-data pipeline (rank sources before you spend crawl or
  * annotation budget on them). The reference has no graph operators;
  * this extends its analytics surface the way its co-occurrence
  * reports (`analysis_queries.sql`-style rollups) extend plain counts.
  *
  * Everything is fixed-point integer arithmetic so the DuckDB oracle
  * hash-matches bit-for-bit: ranks are scaled to 1e12 ("rank_fp"),
  * every division is a positive-operand floor division with the SAME
  * association order in both SQL texts, and the iteration count is a
  * fixed constant unrolled in the oracle — per-round states are
  * identical engine-to-engine, so any cap works (the x14/x41 argument).
  *
  * Scale shape: the co-purchase self-join fans out per order as
  * (items-per-order)², which is bounded (~7 line items), so the edge
  * build is linear in lineitem; the edge list is built ONCE, persisted,
  * and re-scanned by each PageRank round, while the rank table (one row
  * per node) is the small side AQE broadcasts — the same layout the
  * Components loop uses (Components.scala's measured trade).
  */
object GraphQueries {

  /** PageRank iterations — fixed and unrolled in the oracle. sf0.1's
    * co-purchase graph is well-mixed (every node has out-edges, graph
    * is symmetric and dense: 2.4M edges over 20k parts, 99.7% weight-1),
    * so the ranking stabilizes within 3 damped rounds; the oracle
    * identity holds at ANY constant — each extra round costs one full
    * edge-table scan, so the constant is the price knob, not a
    * correctness one.
    */
  private val PrRounds = 3

  /** Fixed-point scale for ranks: 1e12 per unit of probability mass. */
  private val PrScale = 1000000000000L

  /** Per-order distinct part sets `(ok, pks)` from lineitem. */
  private def orderSets(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      // pre-partition on the aggregation key at an explicit width: the
      // groupBy reuses the partitioning (no second exchange — guide
      // §2.4), but unlike the ENSURE_REQUIREMENTS exchange AQE would
      // insert, a user repartition is not byte-coalesced — and the
      // sets/pair-explode stage is compute-dense while its shuffle
      // bytes are tiny, so AQE otherwise ran it 3-4 wide (r13 profile:
      // ~2.3 s of set-build + fan-out compute on 4 tasks). Volume-
      // neutral at scale: collect_set's partial aggregation barely
      // reduces (ok is ~unique per 7 rows), so shuffling raw (ok, pk)
      // pairs carries the same bytes the partial-agg output would.
      //
      // MEASURED DEAD END (r14): collect_set plans an
      // ObjectHashAggregate that falls back to sort-based aggregation
      // past 128 groups/partition (every real partition here), ~10
      // CPU-s of the build at sf0.1 — but the "fix", respelling this as
      // distinct (ok, pk) + a colocated self-join on ok (the oracle's
      // own li-JOIN-li shape, zero extra exchanges, no object agg),
      // measured WORSE end to end in a quieter window (x46 min floor
      // 3.07 → 3.38 s, x71 1.38 → 1.76): the map-side set explode beats
      // the join machinery's sort+stream overhead at this volume, and
      // at scale both are one exchange + linear per-row work. Reverted;
      // the object-agg CPU is the known price of the one-shuffle shape.
      .repartition(s.sparkContext.defaultParallelism, col("ok"))
      .groupBy("ok").agg(collect_set(col("pk")).as("pks"))

  /** Weighted co-purchase edge list (src, dst, w) — the shared graph
    * under x46 PageRank and x61 label propagation. Pair expansion via
    * ONE shuffle: group line items by order (collect_set = the oracle's
    * SELECT DISTINCT, [[orderSets]]), then explode the per-order part
    * set against itself map-side. Relationally identical to distinct +
    * self-join on l_orderkey but pays one 600k-row shuffle instead of
    * three (distinct, join-left, join-right). Fan-out is
    * (items-per-order)² — bounded by order size (~7 here); a
    * pathological million-item "order" would need a pre-cap upstream.
    */
  private def pairsFrom(sets: DataFrame): DataFrame =
    sets
      .select(explode(col("pks")).as("src"), col("pks"))
      .select(col("src"), explode(col("pks")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))

  /** [[pairsFrom]] over lineitem, persisted: each consumer re-scans
    * the cache, not the build.
    */
  private def copurchaseEdges(s: SparkSession, d: String): DataFrame =
    pairsFrom(orderSets(s, d)).transform(graft.Caches.scoped)

  /** The DuckDB spelling of [[copurchaseEdges]] (CTEs `li`, `e`). */
  private val edgeCtes: String =
    """li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
            FROM lineitem),
e AS (
  SELECT a.pk AS src, b.pk AS dst, CAST(count(*) AS BIGINT) AS w
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
  GROUP BY 1, 2
)"""

  /** Co-purchase PageRank over parts: edge (a, b) with weight = number
    * of orders whose line items contain both parts; [[PrRounds]] damped
    * rounds (d = 0.85 spelled as integer 85/15 over 100); top 100 parts.
    *
    * The per-edge contribution floor-divides BEFORE summing —
    * `(rank * w) div wout` per edge, then sum — so both engines
    * aggregate exactly the same integers regardless of their float
    * libms or sum orders.
    *
    * Scale bound: every round broadcasts the per-node state table (and
    * the transition build broadcasts the per-node `wout` table). A
    * (bigint, bigint) state row costs ~50 bytes in a broadcast hash
    * relation, so 4M nodes is ~200 MB per round. There is no second
    * round path: a state table past Spark's broadcast limits
    * (`spark.driver.maxResultSize`, or the 8 GB broadcast cap) fails
    * the query loudly. TPC-H has 200,000 × SF parts, 20k at sf0.1.
    */
  def partPagerank(s: SparkSession, d: String): DataFrame = {
    val (ew, nodes, n) = transitionTable(s, d)
    pagerankFrom(ew, nodes, n)
  }

  /** The PageRank PREPARATION half — co-purchase transition table
    * (src, dst, w, wout), node table and node count — factored so the
    * self-contained x46 and the [[GraphServe]] artifact build share one
    * spelling.
    */
  private[graft] def transitionTable(s: SparkSession,
      d: String): (DataFrame, DataFrame, Long) = {
    // wout comes from the per-order sets, NOT from a second pass over the
    // edge list: Σ_dst w(src,dst) counts (order, dst) co-occurrences, so
    // wout(src) = Σ_{orders ∋ src} (|pks| − 1) — one cheap aggregation on
    // the pre-pair 150k-row frame instead of re-aggregating and
    // shuffle-joining the 2.4M-row edge table. The sets frame is
    // persisted because two branches (pairs, wout) read it; the edge
    // list itself is consumed exactly once into `ew`, so only the joined
    // transition table is edge-sized and persisted — every PageRank
    // round scans IT directly.
    val sets = orderSets(s, d).transform(graft.Caches.scoped)
    // persisted: the node count below materializes this one explode+agg
    // pass, and the transition build and the node table then read the
    // cache instead of aggregating the corpus again
    val wout = sets
      .select(explode(col("pks")).as("src"),
        (size(col("pks")) - 1).cast("bigint").as("k"))
      .groupBy("src").agg(sum(col("k")).as("wout"))
      .transform(graft.Caches.scoped)
    // n is the oracle's SELECT DISTINCT src FROM ew: a part has an
    // out-edge iff some order pairs it with another part iff wout > 0.
    // It lands on the driver before round 1, so the plan's uniform base
    // rank is a LITERAL — exactly what the oracle's scalar subquery
    // evaluates to.
    val n = wout.agg(count(when(col("wout") > 0, 1))).head().getLong(0)
    val ew = pairsFrom(sets)
      .join(broadcast(wout), Seq("src"))
      .transform(graft.Caches.scoped)
    // node table derived from the CACHED |nodes|-row wout frame, not a
    // distinct over the 2.4M-row edge cache
    val nodes = wout.filter(col("wout") > 0)
      .select(col("src").as("node"))
    (ew, nodes, n)
  }

  /** The PageRank ROUND half over a prepared (transition, nodes, n)
    * triple — shared by the self-contained x46 and the serve row
    * reading the persisted artifacts.
    */
  private def pagerankFrom(ew: DataFrame, nodes: DataFrame,
      n: Long): DataFrame = {
    // degenerate graph (no multi-item order anywhere → no edges, n = 0):
    // the uniform base rank would be `div 0` — ANSI throws — and the
    // oracle's scalar subquery would divide by zero too. An empty graph
    // has an empty ranking; return it with the declared schema instead
    // of crashing (EdgeGraphSpec pins this).
    if (n == 0L)
      return nodes.select(col("node").as("p_partkey"),
        col("node").as("rank_fp")).limit(0)
    val base = s"(CAST($PrScale AS BIGINT) div ${n}L)"
    var rank = nodes.select(col("node"), expr(base).as("rank"))
    for (r <- 1 to PrRounds) {
      // Each NON-FINAL round is MATERIALIZED (eager localCheckpoint,
      // the Components discipline): the small-side build then collects
      // 20k finished rows instead of re-planning the whole nested round
      // chain, and lineage stays constant-depth. The last round flows
      // straight into the one downstream consumer (TakeOrdered), so
      // checkpointing it would only add a materialization job. On a
      // cluster, swap for reliable checkpoints as in Components. The
      // explicit hint: AQE can't see through the lazily nested round
      // plans to broadcast on its own (measured 6.9 s for 3 shuffle-join
      // rounds vs ~2 s broadcast at sf0.1).
      val next = ew
        .join(broadcast(rank.withColumnRenamed("node", "src")), Seq("src"))
        .select(col("dst").as("node"),
          expr("(rank * w) div wout").as("c"))
        .groupBy("node").agg(sum(col("c")).as("contrib"))
        .select(col("node"),
          expr(s"($base * 15) div 100 + (85 * contrib) div 100")
            .as("rank"))
      rank = if (r < PrRounds) graft.Caches.checkpointed(next) else next
    }
    rank.select(col("node").as("p_partkey"), col("rank").as("rank_fp"))
      .orderBy(col("rank_fp").desc, col("p_partkey"))
      .limit(100)
  }

  /** The DuckDB twin: same graph, same integer spelling, PrRounds
    * unrolled as chained CTEs. DuckDB's `//` truncates toward zero
    * (probed: −7 // 2 = −3 — same as Spark's `div` and JVM long
    * division; floor vs truncate is moot here anyway since every
    * operand is positive); every aggregate is re-CAST to BIGINT
    * because DuckDB widens sums to HUGEINT.
    */
  private def pagerankOracle: String = {
    val base = s"(CAST($PrScale AS BIGINT) // n)"
    def round(cur: String, prev: String) = s"""
$cur AS (
  SELECT ew.dst AS node,
    $base * 15 // 100
      + (85 * CAST(sum((r.rank * ew.w) // ew.wout) AS BIGINT)) // 100
      AS rank,
    r.n AS n
  FROM ew JOIN $prev r ON ew.src = r.node
  GROUP BY ew.dst, r.n
)"""
    val rounds = (1 to PrRounds)
      .map(i => round(s"r$i", s"r${i - 1}")).mkString(",")
    s"""
WITH $edgeCtes,
ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS wout FROM e GROUP BY 1),
ew AS (SELECT e.src, e.dst, e.w, ow.wout FROM e JOIN ow USING (src)),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n
       FROM (SELECT DISTINCT src FROM ew)),
r0 AS (
  SELECT src AS node, $base AS rank, n
  FROM (SELECT DISTINCT src FROM ew) CROSS JOIN nn
),$rounds
SELECT node AS p_partkey, rank AS rank_fp
FROM r$PrRounds
ORDER BY rank_fp DESC, p_partkey
LIMIT 100"""
  }

  /** Label-propagation rounds — fixed and unrolled in the oracle, the
    * same constant-rounds identity as PageRank: synchronous updates from
    * a deterministic start (label = node id) with a total-order argmax
    * (mass DESC, label ASC) make every per-round state identical
    * engine-to-engine, so ANY constant hash-matches; more rounds only
    * buy community quality, each at one edge-scan + argmax window.
    */
  private val LpRounds = 2

  /** Community detection by synchronous label propagation over the
    * co-purchase graph: each round a node adopts the label with the
    * largest incident edge-weight mass among its neighbors (tie → min
    * label). The corpus-curation use: communities = coherent product /
    * document neighborhoods to stratify or cap before sampling. All
    * integer arithmetic; the per-round shape is one broadcast-able
    * label join + a (node, label) partial agg + a node-keyed argmax
    * window — label state is one row per node, so rounds scale with the
    * edge list, never node² (the x14 Components argument).
    */
  def labelPropagation(s: SparkSession, d: String): DataFrame = {
    val sets = orderSets(s, d).transform(graft.Caches.scoped)
    val edges = pairsFrom(sets)
      .transform(graft.Caches.scoped)
    // node set from the pre-pair sets, not a distinct over the edge
    // cache (the x46 move): a part is a node iff some order pairs it
    // with another part iff it sits in a ≥2-item set — the same set as
    // DISTINCT src FROM edges, derived from the 150k-row sets frame
    // instead of the 2.4M-row pair table
    val nodes = sets.filter(size(col("pks")) >= 2)
      .select(explode(col("pks")).as("node")).distinct()
    labelRoundsFrom(edges, nodes)
  }

  /** The propagation ROUND half over prepared (edges, nodes) — shared
    * by the self-contained x61 and the serve row reading the persisted
    * [[GraphServe]] transition table (whose (src, dst, w) columns ARE
    * x61's edge list, and whose node table IS x61's node set: a part
    * has wout > 0 iff some ≥2-item order pairs it).
    */
  private def labelRoundsFrom(edges: DataFrame,
      nodes: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    var labels = nodes.select(col("node"), col("node").as("label"))
    for (_ <- 1 to LpRounds) {
      // argmax spelled as max(struct(mass, -label)) — lexicographic max
      // = (mass DESC, label ASC) exactly, but partial-aggregable
      // map-side, so each round pays combiner-reduced exchanges instead
      // of a sort-based row_number window over every (node, label) pair.
      // NOT per-round-checkpointed like partPagerank: at LpRounds = 2
      // the nesting is shallow and the checkpoint jobs cost more than
      // the re-planning they save (A/B measured 3.1 s plain vs 4.3-5.2 s
      // checkpointed at sf0.1); past ~3 rounds flip to the
      // partPagerank discipline. Broadcast hinted for the same reason
      // as partPagerank's rounds, under the same scale bound.
      labels = edges
        .join(broadcast(labels.withColumnRenamed("node", "src")),
          Seq("src"))
        .groupBy(col("dst"), col("label"))
        .agg(sum(col("w")).as("mass"))
        .groupBy(col("dst").as("node"))
        .agg(max(struct(col("mass"), (-col("label")).as("nl"))).as("top"))
        .select(col("node"), (-col("top.nl")).as("label"))
    }
    labels.select(col("node").as("p_partkey"),
      col("label").as("community"),
      count(lit(1)).over(Window.partitionBy("label")).cast("bigint")
        .as("community_size"))
      .orderBy("p_partkey")
  }

  /** DuckDB twin: LpRounds unrolled as (mass, argmax) CTE pairs. */
  private def labelPropOracle: String = {
    def round(i: Int) = s"""
m$i AS (
  SELECT e.dst AS node, l.label, CAST(sum(e.w) AS BIGINT) AS mass
  FROM e JOIN l${i - 1} l ON e.src = l.node
  GROUP BY 1, 2
),
l$i AS (
  SELECT node, label FROM (
    SELECT node, label,
      row_number() OVER (PARTITION BY node ORDER BY mass DESC, label)
        AS rn
    FROM m$i)
  WHERE rn = 1
)"""
    val rounds = (1 to LpRounds).map(round).mkString(",")
    s"""
WITH $edgeCtes,
l0 AS (SELECT src AS node, src AS label
       FROM (SELECT DISTINCT src FROM e)),$rounds
SELECT node AS p_partkey, label AS community,
  CAST(count(*) OVER (PARTITION BY label) AS BIGINT) AS community_size
FROM l$LpRounds ORDER BY p_partkey"""
  }

  /** Triangle counting + exact clustering coefficient per part (the
    * declared `x71_triangle_cc`) over the co-purchase graph — the local
    * cohesion audit of the link-analysis tier: a part whose neighbors
    * also co-occur with each other sits inside a coherent product
    * cluster, one with many neighbors but no closures is a hub that
    * bridges unrelated baskets (stratify or cap before sampling).
    *
    * Algorithm: degree-ordered edge orientation — every undirected edge
    * points from its lower (degree, id) endpoint to the higher — then
    * each triangle is enumerated exactly once as a wedge at its
    * lowest-ordered corner closed by one edge lookup. This is the
    * standard distributed triangle shape: wedge fan-out at a node is its
    * ORIENTED out-degree, which the degree ordering bounds by O(√m)
    * regardless of raw hub degree, so a celebrity part with a million
    * co-purchases generates √-bounded wedges instead of degree² (the
    * skew argument that makes this survive 100 TB; both joins are plain
    * equi-joins on node keys). The clustering coefficient is reported as
    * the exact integer pair (cc_num = 2·triangles,
    * cc_den = deg·(deg−1)) rather than a float division — downstream
    * consumers divide once if they want the ratio; the oracle compare
    * stays pure BIGINT.
    */
  def triangleCc(s: SparkSession, d: String): DataFrame =
    triangleCcOver(copurchaseEdges(s, d))

  /** x71's reduction over ANY symmetric (src, dst) edge list — shared
    * by the self-contained row and the serve twin reading the
    * persisted [[GraphServe]] transition table.
    */
  private def triangleCcOver(edges: DataFrame): DataFrame = {
    // undirected degree: the edge list is symmetric, so out-neighbors
    // count it; one row per node, AQE broadcasts it into the joins
    val deg = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    val once = edges.filter(col("src") < col("dst"))
      .join(deg.withColumnRenamed("node", "src")
        .withColumnRenamed("deg", "sdeg"), Seq("src"))
      .join(deg.withColumnRenamed("node", "dst")
        .withColumnRenamed("deg", "ddeg"), Seq("dst"))
    val fwd = col("sdeg") < col("ddeg") ||
      (col("sdeg") === col("ddeg") && col("src") < col("dst"))
    val eo = once.select(
      when(fwd, col("src")).otherwise(col("dst")).as("u"),
      when(fwd, col("dst")).otherwise(col("src")).as("v"),
      when(fwd, col("ddeg")).otherwise(col("sdeg")).as("vdeg"))
      .transform(graft.Caches.scoped)
    val wedge = eo.as("ab").join(eo.as("ac"),
      col("ab.u") === col("ac.u") &&
        (col("ab.vdeg") < col("ac.vdeg") ||
          (col("ab.vdeg") === col("ac.vdeg") &&
            col("ab.v") < col("ac.v"))))
    val tris = wedge.join(eo.as("bc"),
        col("bc.u") === col("ab.v") && col("bc.v") === col("ac.v"))
      .select(col("ab.u").as("a"), col("ab.v").as("b"), col("ac.v").as("c"))
    val perNode = tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node").as("p_partkey"), col("deg"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        (coalesce(col("triangles"), lit(0L)) * 2).as("cc_num"),
        (col("deg") * (col("deg") - 1)).as("cc_den"))
      .orderBy("p_partkey")
  }

  /** DuckDB twin of [[triangleCc]] — same orientation CASE, same wedge
    * comparison, pure integer output.
    */
  private val triangleOracle: String = s"""
WITH $edgeCtes,
deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
        FROM e GROUP BY 1),
eo AS (
  SELECT CASE WHEN da.deg < db.deg
           OR (da.deg = db.deg AND e.src < e.dst)
         THEN e.src ELSE e.dst END AS u,
         CASE WHEN da.deg < db.deg
           OR (da.deg = db.deg AND e.src < e.dst)
         THEN e.dst ELSE e.src END AS v,
         CASE WHEN da.deg < db.deg
           OR (da.deg = db.deg AND e.src < e.dst)
         THEN db.deg ELSE da.deg END AS vdeg
  FROM e JOIN deg da ON e.src = da.node JOIN deg db ON e.dst = db.node
  WHERE e.src < e.dst
),
tri AS (
  SELECT ab.u AS a, ab.v AS b, ac.v AS c
  FROM eo ab JOIN eo ac ON ab.u = ac.u
    AND (ab.vdeg < ac.vdeg OR (ab.vdeg = ac.vdeg AND ab.v < ac.v))
  JOIN eo bc ON bc.u = ab.v AND bc.v = ac.v
),
corners AS (
  SELECT unnest([a, b, c]) AS node FROM tri
),
pn AS (SELECT node, CAST(count(*) AS BIGINT) AS triangles
       FROM corners GROUP BY node)
SELECT deg.node AS p_partkey, deg.deg,
  coalesce(pn.triangles, 0) AS triangles,
  coalesce(pn.triangles, 0) * 2 AS cc_num,
  deg.deg * (deg.deg - 1) AS cc_den
FROM deg LEFT JOIN pn USING (node)
ORDER BY p_partkey"""

  def defs: Map[String, QueryDef] = Map(
    "x46_part_pagerank" -> QueryDef(
      partPagerank,
      Some(pagerankOracle),
      "co-purchase graph + integer fixed-point PageRank, top 100 parts"),

    // ── x46 served from the persisted transition table (the x12s
    // discipline brought to the graph family): the edge build — the
    // expensive half of the self-contained row — reads from the
    // [[GraphServe]] artifacts, the node count comes from the build
    // manifest (no count() job at plan construction), and only the
    // fixed damped rounds + TakeOrdered run per call. Identical rows
    // (the oracle IS x46's; GraphQueriesSpec pins frame equality).
    "x46s_pagerank_serve" -> QueryDef(
      (s, d) => {
        GraphServe.prepare(s, d)
        val r = GraphServe.root(d)
        val n = java.nio.file.Files.readString(
          java.nio.file.Paths.get(s"$r/node_count.txt")).trim.toLong
        pagerankFrom(
          Tables.parquet(s, s"$r/transition")
            .transform(graft.Caches.scoped),
          Tables.parquet(s, s"$r/nodes"), n)
      },
      Some(pagerankOracle),
      "PageRank served from the persisted transition table"),
    "x61_label_communities" -> QueryDef(
      labelPropagation,
      Some(labelPropOracle),
      "synchronous label-propagation communities over the co-purchase graph"),

    // ── x61 served from the SAME persisted transition table as x46s
    // (one graph artifact serves the whole link-analysis family): the
    // (src, dst, w) columns are x61's edge list verbatim, the node
    // table is x61's node set.
    "x61s_communities_serve" -> QueryDef(
      (s, d) => {
        GraphServe.prepare(s, d)
        val r = GraphServe.root(d)
        labelRoundsFrom(
          Tables.parquet(s, s"$r/transition").select("src", "dst", "w")
            .transform(graft.Caches.scoped),
          Tables.parquet(s, s"$r/nodes"))
      },
      Some(labelPropOracle),
      "label propagation served from the persisted transition table"),
    "x71_triangle_cc" -> QueryDef(
      triangleCc,
      Some(triangleOracle),
      "degree-ordered triangle count + exact clustering coefficient per part"),

    // ── x71 from the same shared graph artifact (the transition
    // table's (src, dst) pairs are the symmetric edge list verbatim).
    "x71s_triangles_serve" -> QueryDef(
      (s, d) => {
        GraphServe.prepare(s, d)
        triangleCcOver(
          Tables.parquet(s, s"${GraphServe.root(d)}/transition")
            .select("src", "dst")
            .transform(graft.Caches.scoped))
      },
      Some(triangleOracle),
      "triangle counting served from the persisted transition table")
  )
}

/** Serve artifacts for the GRAPH family: the co-purchase transition
  * table (src, dst, w, wout) is the expensive half of every link-
  * analysis row (one fan-out + aggregation over all of lineitem), and
  * an application derives it once per data version — the
  * [[AuditServe]] discipline keyed on `lineitem.parquet`. The node
  * count persists alongside as a manifest: x46s's uniform base rank is
  * a literal, so the serve row needs no count() job at plan construction.
  */
object GraphServe {

  private[graft] def root(dir: String): String =
    Serve.root(dir, "lineitem.parquet", Serve.GraphBuilderVersion)

  private val ArtifactDirs = Seq("transition", "nodes")

  /** Every DECLARED row reading this family's serve root — the
    * [[graft.Bench]] pre-build set, co-located like the others.
    */
  val serveRows: Set[String] =
    Set("x46s_pagerank_serve", "x61s_communities_serve",
      "x71s_triangles_serve")

  def prepare(s: SparkSession, dir: String): Unit = synchronized {
    val r = root(dir)
    if (!Serve.complete(r, ArtifactDirs)) graft.Caches.scope(s) {
      // the scope releases the build's caches; a clearCache here would
      // also drop those of the enclosing query and of concurrent scopes
      val (ew, nodes, n) = GraphQueries.transitionTable(s, dir)
      // the repartition's exchange lets AQE coalesce the table into few
      // files (1 at sf0.01, 4 without it), so the serve rows' scans run
      // fewer tasks. Measured without it (Probe summary, sf0.01, 3 runs
      // a side, 2026-10): x61s 0.54-0.58 -> 0.60-0.76 s, x46s and x71s
      // a few percent slower.
      ew.repartition(col("src"))
        .write.mode("overwrite").parquet(s"$r/transition")
      nodes.coalesce(1).write.mode("overwrite").parquet(s"$r/nodes")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$r/node_count.txt"), n.toString)
      Serve.stamp(r)
    }
  }
}
