package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Distributed connected components over an undirected edge list — the
  * cluster-assembly step behind near-dup dedup (the declared
  * `x14_dedup_clusters`; cf. the reference's dedup intent at
  * `extract_loan_detail.py:342-353`, window dedup, generalized to graph
  * components for corpus near-dup sets). Alternating star contraction
  * (the two-phase large-star/small-star scheme of Kiveris et al. '14,
  * "Connected Components in MapReduce and Beyond"): each round rewires
  * the EDGE LIST itself toward neighborhood minima, so label information
  * crosses many original hops per round and the fixpoint — a star forest
  * whose centers are the component minima — arrives in O(log²)-ish
  * rounds. This replaced the r13 min-label propagation + pointer-jumping
  * loop, whose convergence was EDGE-DISTANCE-bound (label info travels
  * one hop per round no matter how aggressively labels shortcut —
  * measured: double pointer-jumping left the round count unchanged,
  * while star contraction cut 11 rounds to 4 on the same sf0.001 pair
  * graph). Round count multiplies shuffle count, which is the term that
  * matters at 100 TB.
  *
  * The two operations, on the current edge multiset (self-loop-free,
  * every round's output oriented (bigger, smaller)):
  *
  *   - LARGE-STAR: for every vertex `u`, connect each STRICTLY LARGER
  *     neighbor `v` to `m(u) = min(Γ(u) ∪ {u})`. One groupBy(min) over
  *     the symmetrized edges + one join back. Exactly one output row per
  *     input edge (of a sym pair (a,b)/(b,a), one side passes `v > u`).
  *   - SMALL-STAR: for every vertex `u` (grouping the already-oriented
  *     rows by their bigger end), connect each smaller neighbor and `u`
  *     itself to `m = min` of the smaller neighbors. Emits `(w, m)` for
  *     the non-min smaller neighbors plus `(u, m)` — at most one output
  *     row per input row.
  *
  * Both preserve the partition into connected components (every new
  * edge's endpoints are within one old neighborhood; every old edge's
  * endpoints stay linked through `m` — Kiveris et al., Lemmas 1-2), and
  * both only ever REWIRE DOWNWARD: each output edge is element-wise ≤
  * the input edge it came from. That monotonicity yields an exact,
  * deterministic convergence certificate with no extra pass:
  *
  *   - `count` never increases through either op, and `Φ = Σ (u + v)`
  *     over the edge multiset never increases row-for-row.
  *   - (count, Φ) unchanged across a full round ⟺ large-star moved no
  *     endpoint (every vertex with a larger neighbor is its
  *     neighborhood's min) AND small-star moved none (every vertex has
  *     at most one smaller neighbor, exactly once) ⟺ the multiset is a
  *     duplicate-free star forest with centers < leaves — i.e. every
  *     star's center IS the component minimum (a chain a<b<c or a
  *     two-smaller-neighbor vertex would violate one of the two
  *     conditions). So the first (count, Φ)-stable round is the
  *     fixpoint, and the probe doubles as the round's materializing
  *     action (one barrier per round). Φ is summed in DECIMAL so a
  *     large-id graph cannot wrap the certificate.
  *
  * Scale shape:
  *
  *   - Rounds run on the CONTRACTED graph: only pair endpoints ever
  *     enter a shuffle (isolated vertices rejoin at the end with their
  *     own id), and the multiset never grows past the input edge count
  *     while contraction empties whole neighborhoods into their minima —
  *     later rounds shuffle a small fraction of round 1. No distinct/
  *     dedup pass is paid mid-loop (output size is bounded without it;
  *     small-star dedups (u, m) groups as a side effect).
  *   - Each round is two key-partitioned aggregations and two joins of
  *     a per-vertex min table against the edges — AQE broadcasts the
  *     min tables at bench scale; on a cluster they are plain keyed
  *     joins. No driver-side state beyond the (count, Φ) scalar pair.
  *   - Every round MATERIALIZES and truncates lineage (the round output
  *     is referenced by both of the next round's operations). In
  *     local-checkpoint mode the checkpoint is marked lazily and the
  *     convergence probe's aggregation doubles as the materializing job
  *     — one barrier per round, not two. With `checkpointDir = None`
  *     that is a `localCheckpoint` — executor-memory/disk resident, the
  *     fastest option, correct for local mode and short-lived jobs, but
  *     an executor loss mid-iteration loses blocks and kills the job on
  *     a real cluster. Passing a directory (HDFS/object store) switches
  *     to RELIABLE `checkpoint` into that path, which survives executor
  *     loss at the cost of a distributed write+read per round — the
  *     right default for a 1000-executor run.
  */
object Components {

  /** The DuckDB oracle's connected components: rounds 1..`rounds` of
    * min-label propagation plus pointer jumping over `sym(src, dst)`,
    * starting from a caller-defined `${jump}0(id, label)`. Round i's
    * `$prop$i` takes each vertex's least neighbor label, and `$jump$i`
    * replaces each label with that label's own label. Every round CTE
    * is MATERIALIZED: each is read twice, and an inlining engine would
    * double the plan per round. The one spelling behind the x14/x42,
    * x41/x64 and mm05 oracles.
    */
  def duckCcRoundCtes(rounds: Int, id: String, prop: String,
      jump: String): String =
    (1 to rounds).map { i =>
      s"""$prop$i AS MATERIALIZED (
  SELECT v.$id, least(v.label, coalesce(m.nl, v.label)) AS label
  FROM $jump${i - 1} v LEFT JOIN (
    SELECT s.src, min(l.label) AS nl
    FROM sym s JOIN $jump${i - 1} l ON s.dst = l.$id GROUP BY s.src) m
  ON v.$id = m.src
),
$jump$i AS MATERIALIZED (
  SELECT p.$id, q.label FROM $prop$i p JOIN $prop$i q ON p.label = q.$id
)"""
    }.mkString(",\n")

  /** @param edges     undirected edge list (each pair listed once is
    *                  fine; duplicates and either orientation are
    *                  tolerated). PRECONDITION: endpoints are drawn from
    *                  `vertices` — an endpoint outside the universe
    *                  would still propagate as a component id (the
    *                  function does not pay a per-run semi-join to
    *                  police what the callers' candidate-pair generators
    *                  guarantee by construction).
    * @param srcCol    edge source-vertex column in `edges`
    * @param dstCol    edge destination-vertex column in `edges`
    * @param vertices  full vertex universe (isolated vertices come back
    *                  as singleton components)
    * @param idCol     vertex-id column in `vertices` (also the output
    *                  key; any name except the reserved output column
    *                  `component`)
    * @param maxRounds safety cap on contraction rounds. Star contraction
    *                  needs O(log² n) rounds worst-case and ~log(longest
    *                  path) in practice; the loop stops at the certified
    *                  fixpoint and THROWS if the cap binds first —
    *                  a loud failure instead of silently mislabeled
    *                  components (the r13 pointer-jumping loop returned
    *                  its mid-state here; no caller ever hit the cap,
    *                  and the specs assert convergence).
    * @param checkpointDir None = lazy localCheckpoint (local mode);
    *                  Some(dir) = reliable checkpoint for cluster runs.
    *                  NOTE: sets the session's SparkContext checkpoint
    *                  dir (Spark has no per-job setting) and leaves the
    *                  per-round checkpoint files behind — the returned
    *                  frame still reads the last one lazily — so point
    *                  it at a job-scoped path and delete it after the
    *                  results are consumed.
    * @return (idCol, component) — component = min vertex id reachable
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      vertices: DataFrame, idCol: String,
      maxRounds: Int,
      checkpointDir: Option[String] = None): DataFrame = {
    require(idCol != "component",
      "idCol must not be named 'component' (the reserved output column)")
    // the Φ certificate sums ids as exact decimals: a non-integral id
    // would cast to NULL, coalesce to 0 and leave a count-only check
    for ((df, c) <- Seq(edges -> srcCol, edges -> dstCol, vertices -> idCol))
      df.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType =>
        case t => throw new IllegalArgumentException(
          s"connectedComponents: id column '$c' must be an integral type, " +
            s"got ${t.simpleString}")
      }
    checkpointDir.foreach(
      edges.sparkSession.sparkContext.setCheckpointDir)
    // Every materialized frame in the round loop is immediately consumed
    // by the convergence probe's aggregation, so in LOCAL mode the
    // checkpoint is marked lazily and the probe's job doubles as the
    // materialization — ONE barrier per round (local checkpoints save
    // what the job computed, no recompute). RELIABLE checkpoints stay
    // eager: a lazy `checkpoint()` re-runs the RDD from scratch when
    // saving, which would double every round.
    def materializeOnProbe(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint(true)
      else graft.Caches.checkpointed(df, eager = false)
    // Mid-round frames (the large-star output) are consumed twice within
    // the SAME probe job, so a lazy local checkpoint makes the second
    // read hit blocks for free. In RELIABLE mode an (eager) checkpoint
    // would be a whole extra distributed write+read per round for a
    // frame the next round never needs — there the doubled map-side
    // recompute is the cheaper side of the trade (the min-table exchange
    // below it is deduplicated by ReusedExchange either way).
    def materializeMid(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df
      else graft.Caches.checkpointed(df, eager = false)
    // internal working names so arbitrary caller column names (including
    // "id"/"label") can never collide with the loop's plumbing
    val u = "__cc_u"
    val v = "__cc_v"
    val mn = "__cc_mn"
    // (count, Φ) of the current edge multiset — the convergence
    // certificate AND the materializing action for the lazily
    // checkpointed round output. Φ in decimal(38,0): ids are longs, so
    // Σ(u+v) over ≤10¹² edges stays far under 38 digits.
    def probe(df: DataFrame): (Long, java.math.BigDecimal) = {
      val row = df.agg(
        count(lit(1)),
        coalesce(sum(col(u).cast("decimal(28,0)") +
          col(v).cast("decimal(28,0)")), lit(0).cast("decimal(38,0)")))
        .head()
      (row.getLong(0), row.getDecimal(1).stripTrailingZeros)
    }
    // the caller's pair chain (LSH bands, phash verify, ...) runs exactly
    // once into this first materialization; self-loops carry no
    // connectivity and would break the orientation invariant, so they
    // are dropped here (callers generate a<b pairs — the filter is a
    // no-op guard, not a data pass of its own)
    var cur = materializeOnProbe(
      edges.select(col(srcCol).as(u), col(dstCol).as(v))
        .filter(col(u) =!= col(v)))
    var prev = probe(cur)
    var round = 0
    var converged = prev._1 == 0L // empty edge set: nothing to contract
    while (round < maxRounds && !converged) {
      round += 1
      // LARGE-STAR — sym pairs each edge both ways; every group u routes
      // its larger neighbors to min(Γ(u) ∪ {u}). Output oriented
      // (bigger, smaller): v > u ≥ least(mn, u).
      val sym = cur.unionByName(cur.select(col(v).as(u), col(u).as(v)))
      val mins1 = sym.groupBy(col(u)).agg(min(col(v)).as(mn))
      val ls = materializeMid(sym.join(mins1, u)
        .filter(col(v) > col(u))
        .select(col(v).as(u), least(col(mn), col(u)).as(v)))
      // SMALL-STAR — rows are (bigger, smaller), so grouping by u groups
      // each vertex with ALL its smaller neighbors; everything in the
      // group (u included) rewires to the group min. mins2 is referenced
      // twice but is one exchange — ReusedExchange dedups the subtree.
      val mins2 = ls.groupBy(col(u)).agg(min(col(v)).as(mn))
      val ss = materializeOnProbe(
        ls.join(mins2, u)
          .filter(col(v) =!= col(mn))
          .select(col(v).as(u), col(mn).as(v))
          .unionByName(mins2.select(col(u), col(mn).as(v))))
      val now = probe(ss)
      converged = now == prev
      prev = now
      cur = ss
      if (sys.env.contains("SPARK_GRAFT_CC_DEBUG"))
        Console.err.println(s"[cc] round=$round edges=${now._1} " +
          s"phi=${now._2} converged=$converged")
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not reach its fixpoint within " +
          s"$maxRounds rounds (edges=${prev._1}) — raise maxRounds")
    // fixpoint = duplicate-free star forest oriented (leaf, center):
    // every non-center vertex appears in exactly one row, centers and
    // isolated vertices rejoin as their own component. The min() is
    // degenerate (one row per leaf) — it exists to make the epilog a
    // keyed aggregation rather than trusting uniqueness structurally.
    val labels = cur.groupBy(col(u)).agg(min(col(v)).as(mn))
    vertices.select(col(idCol))
      .join(labels.withColumnRenamed(u, idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col(mn), col(idCol)).as("component"))
  }
}
