package graft

/** Pins the automatic broadcast→shuffle flip in the iterative graph
  * queries (x46 PageRank, x61 label propagation): below
  * `BroadcastNodeLimit` each round broadcasts the per-node state table,
  * past it the rounds shuffle-join against the src-partitioned edge
  * cache — and BOTH paths must produce bit-identical integer states,
  * because the flip is a physical-plan decision only (the Components
  * discipline: same rounds, different exchange shape). Forcing
  * `flipAt = 0` exercises the shuffle path on the small fixture, which
  * the production threshold would never select there.
  */
class GraphFlipSpec extends SparkSpec {

  /** Run `body` with AQE's auto-broadcast disabled: on the tiny fixture
    * the unhinted joins of the flipAt = 0 path would otherwise be
    * converted BACK to broadcast at runtime (the state tables are a few
    * KB, far under the 10 MB threshold), and the genuine shuffle-join
    * exchange shape — the thing the flip exists to produce — would
    * never actually execute.
    */
  private def withoutAutoBroadcast[T](body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try body finally spark.conf.set(key, prev)
  }

  test("x46 broadcast and shuffle round paths produce identical ranks") {
    val bc = operators.GraphQueries
      .partPagerank(spark, sf, flipAt = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val sh = withoutAutoBroadcast {
      operators.GraphQueries
        .partPagerank(spark, sf, flipAt = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    assert(bc.nonEmpty)
    assert(bc == sh)
  }

  test("x61 broadcast and shuffle round paths produce identical labels") {
    val bc = operators.GraphQueries
      .labelPropagation(spark, sf, flipAt = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val sh = withoutAutoBroadcast {
      operators.GraphQueries
        .labelPropagation(spark, sf, flipAt = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    }
    assert(bc.nonEmpty)
    assert(bc == sh)
  }

  test("the default entry points use the production threshold") {
    // the registry-facing zero-arg overloads must equal the explicit
    // threshold call — a regression here silently forks the oracle
    val a = operators.GraphQueries.partPagerank(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val b = operators.GraphQueries.partPagerank(spark, sf,
      operators.GraphQueries.BroadcastNodeLimit)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(a == b)
  }
}
