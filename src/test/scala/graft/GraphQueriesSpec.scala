package graft

import org.apache.spark.sql.functions._

/** Invariants of the co-purchase PageRank (x46) that the DuckDB oracle
  * can't see: damped-rank bounds, symmetry of the derived graph, and
  * plan-level determinism across executions.
  */
class GraphQueriesSpec extends SparkSpec {

  test("x46 ranks are positive, bounded, and sorted desc with tiebreak") {
    val out = operators.GraphQueries.partPagerank(spark, sf).collect()
    assert(out.nonEmpty && out.length <= 100)
    out.foreach { r =>
      val rank = r.getLong(1)
      // each round mixes 15% of the uniform base back in, so a rank is
      // strictly positive; total mass can't exceed the 1e12 scale (floor
      // divisions only ever lose mass), so no single rank exceeds it
      assert(rank > 0L && rank <= 1000000000000L)
    }
    val sorted = out.map(r => (-r.getLong(1), r.getLong(0))).toSeq
    assert(sorted == sorted.sorted,
      "rows must arrive ordered by rank desc, part asc")
  }

  test("x46 is deterministic across executions") {
    val a = operators.GraphQueries.partPagerank(spark, sf).collect().toSeq
    val b = operators.GraphQueries.partPagerank(spark, sf).collect().toSeq
    assert(a == b)
  }

  test("the co-purchase graph is symmetric: mass flows both ways") {
    // the edge relation is built from unordered co-occurrence, so for
    // every (a, b) there is a (b, a) with the same weight — the property
    // that guarantees no dangling nodes and keeps PageRank well-defined
    // without a dangling-mass correction term
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .groupBy("ok").agg(collect_set(col("pk")).as("pks"))
      .select(explode(col("pks")).as("src"), col("pks"))
      .select(col("src"), explode(col("pks")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
    val asym = li.as("f").join(li.as("r"),
        col("f.src") === col("r.dst") && col("f.dst") === col("r.src"),
        "left")
      .filter(col("r.w").isNull || col("f.w") =!= col("r.w"))
      .count()
    assert(asym == 0L)
  }

  test("x61 matches a JVM brute-force 2-round label propagation") {
    // rebuild the weighted co-purchase graph from scratch on the driver
    val byOrder = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq
      .groupBy(_._1).values.map(_.map(_._2).distinct)
    val w = collection.mutable.Map.empty[(Long, Long), Long]
    byOrder.foreach { pks =>
      for (a <- pks; b <- pks if a != b)
        w((a, b)) = w.getOrElse((a, b), 0L) + 1L
    }
    val nbrs = w.keys.toSeq.groupBy(_._1)
    var label = nbrs.keys.map(n => n -> n).toMap
    for (_ <- 1 to 2) {
      label = nbrs.map { case (node, es) =>
        val mass = es.map { case (_, dst) => dst }
          .groupBy(d => label(d))
          .map { case (l, ds) =>
            l -> ds.map(d => w((node, d))).sum
          }
        val best = mass.toSeq.sortBy { case (l, m) => (-m, l) }.head._1
        node -> best
      }
    }
    val sizes = label.values.toSeq.groupBy(identity).map {
      case (l, g) => l -> g.size.toLong
    }
    val got = SparkEntry.queries("x61_label_communities")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == label.size)
    got.foreach { case (node, community, size) =>
      assert(community == label(node), s"node $node")
      assert(size == sizes(community))
    }
    // propagation must actually coarsen: fewer communities than nodes
    assert(sizes.size < label.size)
  }

  test("building x61's plan launches no Spark job") {
    // the edge and set caches are lazy and the label rounds are one
    // plan, so every job belongs to the consumer's action
    val stages = jobStages(
      SparkEntry.queries("x61_label_communities")(spark, sf))
    spark.catalog.clearCache()
    assert(stages.isEmpty, s"plan construction ran jobs: $stages")
  }

  test("x46s: serving from the persisted transition table equals the " +
      "self-contained x46, and a repeat call reuses the artifact") {
    def rows(name: String) = SparkEntry.queries(name)(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val declared = rows("x46_part_pagerank")
    spark.catalog.clearCache()
    val served = rows("x46s_pagerank_serve")
    assert(served == declared, "serve twin drifted from x46")
    spark.catalog.clearCache()
    // idempotent reuse: the _READY root must survive a second call
    // (content comparison — each rebuild writes a fresh nonce, so this
    // is immune to 1 s filesystem mtime granularity)
    val root = java.nio.file.Paths.get(
      operators.GraphServe.root(sf) + "/_READY")
    val stamp = java.nio.file.Files.readString(root)
    assert(rows("x46s_pagerank_serve") == declared)
    assert(java.nio.file.Files.readString(root) == stamp,
      "artifact was rebuilt")
    spark.catalog.clearCache()
  }

  test("x61s: serving from the shared transition table equals the " +
      "self-contained x61") {
    def rows(name: String) = SparkEntry.queries(name)(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val declared = rows("x61_label_communities")
    spark.catalog.clearCache()
    assert(rows("x61s_communities_serve") == declared,
      "serve twin drifted from x61")
    spark.catalog.clearCache()
  }

  test("x71s: serving from the shared transition table equals the " +
      "self-contained x71") {
    def rows(name: String) = SparkEntry.queries(name)(spark, sf)
      .collect().map(_.toSeq).toSeq
    val declared = rows("x71_triangle_cc")
    spark.catalog.clearCache()
    assert(rows("x71s_triangles_serve") == declared,
      "serve twin drifted from x71")
    spark.catalog.clearCache()
  }
}
