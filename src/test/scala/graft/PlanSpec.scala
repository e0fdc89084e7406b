package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec

/** Physical-plan shape assertions — the properties that make these queries
  * scale are not visible in row-level results, so they're pinned here:
  * filters/projections must reach the parquet scan, small dims must
  * broadcast, the flagship must stay off nested-loop joins, and hot paths
  * must stay inside whole-stage codegen.
  */
class PlanSpec extends SparkSpec {

  private def q(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sf)

  private def scans(df: DataFrame): Seq[FileSourceScanExec] =
    df.queryExecution.sparkPlan.collectLeaves()
      .collect { case f: FileSourceScanExec => f }

  test("p01: filter and projection push into the parquet scan") {
    val scan = scans(q("p01_project_filter")).head
    assert(scan.metadata("PushedFilters").contains("EqualTo(o_orderstatus,O)"),
      scan.metadata("PushedFilters"))
    // 3 selected + 1 filter column; nothing else read from a 6-col table
    assert(scan.requiredSchema.fieldNames.toSet ==
      Set("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"))
  }

  test("j11: dimension joins broadcast (no shuffle of the fact side)") {
    val plan = q("j11_referral_multiway").queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"))
  }

  test("loan_detail: hash joins only, channel aggs reduced before the join") {
    val qe = q("loan_detail").queryExecution
    val plan = qe.sparkPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    // partial aggregation (map-side combine) exists under every channel agg
    assert(plan.contains("HashAggregate"))
    assert("partial_".r.findFirstIn(plan.toLowerCase).isDefined ||
      plan.contains("Partial"))
  }

  test("p02: expression pipeline stays in whole-stage codegen") {
    val df = q("p02_arithmetic_round")
    df.collect() // AQE finalizes (and annotates) the plan only on execution
    val plan = df.queryExecution.executedPlan.toString
    // "*(n)" node prefixes mark whole-stage-codegen stages
    assert(plan.contains("*("), plan.take(1000))
  }

  test("o10: top-k plans as TakeOrderedAndProject, not a full sort") {
    val plan = q("o10_topk").queryExecution.sparkPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
  }

  test("x09: probe side broadcasts; corpus side is never replicated") {
    val plan = q("x09_ann_bruteforce").queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("j13: the banded dimension broadcasts; fact side never shuffles") {
    val plan = q("j13_range_band_join").queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
    // the only exchange below the aggregate is the broadcast itself
    assert(!plan.contains("Exchange hashpartitioning(value"), plan.take(1500))
  }

  test("j14: as-of join keeps its equi conjunct in a hash join") {
    // if Catalyst ever failed to extract user_id = o_custkey from the
    // compound condition, this would silently become a nested-loop join —
    // the one regression that kills the operator at scale
    val plan = q("j14_asof_join").queryExecution.sparkPlan.toString
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      plan.take(1500))
    assert(!plan.contains("NestedLoopJoin"), plan.take(1500))
    // the top-1 pick must stay an aggregation (partial agg collapses
    // the join fan-out map-side); a row_number Window here would
    // shuffle and sort the full event×order fan-out
    assert(plan.contains("Aggregate"), plan.take(1500))
    assert(!plan.contains("Window"), plan.take(1500))
  }

  test("x36: token-keyed score join is a hash/SMJ; only the 1-row total " +
      "broadcasts") {
    // a nested-loop on the corpus-sized token join would be quadratic at
    // scale; the sole BroadcastNestedLoopJoin allowed is the 1-row grand
    // total attached by crossJoin(broadcast(...))
    val plan = q("x36_unigram_logprob").queryExecution.sparkPlan.toString
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      plan.take(1500))
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
  }

  // exchange nodes are inserted by EnsureRequirements, so exchange
  // assertions must execute first and read the final adaptive plan —
  // only the "Final Plan" section (toString repeats the pre-AQE initial
  // plan below it, which would double-count every node)
  private def executedPlan(name: String): String = {
    val df = q(name)
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  test("x18/x19/x20: corpus map stages never hash-shuffle") {
    // repetition / PII-scrub / stratified-sample are pure per-row work;
    // the only exchange allowed is the final orderBy's rangepartitioning
    Seq("x18_repetition_3gram", "x19_pii_scrub", "x20_stratified_sample")
      .foreach { n =>
        val plan = executedPlan(n)
        assert(!plan.contains("Exchange hashpartitioning"),
          s"$n: ${plan.take(800)}")
      }
  }

  test("x17: packing is ONE hash exchange (window partitioning reused)") {
    // the groupBy(lang, bin_id) must reuse the window's hashpartitioning
    // on lang (subset clustering) — a second exchange would mean the
    // aggregation reshuffles what the prefix-sum already co-located
    val plan = executedPlan("x17_pack_sequences")
    val n = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(n == 1, s"expected 1 hash exchange, got $n:\n${plan.take(1200)}")
  }

  test("e06: hopping-window expand is map-side — one hash exchange only") {
    // window(ts, 6h, 2h) must explode each row into its 3 windows BEFORE
    // the aggregation shuffle; a second hash exchange would mean the
    // fan-out itself shuffled (3x the data over the wire)
    val plan = executedPlan("e06_hopping_window")
    val n = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(n == 1, s"expected 1 hash exchange, got $n:\n${plan.take(1200)}")
  }

  test("x28: quantization is a pure map stage; o15 shuffles only rank " +
      "machinery") {
    // x28 is map-only codec work: no hash exchange at all. o15's ranks
    // go through Ranks.globalRank — the only hash exchanges allowed are
    // the cluster-width partition-stats aggregates on _rk_pid (the
    // full-data exchanges are the two range repartitions)
    val x28 = executedPlan("x28_embed_quantize")
    assert(!x28.contains("Exchange hashpartitioning"), x28.take(800))
    val o15 = executedPlan("o15_zorder_key")
    val offending = "Exchange hashpartitioning\\([^)]*".r
      .findAllIn(o15).filterNot(_.contains("_rk_pid")).toList
    assert(offending.isEmpty, s"o15: $offending")
  }

  test("o15: the 32-term Morton interleave stays in whole-stage codegen") {
    val df = q("o15_zorder_key")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), plan.take(1000))
  }

  test("j16: the bloom prefilter sits below every exchange (scan stage)") {
    // the whole point of the prefilter is to kill non-matching fact rows
    // BEFORE any shuffle; if might_contain ever migrated above an
    // exchange the operator would still be correct but pointless. The
    // plan prints parents first, so scan-stage nodes appear after every
    // ancestor Exchange.
    // the bloom BUILD side (printed under "Subqueries") and the
    // dimension's BroadcastExchange own their exchanges legitimately —
    // only SHUFFLES of the probe tree must all sit above the filter
    // (ancestors print first, so deeper = later in the text)
    val plan = executedPlan("j16_bloom_semi_join").split("Subqueries")(0)
    val mc = plan.indexOf("might_contain")
    assert(mc >= 0, plan.take(1200))
    val lastShuffle = math.max(
      plan.lastIndexOf("Exchange hashpartitioning"),
      plan.lastIndexOf("Exchange rangepartitioning"))
    assert(lastShuffle < mc,
      s"might_contain at $mc, shuffle at $lastShuffle:\n${plan.take(1500)}")
  }

  test("x41: clusters solve through local_components, not a BSP loop") {
    // the hierarchical path is the scale design (one aggregation per
    // bucket); if the expression ever fell out of the plan the query
    // would still be correct via some other spelling but quadratically
    // more expensive in rounds
    val plan = q("x41_embed_dedup_clusters")
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("local_components"), plan.take(1200))
  }

  test("x13: Hamming verify runs below the distinct's exchange") {
    // the ≤3-bit filter must kill band collisions INSIDE the join output
    // (deeper than the pair distinct's shuffle) — if it migrated above,
    // the full collision set (millions at a skewed band value) would
    // cross the wire again. Parents print first, so deeper = later.
    val plan = executedPlan("x13_simhash_neardup")
    val bc = plan.indexOf("bit_count")
    val distinctEx = plan.indexOf("Exchange hashpartitioning(doc_a")
    assert(bc >= 0 && distinctEx >= 0, plan.take(1500))
    assert(bc > distinctEx,
      s"bit_count at $bc, distinct exchange at $distinctEx:\n${plan.take(1500)}")
  }

  test("mm03: the pHash verify runs below the distinct's exchange " +
      "(the x13 pin on the media column)") {
    val plan = executedPlan("mm03_phash_neardup")
    val bc = plan.indexOf("bit_count")
    val distinctEx = plan.indexOf("Exchange hashpartitioning(doc_a")
    assert(bc >= 0 && distinctEx >= 0, plan.take(1500))
    assert(bc > distinctEx,
      s"bit_count at $bc, distinct exchange at $distinctEx:\n${plan.take(1500)}")
  }

  test("x97: each E-step is a pure map over the word-type table — " +
      "exchanges only under the word/piece aggregations, none under " +
      "the Viterbi fold") {
    // the trainer runs on the driver over the collected word table, so
    // the x97 frame itself is a LocalTableScan — zero exchanges, zero
    // scans
    val qe = q("x97_unigram_train").queryExecution
    val plan = qe.sparkPlan.toString
    assert(plan.contains("LocalTableScan"), plan.take(800))
    assert(!plan.contains("Exchange"), plan.take(800))
    // and the serve ENCODE path (the map the E-step runs) carries the
    // fold with no exchange between the word aggregation and the project
    val enc = operators.UnigramQueries.segmentTypes(
      spark.read.parquet(s"$sf/documents.parquet")
        .selectExpr("explode(split(text, ' ')) AS word")
        .where("length(word) > 0").distinct(),
      Seq(("a", 1L, -1000000L)))
    val encPlan = enc.queryExecution.sparkPlan.toString
    val nEx = "Exchange".r.findAllIn(encPlan).size
    // ≤ 1: the distinct's (a single-partition source plans it with 0);
    // the Viterbi fold itself must add NONE
    assert(nEx <= 1, s"expected at most the distinct's exchange, got " +
      s"$nEx:\n${encPlan.take(1200)}")
    spark.catalog.clearCache()
  }

  test("x73: score accumulation is doc-keyed via sum_weighted_entries " +
      "— no (doc, source) fan-out aggregation") {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val aggs = q("x73_source_attribution").queryExecution.sparkPlan
      .collect { case a: BaseAggregateExec => a }
    // the packed-entries fold is present...
    assert(aggs.exists(_.aggregateExpressions.exists(
      _.aggregateFunction.prettyName == "sum_weighted_entries")), aggs)
    // ...and NO aggregation keys (doc_id, lm_source) together — that
    // key shape is the |sources|× fan-out spelling this replaced (its
    // map-side hash map carries |docs|·|sources| entries per task)
    assert(!aggs.exists { a =>
      val keys = a.groupingExpressions.map(_.name).toSet
      keys.contains("doc_id") && keys.contains("lm_source")
    }, aggs.map(_.groupingExpressions.map(_.name)))
    spark.catalog.clearCache()
  }

  // ── Global (partitionless) windows funnel their input through ONE
  // task — acceptable only on inputs bounded by something other than
  // the data size. The two tests below pin (a) WHICH queries carry one,
  // and (b) that each whitelisted site's window input really is the
  // bounded aggregate its design note claims, with row-count proof.

  private def globalWindows(df: DataFrame) =
    df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }

  test("registry sweep: partitionless windows appear ONLY at the " +
      "whitelisted bounded-input sites") {
    // dq02/w12 window day/month-grain aggregates (calendar-bounded).
    // x99's coarse-init window is NOT in any returned plan: it runs
    // during construction (the Lloyd trainer materializes its
    // constant-size state driver-side) over the fine-centroid table,
    // whose bound the next test pins. Anything new showing up here
    // must justify its bound or respell via Ranks.globalRank (the
    // e12/o15 treatment).
    val whitelist = Set("dq02_volume_anomaly", "w12_mom_growth")
    // st rows are swept by the dedicated streaming sweep below (their
    // construction drains the stream, so sweeping them here AND in the
    // cartesian sweep would pay every drain twice)
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(_.startsWith("st"))
      .filter(name => globalWindows(q(name)).nonEmpty)
    assert(offenders.toSet == whitelist,
      s"partitionless-window queries changed: got $offenders")
    spark.catalog.clearCache()
  }

  test("registry sweep (streaming rows): every drained st frame carries " +
      "no partitionless window and no cartesian") {
    // st-row construction drains the stream and returns the drained
    // batch frame (sink scan + any post-drain batch transform) — the
    // streaming plan itself is pinned by each row's own spec; THIS
    // sweep guards the post-drain batch half, which the r10 narrowing
    // (commit 51b50c0) had left unswept. One construction per row,
    // both predicates checked on it.
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filter(_.startsWith("st"))
      .flatMap { name =>
        val df = q(name)
        val gw = globalWindows(df).nonEmpty
        val plan = df.queryExecution.sparkPlan.toString
        val cart = plan.contains("CartesianProduct") ||
          plan.contains("ShuffledNestedLoopJoin")
        if (gw || cart)
          Some(s"$name(globalWindow=$gw, cartesian=$cart)")
        else None
      }
    assert(offenders.isEmpty, s"streaming batch-half offenders: $offenders")
    spark.catalog.clearCache()
  }

  test("whitelisted global windows sit on provably bounded aggregates " +
      "(row-count pins at the test SF)") {
    import org.apache.spark.sql.functions._
    // dq02: input = one row per event DAY (calendar-bounded)
    val days = spark.read.parquet(s"$sf/events.parquet")
      .select(date_trunc("day", col("ts"))).distinct().count()
    assert(days > 0 && days <= 5000, s"dq02 window input: $days days")
    // w12: input = one row per order MONTH
    val months = spark.read.parquet(s"$sf/orders.parquet")
      .select(date_trunc("month", col("o_orderdate"))).distinct().count()
    assert(months > 0 && months <= 120, s"w12 window input: $months months")
    // x99's construction-time init window: input = the fine-centroid
    // table; the IVF discipline keeps it ≤ max(64, ceil(√n_vectors))
    // (the NCentroids floor).
    // Measured via the declared x10 assignment's bucket set.
    val nVecs = spark.read.parquet(s"$sf/embeddings.parquet").count()
    val nCentroids = q("x10_ann_ivf_assign")
      .select("bucket").distinct().count()
    val bound = math.max(64L, math.ceil(math.sqrt(nVecs.toDouble)).toLong)
    assert(nCentroids <= bound,
      s"x99 window input: $nCentroids centroids > bound $bound")
    spark.catalog.clearCache()
  }

  test("e12: quartiles carry no partitionless window (distributed " +
      "ranks via Ranks.globalRank)") {
    assert(globalWindows(q("e12_rfm_segments")).isEmpty)
    assert(globalWindows(q("o15_zorder_key")).isEmpty)
  }

  test("registry sweep: no unintended cartesian product in any plan") {
    // similarity scans intentionally crossJoin a BROADCAST probe/centroid
    // side (bounded, small); st rows are swept by the dedicated
    // streaming sweep above (one drain per row covers both predicates)
    val intentionalCross = Set("x09_ann_bruteforce", "x10_ann_ivf_assign",
      "x11_embed_neardup", "x12_ann_ivf_search")
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(intentionalCross)
      .filterNot(_.startsWith("st"))
      .filter { name =>
        val plan = q(name).queryExecution.sparkPlan.toString
        plan.contains("CartesianProduct") ||
          plan.contains("ShuffledNestedLoopJoin")
      }
    assert(offenders.isEmpty, s"cartesian plans: $offenders")
    spark.catalog.clearCache()
  }
}
