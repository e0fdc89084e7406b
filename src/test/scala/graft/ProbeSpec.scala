package graft

/** [[Probe]] is the one per-query dev tool: pin that its records stay
  * filled for a batch row and a streaming row, that a measured run
  * consumes every column (so no join or window is pruned away), that
  * plan mode keeps the `explain("formatted")` layout and a parseable
  * node-count line, and that scale mode keeps a filled record per size, the streaming state
  * and a finite exponent, and replaces spiked passes within its budget.
  */
class ProbeSpec extends SparkSpec {

  private val rows = Seq("j01_inner_join", "st01_stream_tumbling")

  test("summary: one filled record per query, batch records for st01") {
    val runs = Probe.measure(spark, rows, Seq(sf), sf)
    assert(runs.map(_.query) == rows)
    runs.foreach { r =>
      assert(r.error.isEmpty, r.render(withStages = true))
      assert(r.jobs > 0 && r.tasks >= r.jobs, r.render(withStages = true))
      assert(r.stages.nonEmpty && r.taskS >= 0)
      assert(r.phasesMs.nonEmpty && r.phasesMs.forall(_._2 >= 0),
        r.phasesMs)
      assert(Seq(r.wallS, r.buildS, r.planS, r.execS).forall(_ >= 0))
    }
    val st01 = runs.find(_.query == "st01_stream_tumbling").get
    assert(st01.batches.nonEmpty, "no micro-batch progress for st01")
    assert(st01.batches.forall(_.durationMs.exists(_._1 == "addBatch")),
      st01.batches)
  }

  test("plan: formatted explain text, then a node-count line") {
    val Seq(p) = Probe.plans(spark, Seq("j01_inner_join"), Seq(sf))
    assert(p.text.startsWith("== Physical Plan =="), p.text.take(200))
    // read after the query ran: the adaptive plan is the final one
    assert(p.text.contains("isFinalPlan=true"), p.text.take(200))
    val line = """\[nodes\] (\S+) (\S+)((?: \w+=\d+)+)""".r
    p.nodeLine match {
      case line(q, d, kvs) =>
        assert(q == "j01_inner_join" && d == sf)
        val counts = kvs.trim.split(" ").map { kv =>
          val Array(k, v) = kv.split("="); k -> v.toInt
        }.toMap
        assert(counts.keySet == Probe.CountedNodes.toSet)
        assert(counts.values.sum > 0, s"no join or exchange: ${p.nodeLine}")
      case other => fail(s"unparseable node-count line: $other")
    }
    assert(p.render.startsWith(s"\n===== j01_inner_join =====\n${p.text}\n"))
  }

  test("summary consumes every column: x100c keeps its span windows") {
    def windows(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      Probe.nodeCounts(df.queryExecution.executedPlan).toMap.apply("Window")
    }
    Caches.scope(spark) {
      val built = SparkEntry.queries("x100c_substr_heavy")(spark, sf)
      // the occurrence count over the window text and the lag window
      assert(windows(Probe.digest(built)) == 2)
      // a bare count prunes the left join to the spans, windows and all
      assert(windows(built.groupBy().count()) == 0)
    }
  }

  test("scale: a filled record per size, growing st06 state, finite beta") {
    val sf01 = new java.io.File(new java.io.File(sf).getParentFile, "sf0.01")
      .getPath
    val rows = Seq("st06_stream_dedup", "x46_part_pagerank").map(q =>
      Probe.scaleRow(spark, q, Seq(10 -> sf01, 1 -> sf), () => 0.0))
    rows.foreach { s =>
      assert(s.mults == Seq(1, 10) && s.cells.map(_.dir) == Seq(sf, sf01))
      assert(s.loads == Seq.fill(Probe.ScalePasses)(0.0), s.loads)
      s.cells.foreach { r =>
        assert(r.error.isEmpty && r.wallS > 0 && r.jobs > 0 &&
          r.tasks >= r.jobs && r.stages.nonEmpty, s.render)
      }
      assert(s.beta.isFinite, s.render)
    }
    val Seq(st06, x46) = rows
    val state = st06.cells.map(_.stateRows)
    assert(state(0) > 0 && state(1) > state(0), state)
    assert(x46.cells.forall(_.stateRows == 0), x46.render)
    import org.json4s._
    val json = org.json4s.jackson.JsonMethods.parse(Probe.scaleJson(4, rows))
    assert((json \ "rows" \ "st06_stream_dedup" \ "cells" \ "x10" \
      "state_rows") == JInt(state(1)))
    assert((json \ "rows" \ "x46_part_pagerank" \ "cells" \ "x1" \
      "stages").children.nonEmpty)
  }

  test("scale: a spiked pass is replaced, at most LoadReplace times") {
    def row(settle: () => Double) =
      Probe.scaleRow(spark, "j01_inner_join", Seq(1 -> sf, 2 -> sf), settle)
    val spike = Probe.LoadOk + 1
    val loads = Iterator(spike, 0.0, 0.0, 0.0)
    val once = row(() => loads.next())
    assert(once.loads == Seq(spike, 0.0, 0.0, 0.0))
    assert(once.render.endsWith("spiked=1"), once.render)
    val always = row(() => spike)
    assert(always.loads ==
      Seq.fill(Probe.ScalePasses + Probe.LoadReplace)(spike))
    assert(always.cells.forall(_.error.isEmpty), always.render)
  }
}
