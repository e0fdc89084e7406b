package graft

/** [[Probe]] is the one per-query dev tool: pin that its records stay
  * filled for a batch row and a streaming row, and that plan mode keeps
  * the `explain("formatted")` layout and a parseable node-count line.
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
}
