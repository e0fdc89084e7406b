package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec

/** Plan-shape pins for the keyed dedup rows: x08c runs as one
  * aggregation on its posting key — no join at all (so none on the
  * shingle key) and no cached posting list — and x100/x100c shuffle
  * their window fan-out once, with no cached position table.
  */
class DedupPlanShapeSpec extends SparkSpec {

  private def executed(q: String): Seq[SparkPlan] =
    Caches.scope(spark) {
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      Probe.planNodes(df.queryExecution.executedPlan)
    }

  test("x08c: no join and no cached relation in the executed plan") {
    val ns = executed("x08c_jaccard_dfcap")
    assert(!ns.exists(_.isInstanceOf[BaseJoinExec]),
      ns.collect { case j: BaseJoinExec => j.simpleString(200) })
    assert(!ns.exists(_.isInstanceOf[InMemoryTableScanExec]))
  }

  test("x100/x100c: no cached relation; the count and lag windows only") {
    for (q <- Seq("x100_exact_substr", "x100c_substr_heavy")) {
      val ns = executed(q)
      assert(!ns.exists(_.isInstanceOf[InMemoryTableScanExec]), q)
      // the occurrence count over the window text + the island sweep
      assert(ns.count(_.isInstanceOf[WindowExec]) == 2, q)
    }
  }
}
