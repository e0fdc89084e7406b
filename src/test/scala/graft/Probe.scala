package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning, RoundRobinPartitioning, SinglePartition}
import org.apache.spark.sql.execution.{ExplainMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The per-query dev probe: what one registry query costs, layer by
  * layer, on one session. Three modes:
  *
  *   - `summary`: one dispatch-floor line (ms per empty one-task-per-slot
  *     job), then one line per (query, dir) — wall split into build (the
  *     builder call, including any jobs it runs eagerly), plan (the
  *     terminal count's `executedPlan` forced) and exec; the Catalyst
  *     `tracker.phases`; jobs, stages, tasks, task-seconds and the
  *     driver-side residue `wall − taskS / slots`. Streaming drains add
  *     one line per micro-batch with its `durationMs` breakdown.
  *   - `stages`: the summary plus one line per completed stage (tasks,
  *     stage wall, summed executor run time) — separates few serial
  *     tasks from many tiny ones from dispatch gaps between stages.
  *   - `plan`: the `explain("formatted")` text under a `===== q =====`
  *     header (the format of the `plans/r*` before/after dumps), then a
  *     join/exchange node-count line.
  *
  * Each query is warmed once at the sf0.001 sibling of the first dir
  * (the dir itself when there is none) before its measured runs. Both
  * listeners are drained before every reset and every read, so a late
  * task-end event is counted for the query that caused it. For
  * per-workload, per-layer traces use `python3 perfbench/run.py
  * --workload <w> --seed 1 --seconds 10 --trace 1` instead.
  *
  * Usage: sbt "Test/runMain graft.Probe <summary|stages|plan>
  *   <sfDir[,sfDir…]> [query …]" (every registry query when none is
  *   named; `local[$SPARK_GRAFT_CPUS]`, default 4).
  */
object Probe {

  final case class Stage(id: Int, tasks: Int, wallMs: Long, runMs: Long,
      name: String)

  final case class Batch(id: Long, rows: Long, durationMs: Seq[(String, Long)])

  /** One measured run of `query` at `dir`; `error` set = nothing measured. */
  final case class Run(query: String, dir: String,
      error: Option[String] = None, wallS: Double = 0, buildS: Double = 0,
      planS: Double = 0, execS: Double = 0,
      phasesMs: Seq[(String, Long)] = Nil, jobs: Int = 0,
      stages: Seq[Stage] = Nil, tasks: Int = 0, taskS: Double = 0,
      residueS: Double = 0, batches: Seq[Batch] = Nil) {

    def render(withStages: Boolean): String = error match {
      case Some(e) => s"[probe] $query $dir FAILED: $e"
      case None =>
        val ph = phasesMs.map { case (k, v) => s"$k=${v}ms" }.mkString(" ")
        val head = f"[probe] $query $dir wall=$wallS%.2f build=$buildS%.2f " +
          f"plan=$planS%.2f exec=$execS%.2f $ph jobs=$jobs " +
          f"stages=${stages.size} tasks=$tasks taskS=$taskS%.2f " +
          f"resid=$residueS%.2f"
        val bs = batches.map(b => s"  batch=${b.id} rows=${b.rows} " +
          b.durationMs.map { case (k, v) => s"$k=${v}ms" }.mkString(" "))
        val ss = if (!withStages) Nil else stages.map(s =>
          f"  stage ${s.id}%4d tasks=${s.tasks}%3d wall=${s.wallMs}%5d ms " +
            f"run=${s.runMs}%6d ms  ${s.name.take(70)}")
        (head +: (bs ++ ss)).mkString("\n")
    }
  }

  /** `text` is the formatted plan, or the failure message. */
  final case class Plan(query: String, dir: String, text: String,
      nodes: Seq[(String, Int)]) {
    def nodeLine: String = s"[nodes] $query $dir " +
      nodes.map { case (k, v) => s"$k=$v" }.mkString(" ")
    def render: String = s"\n===== $query =====\n$text\n$nodeLine"
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 &&
      Set("summary", "stages", "plan").contains(args(0)), "usage: " +
      "graft.Probe <summary|stages|plan> <sfDir[,sfDir…]> [query …]")
    val dirs = args(1).split(",").toSeq
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark =
      HarnessSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    try args(0) match {
      case "plan" => plans(spark, names, dirs).foreach(p => println(p.render))
      case mode =>
        println(f"[dispatch] empty ${spark.sparkContext.defaultParallelism}" +
          f"-task job: ${dispatchMs(spark)}%.1f ms")
        val runs = measure(spark, names, dirs, warmDir(dirs.head))
        runs.foreach(r => println(r.render(mode == "stages")))
        println(s"[probe] ${runs.size} records, " +
          s"${runs.count(_.error.isDefined)} failed")
    } finally spark.stop()
  }

  /** The sf0.001 sibling of `dir` (the test-data layout), else `dir`. */
  def warmDir(dir: String): String = {
    val sib = new java.io.File(
      new java.io.File(dir).getAbsoluteFile.getParentFile, "sf0.001")
    if (sib.isDirectory) sib.getPath else dir
  }

  /** Mean wall ms of an empty job with one task per slot. */
  def dispatchMs(spark: SparkSession): Double = {
    val slots = spark.sparkContext.defaultParallelism
    val empty = spark.sparkContext.parallelize(1 to slots, slots)
    empty.count()
    val t0 = System.nanoTime()
    (1 to 50).foreach(_ => empty.count())
    (System.nanoTime() - t0) / 50 / 1e6
  }

  /** Clearing the cache before the scope closes keeps its release from
    * re-planning dependent cached frames, which would shift the next
    * query's `plan_id`s against a plain `explain` run.
    */
  private def scoped[A](spark: SparkSession)(body: => A): A =
    Caches.scope(spark)(try body finally spark.catalog.clearCache())

  private def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"

  /** One warm-up per query at `warm`, then one measured run per dir. */
  def measure(spark: SparkSession, names: Seq[String], dirs: Seq[String],
      warm: String): Seq[Run] = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val tasks = new AtomicInteger
    val taskMs = new AtomicLong
    val stages = new ConcurrentLinkedQueue[Stage]
    val batches = new ConcurrentLinkedQueue[Batch]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val wall = (for (a <- i.completionTime; b <- i.submissionTime)
          yield a - b).getOrElse(-1L)
        stages.add(Stage(i.stageId, i.numTasks, wall,
          i.taskMetrics.executorRunTime, i.name))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (e.taskMetrics != null)
          taskMs.addAndGet(e.taskMetrics.executorRunTime)
      }
    }
    val streamListener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        batches.add(Batch(p.batchId, p.numInputRows,
          p.durationMs.asScala.toSeq.map { case (k, v) => k -> v.longValue }
            .sortBy(_._1)))
      }
    }
    def drain(): Unit = ListenerBusDrain.waitUntilEmpty(sc, 60000L)
    def measureOne(n: String, d: String): Run = {
      drain()
      jobs.set(0); tasks.set(0); taskMs.set(0); stages.clear(); batches.clear()
      val t0 = System.nanoTime()
      val (t1, t2, t3, phases) = scoped(spark) {
        val built = SparkEntry.queries(n)(spark, d)
        val t1 = System.nanoTime()
        val counted = built.groupBy().count()
        counted.queryExecution.executedPlan
        val t2 = System.nanoTime()
        counted.collect()
        (t1, t2, System.nanoTime(), counted.queryExecution.tracker.phases)
      }
      drain()
      val wallS = (t3 - t0) / 1e9
      val taskS = taskMs.get() / 1e3
      Run(n, d, None, wallS, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
        (t3 - t2) / 1e9,
        phases.toSeq.sortBy(_._2.startTimeMs)
          .map { case (k, p) => k -> (p.endTimeMs - p.startTimeMs) },
        jobs.get(), stages.asScala.toSeq.sortBy(_.id), tasks.get(), taskS,
        wallS - taskS / sc.defaultParallelism, batches.asScala.toSeq)
    }
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
    try names.flatMap { n =>
      val warmed = Try(scoped(spark)(SparkEntry.queries(n)(spark, warm).count()))
      dirs.map { d =>
        warmed.flatMap(_ => Try(measureOne(n, d)))
          .recover { case e => Run(n, d, Some(message(e))) }.get
      }
    } finally {
      drain()
      sc.removeSparkListener(listener)
      spark.streams.removeListener(streamListener)
    }
  }

  /** The formatted plan and node counts per (query, dir); runs no action
    * beyond what each builder runs itself.
    */
  def plans(spark: SparkSession, names: Seq[String],
      dirs: Seq[String]): Seq[Plan] =
    for (n <- names; d <- dirs) yield
      Try(scoped(spark) {
        val qe = SparkEntry.queries(n)(spark, d).queryExecution
        Plan(n, d, qe.explainString(ExplainMode.fromString("formatted")),
          nodeCounts(qe.executedPlan))
      }).recover { case e => Plan(n, d, s"[probe] $n failed: ${message(e)}", Nil) }
        .get

  val CountedNodes: Seq[String] = Seq("BroadcastHashJoin", "ShuffledHashJoin",
    "SortMergeJoin", "BroadcastNestedLoopJoin", "CartesianProduct",
    "hashExchange", "rangeExchange", "singleExchange", "roundRobinExchange",
    "otherExchange", "BroadcastExchange", "Window")

  /** Join, exchange and window operators in `plan`, counting inside AQE
    * wrappers, subqueries and cached relations — each cached relation
    * once, however often it is scanned, as it is computed once. Reused
    * exchanges are not new shuffles and are not counted.
    */
  def nodeCounts(plan: SparkPlan): Seq[(String, Int)] = {
    val cached = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    def all(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: InMemoryTableScanExec =>
        Seq(s.relation.cachedPlan).filter(cached.add)
      case _ => p.children ++ p.subqueries
    }).flatMap(all)
    val names = all(plan).map {
      case e: ShuffleExchangeExec => e.outputPartitioning match {
        case _: HashPartitioning       => "hashExchange"
        case _: RangePartitioning      => "rangeExchange"
        case SinglePartition           => "singleExchange"
        case _: RoundRobinPartitioning => "roundRobinExchange"
        case _                         => "otherExchange"
      }
      case p => p.nodeName
    }
    CountedNodes.map(k => k -> names.count(_ == k))
  }
}
