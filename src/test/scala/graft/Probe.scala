package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning, RoundRobinPartitioning, SinglePartition}
import org.apache.spark.sql.execution.{ExplainMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{col, count, lit, sum, to_json, xxhash64}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** The per-query dev probe: what one registry query costs, layer by
  * layer, on one session — or, in `scale` mode, how that cost grows
  * with the input. Four modes:
  *
  *   - `summary`: one dispatch-floor line (ms per empty one-task-per-slot
  *     job), then one line per (query, dir) — wall split into build (the
  *     builder call, including any jobs it runs eagerly), plan (the
  *     terminal [[digest]]'s `executedPlan` forced) and exec; the Catalyst
  *     `tracker.phases`; jobs, stages, tasks, task-seconds and the
  *     driver-side residue `wall − taskS / slots`. Streaming drains add
  *     one line per micro-batch with its `durationMs` breakdown.
  *   - `stages`: the summary plus one line per completed stage (tasks,
  *     stage wall, summed executor run time) — separates few serial
  *     tasks from many tiny ones from dispatch gaps between stages.
  *   - `plan`: runs the query (`collect()`), then prints its
  *     `explain("formatted")` text under a `===== q =====` header (the
  *     format of the `plans/` before/after dumps), then a join/exchange
  *     node-count line.
  *   - `scale`: writes the [[ScaleGen]] data at each size multiplier
  *     under `genRoot/x<m>`, then measures each query in its own fresh
  *     session (SCALE.md round 11: a shared session's old-gen pressure
  *     confounds the 20× cells) — one warm-up at the smallest size,
  *     then [[ScalePasses]] `summary` passes over all sizes, keeping per
  *     size the min-wall record, whose peak streaming state rows ride
  *     along. Each pass first waits for the load sentinel
  *     ([[settledLoad]]); a pass whose sentinel still
  *     reads over [[LoadOk]] is excluded and replaced, up to
  *     [[LoadReplace]] times. Prints `[scale]` lines per size and per
  *     query (the [[ScaleFit]] exponent), then the whole record as one
  *     JSON object on the last line. Default rows: [[ScaleRows]].
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
  *   named) or sbt "Test/runMain graft.Probe scale <genRoot>
  *   <m1,m2[,m3…]> [query …]"; `local[$SPARK_GRAFT_CPUS]`, default 4.
  *   Multiplier 20 and up wants a 24g heap (`SPARK_DRIVER_MEM=24g`).
  */
object Probe {

  final case class Stage(id: Int, tasks: Int, wallMs: Long, runMs: Long,
      name: String)

  /** `stateRows`: rows held across the batch's state operators. */
  final case class Batch(id: Long, rows: Long, stateRows: Long,
      durationMs: Seq[(String, Long)])

  /** One measured run of `query` at `dir`; `error` set = nothing measured. */
  final case class Run(query: String, dir: String,
      error: Option[String] = None, wallS: Double = 0, buildS: Double = 0,
      planS: Double = 0, execS: Double = 0,
      phasesMs: Seq[(String, Long)] = Nil, jobs: Int = 0,
      stages: Seq[Stage] = Nil, tasks: Int = 0, taskS: Double = 0,
      residueS: Double = 0, batches: Seq[Batch] = Nil) {

    /** Peak streaming state over the run's micro-batches. */
    def stateRows: Long = batches.map(_.stateRows).maxOption.getOrElse(0L)

    def summary: String = error match {
      case Some(e) => s"$query $dir FAILED: $e"
      case None =>
        val ph = phasesMs.map { case (k, v) => s"$k=${v}ms" }.mkString(" ")
        f"$query $dir wall=$wallS%.2f build=$buildS%.2f " +
          f"plan=$planS%.2f exec=$execS%.2f $ph jobs=$jobs " +
          f"stages=${stages.size} tasks=$tasks taskS=$taskS%.2f " +
          f"resid=$residueS%.2f"
    }

    def render(withStages: Boolean): String = {
      val bs = batches.map(b => s"  batch=${b.id} rows=${b.rows} " +
        s"state=${b.stateRows} " +
        b.durationMs.map { case (k, v) => s"$k=${v}ms" }.mkString(" "))
      val ss = if (!withStages) Nil else stages.map(s =>
        f"  stage ${s.id}%4d tasks=${s.tasks}%3d wall=${s.wallMs}%5d ms " +
          f"run=${s.runMs}%6d ms  ${s.name.take(70)}")
      (s"[probe] $summary" +: (bs ++ ss)).mkString("\n")
    }
  }

  /** One `scale` row: per size multiplier (ascending), the min-wall run
    * over the passes whose load sentinel held (over all passes when none
    * did); `loads` holds every pass's sentinel, in run order.
    */
  final case class Scaled(query: String, mults: Seq[Int], cells: Seq[Run],
      loads: Seq[Double]) {
    private def ms = mults.map(_.toDouble)
    private def ts = cells.map(_.wallS)
    private def failed = cells.exists(_.error.isDefined)

    def beta: Double = if (failed) Double.NaN else ScaleFit.beta(ms, ts)

    /** (k, rmse, jackknife betas) of the least-squares fit: 4+ sizes. */
    def fit: Option[(Double, Double, Seq[Double])] =
      if (failed || mults.length < 4) None
      else {
        val (_, k, rmse) = ScaleFit.fitBeta(ms, ts)
        Some((k, rmse, ScaleFit.betaSpread(ms, ts)))
      }

    def render: String = {
      val fitted = fit.fold("") { case (k, rmse, jack) =>
        f" k=$k%.4f rmse=$rmse%.3f jack=" +
          (if (jack.isEmpty) "[noise floor]"
           else f"[${jack.min}%.2f..${jack.max}%.2f]")
      }
      (cells.map(r => s"[scale] ${r.summary} state=${r.stateRows}") :+
        (f"[scale] $query beta=$beta%.2f$fitted loads=" +
          loads.map(l => f"$l%.1f").mkString("[", ",", "]") +
          s" spiked=${loads.count(_ > LoadOk)}")).mkString("\n")
    }
  }

  /** `scale`'s default rows: the heaviest batch rows, then the four
    * streaming state shapes — window-bounded (st01), key-bounded (st06;
    * st09 on RocksDB) and horizon-bounded (st07).
    */
  val ScaleRows: Seq[String] = Seq(
    "x85_ivfpq_search", "x86_cluster_silhouette", "x96_hard_negatives",
    "x46_part_pagerank", "x61_label_communities", "x99_ivf_coarse_route",
    "x14_dedup_clusters", "x42_cluster_canonical",
    "x73_source_attribution", "x65_bm25_rank", "x41_embed_dedup_clusters",
    "x87_csls_rescore", "x88_ivf_append", "x71_triangle_cc",
    "corpus_curate", "st01_stream_tumbling", "st06_stream_dedup",
    "st09_transform_with_state", "st07_stream_stream_join")

  val ScalePasses = 3
  val LoadReplace = 2
  val LoadWaitS = 150

  /** The load-sentinel line: a 1-minute load average of one per 8 cores
    * (4.0 on the 32-core host it was tuned on), at least 1.
    */
  val LoadOk: Double =
    math.max(1.0, Runtime.getRuntime.availableProcessors / 8.0)

  /** `text` is the formatted plan, or the failure message. */
  final case class Plan(query: String, dir: String, text: String,
      nodes: Seq[(String, Int)]) {
    def nodeLine: String = s"[nodes] $query $dir " +
      nodes.map { case (k, v) => s"$k=$v" }.mkString(" ")
    def render: String = s"\n===== $query =====\n$text\n$nodeLine"
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    val scale = mode == "scale"
    require(Set("summary", "stages", "plan", "scale").contains(mode) &&
      args.length >= (if (scale) 3 else 2), "usage: graft.Probe " +
      "<summary|stages|plan> <sfDir[,sfDir…]> [query …] | " +
      "scale <genRoot> <m1,m2[,m3…]> [query …]")
    val named = args.drop(if (scale) 3 else 2).toSeq
    val names =
      if (named.nonEmpty) named
      else if (scale) ScaleRows
      else SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    def session[A](body: SparkSession => A): A = {
      val spark = HarnessSession.build(cpus)
      try body(spark) finally spark.stop()
    }
    if (scale) {
      val mults = args(2).split(",").map(_.trim.toInt).toSeq.sorted
      require(mults.length >= 2 && mults.distinct == mults &&
        mults.forall(_ > 0), s"need 2+ distinct positive sizes: ${args(2)}")
      if (mults.max >= 20 && HarnessSession.smallHeap)
        println("[scale] WARNING: 20x+ cells on a heap < 20 GiB measure " +
          "the harness's old-gen pressure, not the algorithm (SCALE.md " +
          "r11) — launch with SPARK_DRIVER_MEM=24g")
      val dirs = mults.map(m => m -> s"${args(1)}/x$m")
      session(s => dirs.foreach { case (m, d) => ScaleGen.write(s, d, m) })
      val rows = names.map { q =>
        val row = session(scaleRow(_, q, dirs, () => settledLoad()))
        println(row.render)
        row
      }
      println(scaleJson(cpus, rows))
    } else session { spark =>
      val dirs = args(1).split(",").toSeq
      if (mode == "plan")
        plans(spark, names, dirs).foreach(p => println(p.render))
      else {
        println(f"[dispatch] empty ${spark.sparkContext.defaultParallelism}" +
          f"-task job: ${dispatchMs(spark)}%.1f ms")
        val runs = measure(spark, names, dirs, warmDir(dirs.head))
        runs.foreach(r => println(r.render(mode == "stages")))
        println(s"[probe] ${runs.size} records, " +
          s"${runs.count(_.error.isDefined)} failed")
      }
    }
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
      warm: String): Seq[Run] =
    measureWarmed(spark, names, dirs, warmUp(spark, _, warm))

  /** `query` built and consumed through [[digest]] once at `dir`, in a
    * scope; the row count.
    */
  private def warmUp(spark: SparkSession, query: String,
      dir: String): Try[Long] =
    Try(scoped(spark)(
      digest(SparkEntry.queries(query)(spark, dir)).collect()(0).getLong(0)))

  /** How a measured run consumes a query: one row of its row count and
    * the sum of `xxhash64` over all its columns (map columns through
    * `to_json`, as Spark refuses to hash maps), the digest a result
    * consumer computes. A bare `count` would let Catalyst prune every
    * column it does not read — a left join's right side with its
    * windows and aggregations — and measure a plan no consumer runs.
    */
  def digest(df: DataFrame): DataFrame = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType         => true
      case ArrayType(e, _)    => hasMap(e)
      case StructType(fields) => fields.exists(f => hasMap(f.dataType))
      case _                  => false
    }
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name.replace("`", "``")}`")
      if (hasMap(f.dataType)) to_json(c) else c
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    df.agg(count(lit(1)).as("n"), sum(h.cast("decimal(38,0)")).as("h"))
  }

  /** One measured run per query and dir, each query after `warmed(q)`;
    * a failed warm-up fails the query's records.
    */
  private def measureWarmed(spark: SparkSession, names: Seq[String],
      dirs: Seq[String], warmed: String => Try[Long]): Seq[Run] = {
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
          p.stateOperators.map(_.numRowsTotal).sum, p.durationMs.asScala.toSeq.map { case (k, v) => k -> v.longValue }
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
        val consumed = digest(built)
        consumed.queryExecution.executedPlan
        val t2 = System.nanoTime()
        consumed.collect()
        (t1, t2, System.nanoTime(), consumed.queryExecution.tracker.phases)
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
      val warm = warmed(n)
      dirs.map { d =>
        warm.flatMap(_ => Try(measureOne(n, d)))
          .recover { case e => Run(n, d, Some(message(e))) }.get
      }
    } finally {
      drain()
      sc.removeSparkListener(listener)
      spark.streams.removeListener(streamListener)
    }
  }

  /** `query` at each (multiplier, dir) of `dirs`: one warm-up at the
    * smallest size, then [[ScalePasses]] measured passes, each preceded
    * by `settle()`, the pass's load sentinel. Passes reading over
    * [[LoadOk]] are replaced, at most [[LoadReplace]] times.
    */
  def scaleRow(spark: SparkSession, query: String, dirs: Seq[(Int, String)],
      settle: () => Double): Scaled = {
    val sized = dirs.sortBy(_._1)
    val warm = warmUp(spark, query, sized.head._2)
    val passes = ArrayBuffer.empty[(Double, Seq[Run])]
    def clean = passes.filter(_._1 <= LoadOk)
    while (passes.size < ScalePasses || (clean.size < ScalePasses &&
        passes.size < ScalePasses + LoadReplace)) {
      val load = settle()
      passes += load -> measureWarmed(spark, Seq(query), sized.map(_._2),
        _ => warm)
    }
    val kept = if (clean.nonEmpty) clean else passes
    val cells = sized.indices.map { i =>
      val runs = kept.map(_._2(i))
      runs.filter(_.error.isEmpty).minByOption(_.wallS).getOrElse(runs.head)
    }
    Scaled(query, sized.map(_._1), cells, passes.map(_._1).toSeq)
  }

  /** The 1-minute load average once it reads at most [[LoadOk]], or
    * after [[LoadWaitS]] seconds. The wait lets the tail of our own
    * previous pass decay out of the average, so a reading still over
    * the line is external contention. -1 (counted clean) when
    * `/proc/loadavg` is unreadable.
    */
  def settledLoad(): Double = {
    def load1 = Try(Files.readString(Paths.get("/proc/loadavg"))
      .split(" ")(0).toDouble).getOrElse(-1.0)
    val deadline = System.nanoTime() + LoadWaitS * 1000000000L
    var l = load1
    while (l > LoadOk && System.nanoTime() < deadline) {
      Thread.sleep(5000)
      l = load1
    }
    l
  }

  /** The whole `scale` record as one JSON object; NaN renders null. */
  def scaleJson(cpus: Int, rows: Seq[Scaled]): String = {
    import org.json4s._
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods.{compact, render}
    def num(v: Double): JValue =
      if (v.isFinite) JDouble(math.rint(v * 1000) / 1000) else JNull
    def cell(r: Run): JObject =
      ("dir" -> r.dir) ~ ("error" -> r.error) ~ ("wall_s" -> num(r.wallS)) ~
        ("build_s" -> num(r.buildS)) ~ ("plan_s" -> num(r.planS)) ~
        ("exec_s" -> num(r.execS)) ~ ("phases_ms" -> JObject(
          r.phasesMs.map { case (k, v) => k -> JLong(v) }.toList)) ~
        ("jobs" -> r.jobs) ~ ("tasks" -> r.tasks) ~
        ("task_s" -> num(r.taskS)) ~ ("residue_s" -> num(r.residueS)) ~
        ("batches" -> r.batches.size) ~ ("state_rows" -> r.stateRows) ~
        ("stages" -> r.stages.map(s => ("id" -> s.id) ~
          ("tasks" -> s.tasks) ~ ("wall_ms" -> s.wallMs) ~
          ("run_ms" -> s.runMs) ~ ("name" -> s.name)))
    def row(s: Scaled): JObject =
      ("beta" -> num(s.beta)) ~
        ("k" -> s.fit.map(f => num(f._1))) ~
        ("rmse" -> s.fit.map(f => num(f._2))) ~
        ("jack" -> s.fit.map(_._3.map(num))) ~
        ("loads" -> s.loads.map(num)) ~
        ("cells" -> JObject(s.mults.zip(s.cells).map { case (m, r) =>
          s"x$m" -> (cell(r): JValue) }.toList))
    compact(render(("cpus" -> cpus) ~ ("load_ok" -> num(LoadOk)) ~
      ("rows" -> JObject(rows.map(s => s.query -> (row(s): JValue)).toList))))
  }

  /** The formatted plan and node counts per (query, dir), read after a
    * `collect()` of the frame: every query stage has run, so the text is
    * the adaptive final plan whether or not the builder ran jobs of its
    * own (a plan read before any action shows a cached input's final
    * plan only when a builder job already filled it).
    */
  def plans(spark: SparkSession, names: Seq[String],
      dirs: Seq[String]): Seq[Plan] =
    for (n <- names; d <- dirs) yield
      Try(scoped(spark) {
        val df = SparkEntry.queries(n)(spark, d)
        df.collect()
        val qe = df.queryExecution
        Plan(n, d, qe.explainString(ExplainMode.fromString("formatted")),
          nodeCounts(qe.executedPlan))
      }).recover { case e => Plan(n, d, s"[probe] $n failed: ${message(e)}", Nil) }
        .get

  val CountedNodes: Seq[String] = Seq("BroadcastHashJoin", "ShuffledHashJoin",
    "SortMergeJoin", "BroadcastNestedLoopJoin", "CartesianProduct",
    "hashExchange", "rangeExchange", "singleExchange", "roundRobinExchange",
    "otherExchange", "BroadcastExchange", "Window")

  /** Every operator of `plan`, inside AQE wrappers and query stages,
    * subqueries and cached relations — each cached relation's plan
    * once, however often it is scanned, as it is computed once.
    */
  def planNodes(plan: SparkPlan): Seq[SparkPlan] = {
    val cached = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    def all(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case s: InMemoryTableScanExec =>
        Seq(s.relation.cachedPlan).filter(cached.add)
      case _ => p.children ++ p.subqueries
    }).flatMap(all)
    all(plan)
  }

  /** Join, exchange and window operators among [[planNodes]]. Reused
    * exchanges are not new shuffles and are not counted.
    */
  def nodeCounts(plan: SparkPlan): Seq[(String, Int)] = {
    val names = planNodes(plan).map {
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
