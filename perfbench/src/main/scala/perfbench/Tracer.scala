package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.storage.RDDBlockId

/** Execution counters of one (op, phase) cell, filled by [[Tracer]]'s
  * listener from the job, stage and task events Spark tagged with the
  * op's local properties.
  */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskNs = 0L
  var schedDelayMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskNs += o.taskNs; schedDelayMs += o.schedDelayMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill
  }
}

/** Streaming progress of one drain (one op). */
final class StreamCounters {
  val batchMs = mutable.ArrayBuffer.empty[Double]
  var planMs = 0L
  var addBatchMs = 0L
  var walCommitMs = 0L
  var stateRowsPeak = 0L
  var stateBytesPeak = 0L
}

/** One span of the traced run: an op, or a layer call inside it. Spans of
  * one op share its `op` id; `parent` is the enclosing span's id (0 for
  * an op span).
  */
final case class Span(id: Int, op: Int, name: String, startNs: Long,
    endNs: Long, parent: Int)

/** The traced run's instrumentation: a `SparkListener` (jobs, stages,
  * tasks, shuffle, cached blocks), a `StreamingQueryListener` (micro-batch
  * durations and state), JVM counters, and the span log. Nothing here is
  * installed in untraced runs.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val cells = new ConcurrentHashMap[(Int, String), Counters]()
  private val stageCell = new ConcurrentHashMap[Int, (Int, String)]()
  private val streams = new ConcurrentHashMap[Int, StreamCounters]()
  @volatile private var currentOp = 0

  // cached RDD blocks: current bytes and the peak since the last reset
  private val blockBytes = new ConcurrentHashMap[RDDBlockId, Long]()
  private val blockLock = new Object
  private var blockTotal = 0L
  private var blockPeak = 0L

  private def cell(key: (Int, String)): Counters =
    cells.computeIfAbsent(key, _ => new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val op = props.flatMap(p => Option(p.getProperty(PropOp)))
        .map(_.toInt).getOrElse(0)
      val phase = props.flatMap(p => Option(p.getProperty(PropPhase)))
        .getOrElse("none")
      val c = cell((op, phase))
      c.synchronized(c.jobs += 1)
      e.stageIds.foreach(id => stageCell.put(id, (op, phase)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageCell.get(e.stageInfo.stageId)).foreach { k =>
        val c = cell(k)
        c.synchronized(c.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageCell.get(e.stageId)).foreach { k =>
        val c = cell(k)
        val m = e.taskMetrics
        c.synchronized {
          c.tasks += 1
          if (m != null) {
            c.taskNs += m.executorRunTime * 1000000L
            c.schedDelayMs += math.max(0L, e.taskInfo.duration -
              m.executorRunTime - m.executorDeserializeTime -
              m.resultSerializationTime - e.taskInfo.gettingResultTime)
            c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      e.blockUpdatedInfo.blockId match {
        case id: RDDBlockId =>
          val info = e.blockUpdatedInfo
          val bytes =
            if (info.storageLevel.isValid) info.memSize + info.diskSize
            else 0L
          blockLock.synchronized {
            val prev = Option(blockBytes.get(id)).getOrElse(0L)
            if (bytes == 0L) blockBytes.remove(id)
            else blockBytes.put(id, bytes)
            blockTotal += bytes - prev
            blockPeak = math.max(blockPeak, blockTotal)
          }
        case _ => ()
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val s = streams.computeIfAbsent(currentOp, _ => new StreamCounters)
      def d(k: String): Long =
        Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      s.synchronized {
        s.batchMs += p.batchDuration.toDouble
        s.planMs += d("queryPlanning")
        s.addBatchMs += d("addBatch")
        s.walCommitMs += d("walCommit") + d("commitOffsets")
        val ops = Option(p.stateOperators).getOrElse(Array.empty)
        s.stateRowsPeak = math.max(s.stateRowsPeak,
          ops.map(_.numRowsTotal).sum)
        s.stateBytesPeak = math.max(s.stateBytesPeak,
          ops.map(_.memoryUsedBytes).sum)
      }
    }
  }

  private val codegen = new CodegenLog

  def install(): Unit = {
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
    codegen.install()
  }

  def uninstall(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
    codegen.uninstall()
  }

  /** Waits until every event posted so far has reached the listeners. */
  def drain(): Unit = PerfbenchBus.drain(sc)

  // ---- attribution -------------------------------------------------------

  /** Tags the jobs this thread launches from now on with `op`/`phase`.
    * Streaming drains inherit the tags of the thread that starts them.
    */
  def tag(op: Int, phase: String): Unit = {
    currentOp = op
    sc.setLocalProperty(PropOp, op.toString)
    sc.setLocalProperty(PropPhase, phase)
  }

  def untag(): Unit = {
    sc.setLocalProperty(PropOp, null)
    sc.setLocalProperty(PropPhase, null)
  }

  /** Counters of `op` in `phase` (empty when it launched no job). */
  def counters(op: Int, phase: String): Counters =
    Option(cells.get((op, phase))).getOrElse(new Counters)

  def stream(op: Int): Option[StreamCounters] = Option(streams.get(op))

  def resetBlockPeak(): Unit =
    blockLock.synchronized { blockPeak = blockTotal }

  def blockBytesPeak: Long = blockLock.synchronized(blockPeak)

  // ---- spans -------------------------------------------------------------

  private val spanLog = mutable.ArrayBuffer.empty[Span]
  private var nextSpan = 0

  def span(op: Int, name: String, startNs: Long, endNs: Long,
      parent: Int): Int = {
    nextSpan += 1
    spanLog += Span(nextSpan, op, name, startNs, endNs, parent)
    nextSpan
  }

  def spans: Seq[Span] = spanLog.toSeq

  // ---- JVM ---------------------------------------------------------------

  def jvm(): Jvm = Jvm(
    gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum,
    jitMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    compileMs = codegen.totalMs)
}

object Tracer {
  val PropOp = "perfbench.op"
  val PropPhase = "perfbench.phase"

  final case class Jvm(gcMs: Long, jitMs: Long, compiles: Long,
      compileMs: Double) {
    def -(o: Jvm): Jvm = Jvm(gcMs - o.gcMs, jitMs - o.jitMs,
      compiles - o.compiles, compileMs - o.compileMs)
  }

  /** Node and exchange counts of an executed plan, looking through
    * adaptive wrappers, query stages and subqueries.
    */
  def planShape(plan: SparkPlan): (Int, Int) = {
    var nodes = 0
    var exchanges = 0
    def visit(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
      case s: QueryStageExec        => visit(s.plan)
      case other =>
        nodes += 1
        if (other.isInstanceOf[Exchange]) exchanges += 1
        other.children.foreach(visit)
        other.subqueries.foreach(visit)
    }
    visit(plan)
    (nodes, exchanges)
  }
}
