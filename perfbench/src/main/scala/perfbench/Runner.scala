package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one op did: its wall time, whether it passed, and (traced runs
  * only) its layer record.
  */
final case class OpResult(name: String, wallMs: Double, ok: Boolean,
    digest: String, error: String, rddsLeft: Int, record: Option[OpRecord])

/** The per-op layer record of the traced run: time per phase, the jobs
  * each phase launched and their task seconds, and the op's execution
  * counters — one row of the per-query trace corpus.
  */
final case class OpRecord(id: Int, pass: Int, name: String,
    wallMs: Double, phaseMs: Map[String, Double], phaseJobs: Map[String, Long],
    phaseTaskS: Map[String, Double], exec: Counters, planNodes: Int, exchanges: Int,
    stream: Option[StreamCounters])

final case class PassResult(wallS: Double, ops: Seq[OpResult]) {
  def failed: Int = ops.count(!_.ok)
}

/** Runs ops one at a time (a closed loop with one client) and checks
  * each: an op fails when it throws, when its digest differs from the
  * expected one, or when persisted RDDs outlive its scope.
  */
final class Runner(spark: SparkSession, dir: String, work: File,
    expected: String => Option[String], recording: Boolean) {

  private val sc = spark.sparkContext
  private var nextId = 0
  private var tracer: Option[Tracer] = None
  var attempted = 0
  var failed = 0
  val out = new File(work, "out")
  val serveRoot = new File(System.getProperty("java.io.tmpdir"),
    "graft_serve")

  def trace(t: Option[Tracer]): Unit = tracer = t

  def pass(ops: Seq[Op], passNo: Int): PassResult = {
    val t0 = System.nanoTime()
    val rs = ops.map(run(_, passNo))
    val r = PassResult((System.nanoTime() - t0) / 1e9, rs)
    log(r, passNo)
    r
  }

  def log(p: PassResult, passNo: Int): Unit =
    System.err.println(f"[perfbench] pass $passNo: ${p.wallS}%.2f s, " +
      s"${p.ops.size} ops, ${p.failed} failed")

  def run(op: Op, passNo: Int): OpResult = {
    nextId += 1
    val id = nextId
    val marks = mutable.ArrayBuffer.empty[(String, Long)]
    var consumed: Option[DataFrame] = None
    val phase: String => Unit = tracer match {
      case Some(t) => p => { marks += p -> System.nanoTime(); t.tag(id, p) }
      case None    => _ => ()
    }
    val onPlan: DataFrame => Unit = tracer match {
      case Some(_) => d => { d.queryExecution.executedPlan; consumed = Some(d) }
      case None    => _ => ()
    }
    val opOut = new File(out, op.name)
    val ctx = new Ctx(spark, dir, opOut, serveRoot, phase, onPlan)
    op.prepare(ctx)
    val before = sc.getPersistentRDDs.keySet
    val t0 = System.nanoTime()
    val result =
      try Right(op.body(ctx))
      catch { case e: Throwable => Left(e) }
    val t1 = System.nanoTime()
    tracer.foreach(_.untag())
    val leftOver = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    leftOver.values.foreach(_.unpersist(false))
    val left = leftOver.size
    spark.catalog.clearCache()
    val wallMs = (t1 - t0) / 1e6
    val (ok, digest, error) = result match {
      case Left(e) => (false, "", s"threw ${e.getClass.getName}: " +
        String.valueOf(e.getMessage).linesIterator.take(1).mkString)
      case Right(d) if left > 0 =>
        (false, d, s"$left persisted RDDs left after the scope closed")
      case Right(d) => expected(op.name) match {
        case Some(e) if e == d => (true, d, "")
        case Some(e) => (false, d, s"digest $d, expected $e")
        case None    => (recording, d, "no expected digest")
      }
    }
    val record = tracer.map { t =>
      t.drain()
      val bounds = marks.toSeq :+ ("end" -> t1)
      val spans = bounds.zip(bounds.tail).map { case ((p, s), (_, e)) =>
        p -> (s, e) }
      val opSpan = t.span(id, op.name, t0, t1, 0)
      spans.foreach { case (p, (s, e)) => t.span(id, p, s, e, opSpan) }
      val exec = new Counters
      val byPhase = spans.map { case (p, _) =>
        val c = t.counters(id, p)
        exec += c
        p -> c
      }.toMap
      val (nodes, exchanges) = consumed
        .map(d => Tracer.planShape(d.queryExecution.executedPlan))
        .getOrElse((0, 0))
      OpRecord(id, passNo, op.name, wallMs,
        spans.map { case (p, (s, e)) => p -> (e - s) / 1e6 }
          .groupMapReduce(_._1)(_._2)(_ + _),
        byPhase.map { case (p, c) => p -> c.jobs },
        byPhase.map { case (p, c) => p -> c.taskNs / 1e9 },
        exec, nodes, exchanges, t.stream(id))
    }
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] ${op.name} failed: $error")
    }
    OpResult(op.name, wallMs, ok, digest, error, left, record)
  }
}
