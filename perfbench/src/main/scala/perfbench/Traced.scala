package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** A `--trace 1` run after set-up: a pass with [[Tracer]] installed
  * between two untraced ones, then the layer probes. Per-layer metrics
  * are summed over the traced pass; the probes report their own
  * medians. The spans and per-op records are
  * kept in memory and written out by [[write]].
  */
final class Traced(spark: SparkSession, w: Workload, runner: Runner,
    cores: Int, dataDir: String, kernelDir: String, work: File) {

  private val tracer = new Tracer(spark)
  private val passes =
    mutable.ArrayBuffer.empty[(PassResult, Tracer.Jvm, Long)]
  private var base: Seq[PassResult] = Nil
  private var probePass: Option[PassResult] = None
  private var probes = Map.empty[String, Double]

  /** A traced pass between two untraced ones, so a pass-to-pass speed-up
    * cannot pass for tracing overhead; the probes run while the tracer is
    * installed.
    */
  def run(order: () => Seq[Op]): Unit = {
    base = Seq(runner.pass(order(), 0))
    tracer.install()
    runner.trace(Some(tracer))
    try {
      tracer.drain()
      tracer.resetBlockPeak()
      val j0 = tracer.jvm()
      val p = runner.pass(order(), 1)
      tracer.drain()
      passes += ((p, tracer.jvm() - j0, tracer.blockBytesPeak))
      if (w.probeOps.nonEmpty) probePass = Some(runner.pass(w.probeOps, -2))
      runner.trace(None)
      val probe = new Probes(spark, tracer)
      def when(name: String)(m: => Map[String, Double]) =
        if (w.probes(name)) m else Map.empty[String, Double]
      probes = probe.tables(dataDir) ++
        when("functions")(probe.functions(kernelDir)) ++
        when("sinks")(probe.sinks(dataDir, new File(work, "sinks"))) ++
        when("serve")(probe.serve(dataDir, runner.serveRoot))
    } finally {
      runner.trace(None)
      tracer.uninstall()
    }
    base :+= runner.pass(order(), 2)
  }

  /** Every per-layer metric, with layers that do no work in this
    * workload reported as 0.
    */
  def metrics: Seq[(String, Double, String)] = {
    def perPass(f: (PassResult, Tracer.Jvm, Long) => Double): Double =
      Stats.median(passes.toSeq.map { case (p, j, b) => f(p, j, b) })
    def sum(f: OpRecord => Double): Double =
      perPass((p, _, _) => p.ops.flatMap(_.record).map(f).sum)
    def ms(r: OpRecord, phases: String*): Double =
      phases.map(r.phaseMs.getOrElse(_, 0.0)).sum
    def streams(p: PassResult): Seq[StreamCounters] =
      p.ops.flatMap(_.record).flatMap(_.stream)
    // streaming layer: from the workload's own drains, else from the
    // drains of the probe pass
    val streamPasses = passes.toSeq.map(_._1) match {
      case ps if ps.exists(streams(_).nonEmpty) => ps
      case ps => probePass.toSeq
    }
    def perStream(f: Seq[StreamCounters] => Double): Double =
      if (streamPasses.isEmpty) 0.0
      else Stats.median(streamPasses.map(p => f(streams(p))))
    // nightly composites: their wall times wherever they ran
    val allOps = (passes.toSeq.map(_._1) ++ probePass).flatMap(_.ops)
    def wallS(op: String): Double = allOps.filter(_.name == op) match {
      case Seq() => 0.0
      case rs    => Stats.median(rs.map(_.wallMs / 1000.0))
    }
    val execPhases = Seq("exec", "etl", "check")
    val tracedPass = perPass((p, _, _) => p.wallS)
    val untracedPass = Stats.median(base.map(_.wallS))
    val taskS = sum(_.exec.taskNs / 1e9)
    val layer = Seq(
      ("operators.build_ms", sum(ms(_, "build")), "ms"),
      ("operators.build_jobs", sum(_.phaseJobs.getOrElse("build", 0L).toDouble), "count"),
      ("catalyst.plan_ms", sum(ms(_, "plan")), "ms"),
      ("catalyst.plan_nodes", sum(_.planNodes.toDouble), "count"),
      ("catalyst.exchanges", sum(_.exchanges.toDouble), "count"),
      ("exec.ms", sum(ms(_, execPhases: _*)), "ms"),
      ("exec.jobs", sum(_.exec.jobs.toDouble), "count"),
      ("exec.stages", sum(_.exec.stages.toDouble), "count"),
      ("exec.tasks", sum(_.exec.tasks.toDouble), "count"),
      ("exec.task_s", taskS, "s"),
      ("exec.sched_delay_ms", sum(_.exec.schedDelayMs.toDouble), "ms"),
      ("exec.core_util", sum(r => execPhases.map(r.phaseTaskS.getOrElse(_, 0.0)).sum) /
        (sum(ms(_, execPhases: _*)) / 1000.0 * cores), "ratio"),
      ("shuffle.write_bytes", sum(_.exec.shuffleWrite.toDouble), "bytes"),
      ("shuffle.read_bytes", sum(_.exec.shuffleRead.toDouble), "bytes"),
      ("shuffle.spill_bytes", sum(_.exec.spill.toDouble), "bytes"),
      ("caches.close_ms", sum(ms(_, "close")), "ms"),
      ("caches.block_bytes_peak", perPass((_, _, b) => b.toDouble), "bytes"),
      ("caches.rdds_left", perPass((p, _, _) => p.ops.map(_.rddsLeft).sum.toDouble), "count"),
      ("streaming.batches", perStream(_.map(_.batchMs.size).sum.toDouble), "count"),
      ("streaming.batch_ms_p50", perStream { s =>
        val b = s.flatMap(_.batchMs)
        if (b.isEmpty) 0.0 else Stats.median(b.toSeq)
      }, "ms"),
      ("streaming.plan_ms", perStream(_.map(_.planMs).sum.toDouble), "ms"),
      ("streaming.add_batch_ms", perStream(_.map(_.addBatchMs).sum.toDouble), "ms"),
      ("streaming.wal_commit_ms", perStream(_.map(_.walCommitMs).sum.toDouble), "ms"),
      ("streaming.state_rows", perStream(_.map(_.stateRowsPeak).sum.toDouble), "count"),
      ("streaming.state_bytes", perStream(_.map(_.stateBytesPeak).sum.toDouble), "bytes"),
      ("run_etl_s", wallS("run_etl"), "s"),
      ("corpus_cold_s", wallS("corpus_cold"), "s"),
      ("corpus_warm_s", wallS("corpus_warm"), "s"),
      ("jvm.gc_ms", perPass((_, j, _) => j.gcMs.toDouble), "ms"),
      ("jvm.jit_ms", perPass((_, j, _) => j.jitMs.toDouble), "ms"),
      ("codegen.compiles", perPass((_, j, _) => j.compiles.toDouble), "count"),
      ("codegen.compile_ms", perPass((_, j, _) => j.compileMs), "ms"),
      ("jvm.peak_rss_mb", Main.peakRssMb(), "MB"),
      ("trace.pass_s", tracedPass, "s"),
      ("trace.untraced_pass_s", untracedPass, "s"),
      ("trace.overhead_ratio", tracedPass / untracedPass - 1.0, "ratio"))
    layer ++ Traced.probeMetrics.map { case (k, u) =>
      (k, probes.getOrElse(k, 0.0), u) }
  }

  /** Spans and per-op layer records of every traced pass, plus the
    * metrics, as one JSON document.
    */
  def write(f: File): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def obj(kv: Iterable[(String, String)]) =
      kv.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    val spans = tracer.spans.map { s =>
      obj(Seq("id" -> s.id.toString, "op" -> s.op.toString,
        "name" -> q(s.name), "start_ns" -> s.startNs.toString,
        "end_ns" -> s.endNs.toString, "parent" -> s.parent.toString))
    }
    val records = (passes.toSeq.map(_._1) ++ probePass).flatMap(_.ops)
      .flatMap(o => o.record.map(o -> _)).map { case (o, r) =>
      obj(Seq("id" -> r.id.toString, "pass" -> r.pass.toString,
        "name" -> q(r.name), "ok" -> o.ok.toString, "error" -> q(o.error),
        "wall_ms" -> Main.num(r.wallMs),
        "phase_ms" -> obj(r.phaseMs.map { case (k, v) => k -> Main.num(v) }),
        "phase_jobs" -> obj(r.phaseJobs.map { case (k, v) => k -> v.toString }),
        "phase_task_s" -> obj(r.phaseTaskS.map { case (k, v) => k -> Main.num(v) }),
        "stages" -> r.exec.stages.toString, "tasks" -> r.exec.tasks.toString,
        "task_s" -> Main.num(r.exec.taskNs / 1e9),
        "shuffle_write_bytes" -> r.exec.shuffleWrite.toString,
        "shuffle_read_bytes" -> r.exec.shuffleRead.toString,
        "spill_bytes" -> r.exec.spill.toString,
        "plan_nodes" -> r.planNodes.toString,
        "exchanges" -> r.exchanges.toString))
    }
    val m = metrics.map { case (k, v, u) =>
      k -> obj(Seq("value" -> Main.num(v), "unit" -> q(u))) }
    val doc = obj(Seq("workload" -> q(w.name), "sf" -> q(w.sf),
      "cores" -> cores.toString, "metrics" -> obj(m),
      "ops" -> records.mkString("[", ",\n", "]"),
      "spans" -> spans.mkString("[", ",\n", "]")))
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, doc.getBytes(UTF_8))
  }
}

object Traced {
  /** Probe metrics, with the unit each is reported in. */
  val probeMetrics: Seq[(String, String)] = Seq(
    "tables.load_ms" -> "ms", "tables.load_jobs" -> "count",
    "functions.shingles3_ns_per_row" -> "ns",
    "functions.minhash_sigs_ns_per_row" -> "ns",
    "functions.simhash_bits_ns_per_row" -> "ns",
    "functions.dot_long_ns_per_row" -> "ns",
    "functions.srp_band_keys_ns_per_row" -> "ns",
    "functions.vec_sum_long_ns_per_row" -> "ns",
    "sinks.write_ms" -> "ms", "sinks.overwrite_parquet_ms" -> "ms",
    "sinks.sync_warehouse_ms" -> "ms", "sinks.write_xlsx_ms" -> "ms",
    "sinks.write_snapshot_ms" -> "ms", "sinks.bytes_written" -> "bytes",
    "serve.prepare_ms" -> "ms", "serve.audit_prepare_ms" -> "ms",
    "serve.similarity_prepare_ms" -> "ms", "serve.graph_prepare_ms" -> "ms",
    "serve.bytes_written" -> "bytes", "serve.reuse" -> "ratio")
}
