package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload. `run.py` builds and launches it:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --data <dir> --work <dir> --cores <n>
  *     --expected <dir> [--record 1]
  *
  * Set-up (session, then warm-up passes at the workload's own scale) is
  * followed by a closed loop of passes over the workload's ops, each pass
  * in a seed-permuted order, until `--seconds` have passed, the
  * workload's passes are done and enough ops ran for the reported
  * percentile. The last stdout line is the result
  * object. `--trace 1` runs untraced and traced passes (see [[Traced]]),
  * adds the layer probes, and reports per-layer metrics and the tracing
  * overhead instead of the end-to-end metrics.
  * Expected digests live in `<expected>/<sf>.tsv`; `--record 1` writes
  * every op's digest there instead of checking it.
  */
object Main {

  /** Untimed passes before timing starts: after one, the JIT is still
    * compiling through the next passes and their times vary by a fifth
    * between runs of the same seed.
    */
  val WarmPasses = 2

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String): String = opt.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val w = Workloads.byName(need("workload"))
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val cores = need("cores").toInt
    val work = new File(need("work"))
    val dataDir = new File(need("data"), w.sf).getAbsolutePath
    require(new File(dataDir).isDirectory, s"no data directory $dataDir")
    val digests = new File(need("expected"), s"${w.sf}.tsv")
    val record = opt.get("record").contains("1")
    val expected = readTsv(digests)

    val spark = session(cores, work)
    val runner = new Runner(spark, dataDir, work, expected.get, record)
    val rng = new Random(seed)
    def order(): Seq[Op] = rng.shuffle(w.ops)

    // ---- set-up: JVM, session, warm-up passes at the workload's scale
    val warm = (1 to WarmPasses).map(p => runner.pass(w.ops, -p))
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    if (record) {
      // two more passes, so a digest that does not repeat shows up here
      val passes = warm ++ (0 until 2).map(p => runner.pass(order(), p)) :+
        runner.pass(w.probeOps, -2)
      writeDigests(digests, expected, passes.flatMap(_.ops))
      spark.stop()
      return
    }

    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        val passes = loop(runner, order _, seconds, w.passes,
          Stats.samplesNeeded(50))
        val ops = passes.flatMap(_.ops).filter(_.ok).map(_.wallMs)
        val p90 = Stats.percentile(ops, 90)
        System.err.println(s"[perfbench] ${w.name}: ${passes.size} passes, " +
          s"${ops.size} op samples, op_p90_ms " +
          p90.map(_.toString).getOrElse("n/a (too few samples)") +
          s", failed_share ${runner.failed.toDouble / runner.attempted} " +
          s"(${runner.failed} of ${runner.attempted} ops)")
        Seq(
          ("setup_s", setupS, "s"),
          ("pass_s", Stats.passSeconds(passes.flatMap(_.ops)), "s"),
          ("op_p50_ms", Stats.percentile(ops, 50).getOrElse(Double.NaN), "ms"))
      } else {
        val t = new Traced(spark, w, runner, cores, dataDir,
          new File(need("data"), "sf0.1").getAbsolutePath, work)
        t.run(order _)
        t.write(new File(work, s"trace-${w.name}-seed$seed.json"))
        t.metrics
      }

    val (attempted, failed) = (runner.attempted, runner.failed)
    spark.stop()
    val m = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {$m}}""")
  }

  /** The closed loop: passes over the ops one after another, each in a
    * fresh seed-permuted order, until `budgetS` has passed, `minPasses`
    * passes are done and `minOps` ops have run.
    */
  def loop(runner: Runner, order: () => Seq[Op], budgetS: Double,
      minPasses: Int, minOps: Int): Seq[PassResult] = {
    val t0 = System.nanoTime()
    val passes = mutable.ArrayBuffer.empty[PassResult]
    while (passes.size < minPasses || (System.nanoTime() - t0) / 1e9 < budgetS ||
        passes.map(_.ops.size).sum < minOps)
      passes += runner.pass(order(), passes.size)
    passes.toSeq
  }

  // ---- session ----------------------------------------------------------

  /** The session an embedding application builds (see the `Graft` and
    * `HarnessSession` docs): UTC, a registry-sized codegen cache, no
    * artifact isolation. The warehouse and local dirs only point the
    * writes into the benchmark's work directory.
    */
  def session(cores: Int, work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", 8192L)
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  // ---- helpers ----------------------------------------------------------

  def readTsv(f: File): Map[String, String] =
    if (!f.isFile) Map.empty
    else new String(java.nio.file.Files.readAllBytes(f.toPath), UTF_8)
      .linesIterator.filter(_.contains('\t'))
      .map { l => val Array(k, v) = l.split('\t'); k -> v }.toMap

  /** Merges the ops' digests into `f`, reporting any op whose digest did
    * not repeat or that failed.
    */
  private def writeDigests(f: File, old: Map[String, String],
      ops: Seq[OpResult]): Unit = {
    val byName = ops.groupBy(_.name)
    byName.foreach { case (n, rs) =>
      val ds = rs.map(_.digest).distinct
      if (ds.size > 1 || rs.exists(!_.ok))
        System.err.println(s"[perfbench] $n: digests do not repeat or op " +
          s"failed: ${ds.mkString(" | ")} ${rs.map(_.error).distinct.mkString(" | ")}")
    }
    f.getParentFile.mkdirs()
    val merged = old ++ byName.map { case (n, rs) => n -> rs.last.digest }
    java.nio.file.Files.write(f.toPath, merged.toSeq.sorted
      .map { case (n, d) => s"$n\t$d\n" }.mkString.getBytes(UTF_8))
  }

  /** VmHWM of this process: its peak resident set. */
  def peakRssMb(): Double = {
    val status = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/self/status")), UTF_8)
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
}
