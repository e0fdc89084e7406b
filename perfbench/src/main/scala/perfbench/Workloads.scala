package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.{Caches, Graft}

/** One operation of a workload. `body` runs it and returns its result
  * digest; `prepare` runs untimed before it. `body` reports the layer it
  * enters through `phase`, which the traced run turns into spans.
  */
final case class Op(name: String, body: Ctx => String,
    prepare: Ctx => Unit = _ => ())

/** What an op body sees: the session, the workload's data directory, a
  * scratch directory of its own, and the phase marker.
  */
final class Ctx(val spark: SparkSession, val dir: String, val out: File,
    val serveRoot: File, val phase: String => Unit,
    val onPlan: org.apache.spark.sql.DataFrame => Unit)

/** A workload: its ops, the scale factor they run at, and how many timed
  * passes a run makes at least (passes still speed up after the warm-up
  * passes, so a fixed count keeps runs comparable). Its traced run adds
  * `probeOps` (run once, traced) and the named layer `probes` (see
  * [[Probes]]) for layers the ops themselves do not reach.
  */
final case class Workload(name: String, sf: String, ops: Seq[Op],
    passes: Int, probeOps: Seq[Op] = Nil, probes: Set[String] = Set.empty)

object Workloads {

  /** A subset of the 94 reference-parity rows (the Metabase-style query
    * surface) that keeps every family: aggregates, projections,
    * formatting, windows, joins, table ops, utilities, events, data
    * quality and the flagship pipeline. `reporting_monthly` (a fifth of a
    * pass on its own) runs inside `run_etl` in the traced run instead.
    */
  val interactiveRows: Seq[String] = Seq(
    "a01_group_sum_max", "a11_cube_orders",
    "p01_project_filter", "p08_filter_date_range",
    "f01_clean_numeric", "f02_parse_date",
    "w01_window_ranks", "w02_top1_per_group",
    "j01_inner_join", "j05_multiway_join", "j14_asof_join",
    "j19_interp_join",
    "o10_topk", "o21_ivm_merge",
    "u06_calendar_dim",
    "e02_sessionize", "e08_attribution",
    "dq01_constraint_check",
    "loan_detail")

  /** LLM-operator rows that do real compute: the iterative loops
    * (PageRank, BPE and unigram EM training), the document-frequency skew
    * cap and the x100 cache fan-out.
    */
  val corpusHeavyRows: Seq[String] = Seq(
    "x46_part_pagerank", "x91_bpe_train", "x97_unigram_train",
    "x08c_jaccard_dfcap", "x100c_substr_heavy")

  /** Every streaming drain. */
  val streamingRows: Seq[String] = (1 to 21).map(i => f"st$i%02d").map {
    p => graft.SparkEntry.queries.keys.find(_.startsWith(p + "_")).getOrElse(
      sys.error(s"no registry row with prefix $p"))
  }

  /** The drains the traced `corpus_heavy` run probes the streaming layer
    * with: the slowest ones (sessions, timeout sessions, stream-stream
    * join) and the plain tumbling window.
    */
  val streamingProbeRows: Seq[String] = Seq("st01_stream_tumbling",
    "st02_stream_sessions", "st05_stream_timeout_sessions",
    "st07_stream_stream_join")

  /** The benchmark's workloads (`interactive`, `corpus_heavy`) and two
    * more that run by hand: every streaming drain, and the nightly
    * composites.
    */
  def all: Seq[Workload] = Seq(
    Workload("interactive", "sf0.01", interactiveRows.map(query), 2,
      nightly, Set("sinks")),
    Workload("corpus_heavy", "sf0.01", corpusHeavyRows.map(query), 4,
      streamingProbeRows.map(query), Set("functions", "serve")),
    Workload("streaming", "sf0.01", streamingRows.map(query), 1),
    Workload("nightly_etl", "sf0.01", nightly, 1, Nil, Set("sinks", "serve")))

  def byName(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(s"unknown workload '$name'; " +
      s"known: ${all.map(_.name).mkString(", ")}"))

  /** A registry row, run the way an embedding service runs it: scoped,
    * consumed into its digest, caches released when the scope closes.
    */
  def query(name: String): Op = Op(name, { c =>
    c.phase("build")
    Graft.runScoped(name, c.spark, c.dir) { df =>
      c.phase("plan")
      val d = Digest.frame(df)
      c.onPlan(d)
      c.phase("exec")
      val s = Digest.render(d)
      c.phase("close")
      s
    }
  })

  /** A nightly composite: the pipeline writes its outputs, then the
    * check reads the manifest (minus the run-specific paths) and every
    * staged table back into one digest.
    */
  private def etl(name: String,
      run: (SparkSession, String, String) => org.apache.spark.sql.DataFrame,
      prepare: Ctx => Unit): Op = Op(name, { c =>
    c.phase("etl")
    Caches.scope(c.spark) {
      val manifest = run(c.spark, c.dir, c.out.getAbsolutePath)
      c.phase("check")
      val staged = manifest.collect().toSeq.map { r =>
        r.getString(0) -> Digest.of(c.spark.read.parquet(r.getString(1)))
      }
      val s = Digest.combine(
        ("manifest" -> Digest.of(manifest.drop("path"))) +: staged)
      c.phase("close")
      s
    }
  }, prepare)

  val runEtl: Op = etl("run_etl", Graft.runEtl, _ => ())

  /** First nightly on a data version: every serve artifact is rebuilt. */
  val corpusCold: Op = etl("corpus_cold", Graft.runCorpusEtl,
    c => Dirs.deleteTree(c.serveRoot))

  /** Steady-state nightly: the serve artifacts are reused. */
  val corpusWarm: Op = etl("corpus_warm", Graft.runCorpusEtl, _ => ())

  /** The nightly chain, in its order. */
  def nightly: Seq[Op] = Seq(runEtl, corpusCold, corpusWarm)
}

object Dirs {
  def deleteTree(f: File): Unit = if (f.exists()) {
    val p = f.toPath
    java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
      .forEach(x => java.nio.file.Files.deleteIfExists(x))
  }

  def sizeOf(f: File): Long =
    if (!f.exists()) 0L
    else java.nio.file.Files.walk(f.toPath)
      .filter(java.nio.file.Files.isRegularFile(_))
      .mapToLong(java.nio.file.Files.size(_)).sum
}
