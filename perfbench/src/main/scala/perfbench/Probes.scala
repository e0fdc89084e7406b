package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Caches, GraftExtensions, Graft, Tables}
import graft.operators.{AuditServe, GraphServe, SimilarityQueries}

/** Layer probes of the traced run: each calls one layer's public entry
  * point on its own and times it, so the layer's cost is read without the
  * rest of a pipeline around it. Each returns named per-layer metrics.
  */
final class Probes(spark: SparkSession, tracer: Tracer) {

  private def timedMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** `Tables.byName` over every table: the per-load fixed cost (schema
    * inference jobs) each query pays once per table it reads. The median
    * of three rounds.
    */
  def tables(dir: String): Map[String, Double] = {
    val rounds = (1 to 3).map { round =>
      val id = -round // op ids are positive
      tracer.tag(id, "tables")
      val (_, ms) = timedMs(graft.QueryDef.tableNames.foreach(
        t => Tables.byName(spark, dir, t)))
      tracer.untag()
      tracer.drain()
      (ms, tracer.counters(id, "tables").jobs.toDouble)
    }
    Map("tables.load_ms" -> Stats.median(rounds.map(_._1)),
      "tables.load_jobs" -> Stats.median(rounds.map(_._2)))
  }

  /** Each native kernel as one projection drained over the documents or
    * embeddings: ns per input row, the median of three drains. The tables
    * are repeated `copies` times so per-row work, not job dispatch,
    * dominates a drain; kernel inputs (shingle sets, token hashes,
    * quantized vectors) are cached first so only the kernel is timed.
    */
  def functions(dir: String, copies: Int = 8): Map[String, Double] = {
    GraftExtensions.ensureInstalled(spark)
    def repeated(df: DataFrame) =
      df.withColumn("copy", explode(sequence(lit(1), lit(copies))))
    val docs = repeated(Tables.documents(spark, dir))
      .select(col("text"),
        expr("shingles3(text)").as("sh"),
        expr("transform(split(text, ' '), t -> " +
          "CAST(conv(substr(md5(t), 1, 8), 16, 10) AS BIGINT))").as("th"))
      .repartition(spark.sparkContext.defaultParallelism).cache()
    val vecs = repeated(Tables.embeddings(spark, dir))
      .select(expr("transform(embedding, x -> " +
        "CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))").as("qe"))
      .repartition(spark.sparkContext.defaultParallelism).cache()
    try {
      val nDocs = docs.count().toDouble
      val nVecs = vecs.count().toDouble
      def drain(df: DataFrame, rows: Double): Double = Stats.median(
        (1 to 3).map(_ => timedMs(df.write.format("noop").mode("overwrite")
          .save())._2 * 1e6 / rows))
      Map(
        "functions.shingles3_ns_per_row" ->
          drain(docs.select(expr("shingles3(text)")), nDocs),
        "functions.minhash_sigs_ns_per_row" ->
          drain(docs.select(expr("minhash_sigs(sh, 16)")), nDocs),
        "functions.simhash_bits_ns_per_row" ->
          drain(docs.select(expr("simhash_bits(th)")), nDocs),
        "functions.dot_long_ns_per_row" ->
          drain(vecs.select(expr("dot_long(qe, qe)")), nVecs),
        "functions.srp_band_keys_ns_per_row" ->
          drain(vecs.select(expr("srp_band_keys(qe, 8, 8, 64)")), nVecs),
        "functions.vec_sum_long_ns_per_row" ->
          drain(vecs.agg(expr("vec_sum_long(qe)")), nVecs))
    } finally {
      docs.unpersist(true)
      vecs.unpersist(true)
    }
  }

  /** The public sinks, each timed on its own over the monthly report. */
  def sinks(dir: String, out: File): Map[String, Double] = {
    Dirs.deleteTree(out)
    val path = new File(out, "report.parquet").getAbsolutePath
    val report = Graft.reportingMonthly(spark, dir).orderBy("section", "month")
    val (_, parquetMs) = timedMs(graft.sources.Sinks.overwriteParquet(report, path))
    val staged = spark.read.parquet(path)
    val (_, warehouseMs) = timedMs(graft.sources.Sinks.syncWarehouse(spark,
      Map("perfbench_report" -> staged)))
    val (_, xlsxMs) = timedMs(Graft.writeXlsx(staged,
      new File(out, "report.xlsx").getAbsolutePath))
    val (_, snapshotMs) = timedMs(Graft.writeSnapshot(staged,
      new File(out, "snapshots").getAbsolutePath, keep = 3))
    val warehouse = new File(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:"), "perfbench_report")
    val bytes = Dirs.sizeOf(out) + Dirs.sizeOf(warehouse)
    spark.sql("DROP TABLE IF EXISTS perfbench_report")
    Map("sinks.write_ms" -> (parquetMs + warehouseMs + xlsxMs + snapshotMs),
      "sinks.overwrite_parquet_ms" -> parquetMs,
      "sinks.sync_warehouse_ms" -> warehouseMs,
      "sinks.write_xlsx_ms" -> xlsxMs,
      "sinks.write_snapshot_ms" -> snapshotMs,
      "sinks.bytes_written" -> bytes.toDouble)
  }

  /** The three serve families built cold, then prepared again warm: a warm
    * prepare must reuse the artifacts, which shows as an unchanged
    * `_READY` mtime.
    */
  def serve(dir: String, root: File): Map[String, Double] = {
    Dirs.deleteTree(root)
    // scoped like the nightly composite: the builders' caches and
    // checkpoint backings are released once the artifacts are on disk
    def scoped(prepare: => Unit): () => Unit =
      () => { Caches.scope(spark)(prepare); spark.catalog.clearCache() }
    val families = Seq(
      "audit" -> scoped(AuditServe.prepare(spark, dir)),
      "similarity" -> scoped(SimilarityQueries.prepareServe(spark, dir)),
      "graph" -> scoped(GraphServe.prepare(spark, dir)))
    val cold = families.map { case (n, prep) =>
      s"serve.${n}_prepare_ms" -> timedMs(prep())._2
    }
    def ready(): Map[String, Long] = Option(root.listFiles).toSeq.flatten
      .map(r => r.getName -> new File(r, "_READY").lastModified).toMap
    val before = ready()
    families.foreach { case (_, prep) => prep() }
    val after = ready()
    val kept = before.count { case (k, m) => m > 0 && after.get(k).contains(m) }
    (cold :+ ("serve.prepare_ms" -> cold.map(_._2).sum) :+
      ("serve.bytes_written" -> Dirs.sizeOf(root).toDouble) :+
      ("serve.reuse" -> kept.toDouble / math.max(1, before.size))).toMap
  }
}
