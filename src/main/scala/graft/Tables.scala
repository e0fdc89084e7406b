package graft

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Parquet-backed catalog over a testdata scale-factor directory.
  *
  * Mirrors the reference's staging layer (one parquet file per table,
  * `/root/reference/utils/fetch_parquet_utils.py:11-19`) but lazily: a scan
  * here is a Catalyst relation, so filters/projections declared downstream
  * are pushed into the parquet reader instead of materializing the file.
  *
  * A load launches no Spark job: [[parquet]] reads the schema from the
  * file's footer on the driver instead of running Spark's one-task
  * schema-inference job. Nothing is cached — every load re-reads the live
  * footer, so a rewritten file shows its new schema on the next load, and
  * a column the new file lacks fails analysis instead of reading as NULL.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(path)` for one parquet file or an unpartitioned,
    * Spark-written directory, without the schema-inference job.
    *
    * The schema comes from the footer of the file itself or, for a
    * directory, of its first data file in name order (skipping `_`- and
    * `.`-prefixed names) — the file Spark's non-merging inference reads.
    * As in Spark's own footer read, a footer carrying Spark's row-metadata
    * key yields that schema; otherwise the parquet schema is converted
    * under the session's current conf (so `nanosAsLong`, binary-as-string
    * and NTZ inference apply exactly as they would to inference).
    *
    * A path with no data file at its top level falls back to
    * `spark.read.parquet`: a missing path or a glob then raises Spark's own
    * error, and a partitioned (`key=value`) directory keeps the partition
    * discovery that types its partition columns.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }

  private def footerSchema(spark: SparkSession,
      path: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val file = Try(fs.getFileStatus(p)).toOption.flatMap { st =>
      if (!st.isDirectory) Some(st)
      else fs.listStatus(p).filter { f =>
        val n = f.getPath.getName
        f.isFile && !n.startsWith("_") && !n.startsWith(".")
      }.sortBy(_.getPath.getName).headOption
    }
    file.map { st =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromStatus(st, conf),
        HadoopReadOptions.builder(conf)
          .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS)
          .build())
      val meta = try reader.getFileMetaData finally reader.close()
      Option(meta.getKeyValueMetaData
          .get(ParquetReadSupport.SPARK_METADATA_KEY))
        .flatMap(json => Try(DataType.fromJson(json)).toOption)
        .collect { case s: StructType => s }
        .getOrElse(new ParquetToSparkSchemaConverter(spark.sessionState.conf)
          .convert(meta.getSchema))
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** `events.ts` arrives in either of two physical spellings depending on
    * the generator vintage: TIMESTAMP(NANOS) — which Spark's reader rejects
    * outright (PARQUET_TYPE_ILLEGAL) unless read as raw longs — or plain
    * TIMESTAMP(MICROS) without a UTC flag (inferred TIMESTAMP_NTZ). Adapt
    * on the scanned schema: longs get exact integer nanos→micros division
    * (matching DuckDB's own truncation), native timestamps just re-cast to
    * NTZ. Both normalize to the same logical column.
    *
    * Side effect: sets `spark.sql.legacy.parquet.nanosAsLong` for the
    * session and leaves it set — the flag is consulted again at execution
    * time, so a scoped set/restore would break the returned (lazy) frame.
    * Net effect on other reads: TIMESTAMP(NANOS) columns elsewhere load as
    * bigint nanos instead of erroring.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.withColumn("ts", normalizedTs(s, raw.schema("ts").dataType))
  }

  /** Normalize any generator vintage of a parquet timestamp column named
    * `ts` to TIMESTAMP_NTZ carrying the STORED wall clock, independent of
    * `spark.sql.session.timeZone`:
    *   - BIGINT (legacy NANOS read as raw longs): exact integer
    *     nanos→micros division, matching DuckDB's truncation;
    *   - TIMESTAMP_NTZ: already the stored wall clock — identity;
    *   - TIMESTAMP (MICROS with isAdjustedToUTC=true reads as
    *     session-zone LTZ): a bare NTZ cast would take the SESSION-zone
    *     wall clock and silently shift events relative to the DuckDB
    *     oracle (which reads parquet timestamps naively) whenever the
    *     session zone isn't UTC. Re-render the instant's UTC wall clock
    *     first (`to_utc_timestamp(ts, sessionZone)`), THEN cast — a
    *     no-op under the UTC sessions Verify/Bench build, and correct
    *     under any other.
    */
  private def normalizedTs(s: SparkSession,
      dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.Column = dt match {
    case org.apache.spark.sql.types.LongType =>
      timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz")
    case org.apache.spark.sql.types.TimestampNTZType => col("ts")
    case org.apache.spark.sql.types.TimestampType =>
      to_utc_timestamp(col("ts"),
        s.conf.get("spark.sql.session.timeZone")).cast("timestamp_ntz")
    case _ => col("ts").cast("timestamp_ntz")
  }
  /** Table by name, routed through any table-specific reader (`events`
    * needs the nanos workaround below). The single dispatch point for
    * generic loops (Bench warm-up, Graft.registerTables).
    */
  def byName(s: SparkSession, d: String, name: String): DataFrame =
    if (name == "events") events(s, d) else load(s, d, name)

  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")

  /** `documents` spread across the cluster before expensive per-row work.
    * A small corpus arrives as one parquet split, so everything downstream
    * of the scan would run in a single task; shingling/minhashing is
    * orders of magnitude more expensive than the text itself, so paying
    * one cheap shuffle of raw text to engage every core is the right
    * trade at any scale where split count < core count. (At full scale
    * the file count makes this a no-op-sized shuffle relative to the
    * compute it parallelizes.)
    */
  def documentsSpread(s: SparkSession, d: String): DataFrame =
    documents(s, d).repartition(s.sparkContext.defaultParallelism)
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** `embeddings` spread like [[documentsSpread]]: the similarity scans do
    * O(corpus × probes) vector arithmetic downstream of a scan that may
    * arrive as a single split.
    */
  def embeddingsSpread(s: SparkSession, d: String): DataFrame =
    embeddings(s, d).repartition(s.sparkContext.defaultParallelism)
}
