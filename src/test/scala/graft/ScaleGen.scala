package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Test-scope generator for the SCALING-EXPONENT dataset (SCALE.md's
  * measured-exponents section): sf0.1-SHAPED tables at an arbitrary
  * size multiplier, so the heaviest registry rows can be timed at 1×
  * and 10× of the SAME distribution and their time-ratio-vs-size-ratio
  * measured instead of argued. Deterministic (seeded md5 everywhere,
  * no rand()), written once per multiplier in the sf* layout the
  * registry reads.
  *
  * Usage: sbt "Test/runMain graft.ScaleGen /tmp/scaledata 1,10"
  *
  * Shapes mirror the driver's sf0.1 testdata (TESTDATA.md):
  *   - documents: 5000·m rows; 40-70-word texts over a small tech
  *     vocabulary (~300 chars), langs en 40% / de es fr zh 15% each,
  *     sources src0-src19; 10% of docs are near-dup twins (2 words
  *     changed) and 5% exact-dup twins, so the dedup/cluster rows keep
  *     a scale-PROPORTIONAL edge set at every multiplier.
  *   - embeddings: 2000·m rows of 64-dim integer-coordinate vectors
  *     (md5-derived, [-50,50]); 10% are jittered near-copies of their
  *     predecessor (±1 on two coordinates — jittered, NOT exact: exact
  *     duplicates defeat k-means splitting and would skew the IVF
  *     geometry away from the driver data's); labels md5-mod-10.
  *   - lineitem: 600000·m rows, 4 lines per order, part universe
  *     20000·m (parts scale with SF, as in TPC-H) — the co-purchase
  *     graph rows see linearly growing nodes AND edges.
  *   - events: 100000·m rows over the SAME 30-day window (event
  *     density grows with m, window count stays fixed — the firehose
  *     shape), users 1500·m (streaming KEY state scales with m),
  *     5 uniform event types; written as a single parquet FILE because
  *     the streaming source globs on the file name like the driver
  *     testdata.
  */
object ScaleGen {

  val BaseDocs = 5000L
  val BaseVecs = 2000L
  val BaseLines = 600000L
  val BaseParts = 20000L
  val BaseEvents = 100000L
  val BaseUsers = 1500L
  val Dims = 64

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/scaledata")
    val mults = args.lift(1).getOrElse("1,10")
      .split(",").map(_.trim.toInt).toSeq
    val spark = HarnessSession.build()
    mults.foreach(m => write(spark, s"$out/x$m", m))
    spark.stop()
    println(s"[scalegen] wrote $out (multipliers ${mults.mkString(",")})")
  }

  /** Idempotent per-multiplier build (also callable from mains/specs).
    * The marker carries a generator version so adding a table (v2:
    * events) regenerates stale dirs instead of silently serving them.
    */
  def write(spark: SparkSession, dir: String, mult: Int): Unit = {
    // writeEvents renders ts through cast(timestamp_ntz), whose wall
    // value depends on the session timezone — but the _SCALEGEN_OK
    // stamp records only mult+version, so a non-UTC caller would write
    // time-shifted events that later UTC runs silently accept. All
    // mains set UTC; enforce it for any other caller.
    // normalized-zone comparison, not string equality: "Etc/UTC",
    // "+00:00", "Z", "GMT" all render the same wall times as "UTC" and
    // must pass; a malformed id fails with the same message
    val tz = spark.conf.get("spark.sql.session.timeZone")
    val utc =
      try java.time.ZoneId.of(tz).normalized() == java.time.ZoneOffset.UTC
      catch { case _: java.time.DateTimeException => false }
    require(utc,
      s"ScaleGen.write requires a UTC session timezone, got '$tz' " +
        "(the generated event timestamps are stamped as UTC wall times)")
    val done = new java.io.File(s"$dir/_SCALEGEN_OK")
    val stamp = s"mult=$mult;v=2"
    if (done.exists() &&
      java.nio.file.Files.readString(done.toPath) == stamp) return
    writeDocuments(spark, dir, mult)
    writeEmbeddings(spark, dir, mult)
    writeLineitem(spark, dir, mult)
    writeEvents(spark, dir, mult)
    done.getParentFile.mkdirs()
    java.nio.file.Files.writeString(done.toPath, stamp)
  }

  // includes the en stopword set TextQueries keys its language /
  // quality flags on (~15% of positions), so the curation funnel keeps
  // a realistic survivor share instead of rejecting the whole corpus
  private val Vocab = Seq("batch", "part", "spark", "line", "column",
    "order", "small", "sort", "fast", "value", "scan", "hash", "slow",
    "group", "agg", "filter", "query", "big", "key", "window", "row",
    "table", "stream", "merge", "data", "join", "shard", "plan", "node",
    "stage", "task", "block", "cache", "spill", "codec", "index",
    "range", "bloom", "delta", "page",
    "the", "a", "of", "and", "to", "in", "is")

  private def vocabSql = Vocab.map(w => s"'$w'").mkString("array(", ",", ")")

  private def writeDocuments(s: SparkSession, dir: String,
      mult: Int): Unit = {
    val n = BaseDocs * mult
    // seed id: near-dup twins (id % 10 == 1) draw their word stream
    // from the PREVIOUS id's seed; exact twins (id % 20 == 2) reuse it
    // verbatim. Twin rates are per-row constants, so the duplicate
    // structure scales proportionally with the corpus.
    val doc = s.range(n)
      .withColumn("seed",
        when(col("id") % 10 === 1, col("id") - 1)
          .when(col("id") % 20 === 2, col("id") - 2)
          .otherwise(col("id")))
      .withColumn("nw",
        (conv(substring(md5(concat(lit("len|"), col("seed"))), 1, 6),
          16, 10).cast("long") % 31 + 40).cast("int"))
      .withColumn("words", expr(
        s"""transform(sequence(1, nw), i -> element_at($vocabSql,
           |  CAST(CAST(conv(substr(md5(concat('w|', seed, '|', i)), 1, 6),
           |    16, 10) AS BIGINT) % ${Vocab.size} + 1 AS INT)))"""
          .stripMargin))
      // near-dup twins replace their last two words with twin-specific
      // ones — high Jaccard/containment to the seed doc, not identity
      .withColumn("words",
        when(col("id") % 10 === 1, expr(
          s"""concat(slice(words, 1, nw - 2),
             |  array(substr(md5(concat('nd|', id)), 1, 7),
             |        substr(md5(concat('nd2|', id)), 1, 7)))"""
            .stripMargin))
          .otherwise(col("words")))
      .withColumn("text", array_join(col("words"), " "))
      .withColumn("lm",
        conv(substring(md5(concat(lit("lang|"), col("id"))), 1, 6),
          16, 10).cast("long") % 20)
      .select(
        col("id").as("doc_id"),
        col("text"),
        when(col("lm") < 8, "en").when(col("lm") < 11, "de")
          .when(col("lm") < 14, "es").when(col("lm") < 17, "fr")
          .otherwise("zh").as("lang"),
        concat(lit("src"),
          conv(substring(md5(concat(lit("src|"), col("id"))), 1, 6),
            16, 10).cast("long") % 20).as("source"),
        length(col("text")).cast("long").as("n_chars"))
    doc.repartition(math.max(8, 8 * mult))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  private def writeEmbeddings(s: SparkSession, dir: String,
      mult: Int): Unit = {
    val n = BaseVecs * mult
    val vec = s.range(n)
      .withColumn("seed",
        when(col("id") % 10 === 1, col("id") - 1).otherwise(col("id")))
      .withColumn("base", expr(
        s"""transform(sequence(1, $Dims), i -> CAST(
           |  CAST(conv(substr(md5(concat('v|', seed, '|', i)), 1, 6),
           |    16, 10) AS BIGINT) % 101 - 50 AS FLOAT))""".stripMargin))
      // near-copies jitter two coordinates by +1 — near-dup cosine, but
      // never a zero-variance cloud
      .withColumn("embedding",
        when(col("id") % 10 === 1, expr(
          """transform(base, (v, i) ->
            |  CASE WHEN i < 2 THEN v + CAST(1 AS FLOAT) ELSE v END)"""
            .stripMargin))
          .otherwise(col("base")))
      .select(col("id").as("vec_id"), col("embedding"),
        (conv(substring(md5(concat(lit("lb|"), col("id"))), 1, 6),
          16, 10).cast("long") % 10).cast("int").as("label"))
    vec.repartition(math.max(8, 8 * mult))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  private def writeLineitem(s: SparkSession, dir: String,
      mult: Int): Unit = {
    val n = BaseLines * mult
    val parts = BaseParts * mult
    def h(tag: String, m: Long) =
      conv(substring(md5(concat(lit(s"$tag|"), col("id"))), 1, 10),
        16, 10).cast("long") % m
    val li = s.range(n).select(
      (col("id") / 4).cast("long").as("l_orderkey"),
      h("pk", parts).as("l_partkey"),
      h("sk", 1000L * mult).as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (h("qt", 50L) + 1).cast("double").as("l_quantity"),
      ((h("ep", 100000L) + 100).cast("double") / 100.0)
        .as("l_extendedprice"),
      (h("dc", 11L).cast("double") / 100.0).as("l_discount"),
      (h("tx", 9L).cast("double") / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")),
        (h("rf", 3L) + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("O"), lit("F")),
        (h("ls", 2L) + 1).cast("int")).as("l_linestatus"),
      (to_timestamp(lit("1995-01-01 00:00:00"))
        + make_dt_interval(h("sd", 2500L))).cast("timestamp_ntz")
        .as("l_shipdate"))
    li.repartition(math.max(8, 8 * mult))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
  }

  private def writeEvents(s: SparkSession, dir: String,
      mult: Int): Unit = {
    val n = BaseEvents * mult
    def h(tag: String, m: Long) =
      conv(substring(md5(concat(lit(s"$tag|"), col("id"))), 1, 10),
        16, 10).cast("long") % m
    // 2024-01-01T00:00:00Z .. +30 days, id-ordered with jitter (the
    // double product loses sub-millisecond precision — deterministic
    // rounding, irrelevant to any aggregate)
    val spanUs = 30L * 86400L * 1000000L
    val ev = s.range(n).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        (col("id").cast("double") * lit(spanUs.toDouble) / lit(n.toDouble))
          .cast("long") + h("js", 1000000L))
        .cast("timestamp_ntz").as("ts"),
      h("us", BaseUsers * mult).as("user_id"),
      element_at(array(lit("view"), lit("click"), lit("purchase"),
          lit("signup"), lit("error")),
        (h("et", 5L) + 1).cast("int")).as("event_type"),
      (h("vl", 56022L).cast("double") / 100.0).as("value"),
      concat(lit("{\"k\": "), h("pk", 100L), lit("}")).as("props"))
    // single FILE, not a directory: EventStream.readEvents globs
    // `events.parquet` as a file name (the driver testdata layout)
    val tmp = s"$dir/_events_tmp"
    ev.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    new java.io.File(tmp).listFiles().foreach(_.delete())
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(tmp))
  }
}
