package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, TimeMode, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming surface over the `events` table.
  *
  * The reference is batch-only with hand-rolled incremental ingestion
  * (SURVEY §2.9); here the same inputs run through a real streaming file
  * source so watermarks, event-time windows, and session windows are
  * first-class. At scale this is the shape that absorbs late data and
  * restarts: the checkpoint replaces the reference's processed-folder
  * ledger file (`extract_manual_arcus_payments.py:20-29`).
  */
object EventStream {

  /** `events.ts` arrives as either TIMESTAMP(NANOS) — readable only as
    * raw longs, same workaround as the batch reader (Tables.events) — or
    * plain TIMESTAMP(MICROS)/NTZ, depending on the generator vintage. The
    * file source needs an explicit schema, so [[readEvents]] probes the
    * actual file once (a batch schema read, no data scan) and slots the
    * matching ts type in here.
    */
  def rawSchema(tsType: org.apache.spark.sql.types.DataType): StructType =
    StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", tsType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))

  /** The `documents` table as a file stream — the ingest shape of a
    * corpus pipeline (documents arrive continuously; dedup/scoring run
    * at ingest instead of as nightly batch rebuilds).
    */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  def readDocuments(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(docSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)

  /** The `embeddings` table as a file stream — vectors arriving from an
    * embedding service, consumed by the st14 linear-algebra accumulator.
    */
  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  def readEmbeddings(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(embSchema)
      .option("pathGlobFilter", "embeddings.parquet")
      .parquet(dir)

  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // probe the physical ts spelling (bigint nanos vs native timestamp)
    // from the file footer; no Spark job
    val tsType = graft.Tables.parquet(spark, s"$dir/events.parquet")
      .schema("ts").dataType
    // The file stream source wants a directory; testdata ships one file per
    // table in the sf dir, so scan the dir with a glob pinned to events.
    val raw = spark.readStream
      .schema(rawSchema(tsType))
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    tsType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType =>
        // MICROS with isAdjustedToUTC=true reads as session-zone LTZ; a
        // bare pass-through would render session wall clocks downstream
        // and silently shift events vs the DuckDB oracle (which reads
        // parquet timestamps naively) under any non-UTC session (r4
        // ADVICE). Re-render the instant's UTC wall clock — a no-op for
        // the UTC sessions Verify/Bench build. Mirrors
        // [[graft.Tables.events]].
        raw.withColumn("ts", to_utc_timestamp(col("ts"),
          spark.conf.get("spark.sql.session.timeZone")))
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Tumbling event-time windows with a watermark. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        graft.functions.Money.moneySum(col("value")).as("total_value"))

  /** Hopping event-time windows (6 h length, 2 h slide): each event is
    * expanded into its size/slide = 3 overlapping windows map-side, then
    * aggregated exactly like the tumbling case — window state frees once
    * the watermark passes each window's end.
    */
  def hoppingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours", "2 hours"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        graft.functions.Money.moneySum(col("value")).as("total_value"))

  /** Gap-based session windows (30 min inactivity) per user. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))

  /** Streaming exact deduplication on key columns — dedup-at-ingest, the
    * first stage of a corpus pipeline (drop repeated events/documents
    * BEFORE paying downstream compute). First occurrence wins; output is
    * restricted to the key columns so the result is independent of
    * arrival order. State grows with distinct keys and never expires —
    * deterministic (one row per distinct key however the backlog is
    * chunked), which is why the declared st06 uses it.
    */
  def dedupKeys(events: DataFrame, keys: Seq[String]): DataFrame =
    events.select(keys.map(col): _*).dropDuplicates(keys)

  /** Bounded-state streaming dedup: state for a key is dropped once the
    * watermark passes its event time + delay, so a perpetual ingest holds
    * only the recent key set — the 100 TB firehose variant. The price is
    * windowed semantics: a key recurring after its state expired emits
    * again (pinned in StreamingDedupSpec), so results depend on the
    * watermark schedule — surfaced on the API, not as a declared query.
    */
  def dedupKeysWithinWatermark(events: DataFrame, keys: Seq[String],
      delay: String): DataFrame =
    events
      .select((keys.map(col) :+ col("ts")): _*)
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark(keys)

  /** Per-user running totals with custom state (`flatMapGroupsWithState`)
    * — the state-store path the reference's hand-rolled incremental jobs
    * would need for anything beyond append. Money is accumulated as exact
    * integer cents so the total is order-independent (a distributed state
    * update folds values in partition order; double addition would drift
    * from the oracle).
    */
  final case class UserTotals(user_id: Long, n_events: Long,
      total_value: Double)

  def statefulUserTotals(events: DataFrame): Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    events.select(col("user_id").cast("long"), col("value").cast("double"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), UserTotals](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[(Long, Double)],
            state: GroupState[(Long, Long)]) =>
          var (n, cents) = state.getOption.getOrElse((0L, 0L))
          it.foreach { case (_, v) =>
            n += 1
            cents += math.floor(v * 100 + 0.5).toLong
          }
          state.update((n, cents))
          Iterator(UserTotals(uid, n, cents / 100.0))
      }
  }

  /** Per-user behavior profile on the transformWithState API (the
    * arbitrary-state successor to flatMapGroupsWithState): typed MAP
    * state (event_type → count) plus a ValueState total, each
    * independently evolvable/TTL-able — composite state the old API
    * could only fake inside one opaque case-class blob. Requires the
    * RocksDB state-store provider, which [[runToMemory]] derives from
    * the plan's `transformWithState` node.
    */
  final case class TypeProfile(user_id: Long, n_types: Long,
      n_events: Long)

  private class TypeProfileProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, String), TypeProfile] {
    import org.apache.spark.sql.streaming.{MapState, TTLConfig, ValueState}
    import org.apache.spark.sql.{Encoders => E}
    @transient private var types: MapState[String, Long] = _
    @transient private var total: ValueState[Long] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      types = getHandle.getMapState[String, Long]("types",
        E.STRING, E.scalaLong, TTLConfig.NONE)
      total = getHandle.getValueState[Long]("total",
        E.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[(Long, String)],
        tv: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[TypeProfile] = {
      var n = if (total.exists()) total.get() else 0L
      rows.foreach { case (_, et) =>
        n += 1
        val prev = if (types.containsKey(et)) types.getValue(et) else 0L
        types.updateValue(et, prev + 1L)
      }
      total.update(n)
      Iterator.single(TypeProfile(key, types.keys().size.toLong, n))
    }
  }

  def typeProfiles(events: DataFrame): Dataset[TypeProfile] = {
    import events.sparkSession.implicits._
    events.select(col("user_id").cast("long"), col("event_type"))
      .as[(Long, String)]
      .groupByKey(_._1)
      .transformWithState(new TypeProfileProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** Sessions assembled by custom state with an EVENT-TIME TIMEOUT: a
    * session emits only when the watermark passes its last event + gap —
    * the state store's own late-data guarantee doing the session closing,
    * not a window function. This is the pattern a 100 TB event firehose
    * needs: state is per-user in the state store, sessions close and
    * free their state as the watermark advances, and the tail (sessions
    * the watermark hasn't passed) stays open across restarts via the
    * checkpoint. Tail sessions are unemitted at drain-stop by design, so
    * results depend on watermark mechanics → registered with a rows-only
    * check rather than a SQL oracle.
    */
  final case class Session(user_id: Long, session_start: java.time.Instant,
      session_end: java.time.Instant, n_events: Long)

  /** Session math runs in exact epoch MICROS (java.sql.Timestamp's
    * getTime would truncate to millis and shift every boundary).
    */
  private def usOf(i: java.time.Instant): Long =
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  private def instantOf(us: Long): java.time.Instant =
    java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
      Math.floorMod(us, 1000000L) * 1000L)

  def timeoutSessions(events: DataFrame, gapMinutes: Int = 30,
      watermark: String = "1 hour"): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60000000L
    events
      .select(col("user_id").cast("long"),
        col("ts").cast("timestamp").as("ts"))
      .withWatermark("ts", watermark) // after the cast: a select would
      // re-derive the column and silently drop the watermark tag
      .as[(Long, java.time.Instant)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long), Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[(Long, java.time.Instant)],
            state: GroupState[(Long, Long, Long)]) =>
          if (state.hasTimedOut) {
            // watermark passed last + gap: the session is closed — emit
            // and free the state
            val (start, last, n) = state.get
            state.remove()
            Iterator(Session(uid, instantOf(start), instantOf(last), n))
          } else {
            // within-batch gap splitting: a backlog replay delivers many
            // sessions' worth of events in ONE batch — merging them all
            // into the open state would weld distinct sessions together.
            // Sort and chain the batch's events into gap-separated
            // groups first, THEN merge the groups with the carried open
            // session as one more interval in the timeline: a
            // late-but-valid event may sort BEFORE the open session's
            // start (cross-batch out-of-order), where the old per-event
            // fold against the session's LAST timestamp would weld it in
            // regardless of the gap to the session START. Interval
            // merging by boundary gap is batch-exact because each side
            // is internally a valid ≤gap chain — attaching within gap of
            // a bound cannot introduce a larger internal gap, and two
            // far-apart groups can still legitimately fuse when the
            // carried session bridges them.
            val times = it.map(t => usOf(t._2)).toArray.sorted
            val groups = Seq.newBuilder[(Long, Long, Long)]
            var g: (Long, Long, Long) = null
            times.foreach { t =>
              g match {
                case null => g = (t, t, 1L)
                case (s, l, n) if t - l <= gapUs =>
                  g = (s, math.max(l, t), n + 1)
                case _ =>
                  groups += g
                  g = (t, t, 1L)
              }
            }
            if (g != null) groups += g
            val all = (state.getOption.toSeq ++ groups.result())
              .sortBy(_._1)
            val closed = Seq.newBuilder[Session]
            var cur: (Long, Long, Long) = null
            all.foreach { iv =>
              cur match {
                case null => cur = iv
                case (s0, l0, n0) if iv._1 - l0 <= gapUs =>
                  cur = (s0, math.max(l0, iv._2), n0 + iv._3)
                case (s0, l0, n0) =>
                  closed += Session(uid, instantOf(s0), instantOf(l0), n0)
                  cur = iv
              }
            }
            state.update(cur)
            // the open tail closes when the watermark passes last + gap
            state.setTimeoutTimestamp((cur._2 + gapUs) / 1000L)
            closed.result().iterator
          }
      }
  }

  /** Drain a streaming query synchronously into an in-memory table and
    * return it as a DataFrame (Trigger.AvailableNow semantics via
    * processAllAvailable — the whole backlog, then stop).
    *
    * Everything else the drain needs is read from `agg`'s analyzed plan
    * (analysis only, no job):
    *
    *   - output mode: a `flatMapGroupsWithState`/`transformWithState`
    *     node's own mode (Spark rejects any other); else complete for a
    *     streaming aggregation (an aggregate on a static join side does
    *     not count) and append for the rest;
    *   - state store: RocksDB exactly when the plan has a
    *     `transformWithState` node (Spark refuses that operator on the
    *     HDFS-backed default), the default otherwise;
    *   - no-data micro-batches: kept only for event-time timeouts or
    *     timers, which fire in the batch after the watermark advances;
    *     a drain-and-stop query never needs them otherwise.
    *
    * The state-store, no-data-batch and shuffle-partition confs are set
    * on `spark` only across `start()`: the query clones the session when
    * it is built and reads them from that clone, so a batch query
    * planned on `spark` while the drain runs sees the session's own
    * values (StreamConfWindowSpec). The memory sink's name is generated
    * and its view dropped on return.
    *
    * @param statePartitions shuffle/state-store partition count for the
    *   drain. Stateful operators open one state-store instance PER
    *   SHUFFLE PARTITION per micro-batch (a stream-stream join opens
    *   four) and each instance pays checkpoint-commit I/O — a fixed
    *   per-batch cost independent of the data, so the right value
    *   tracks the query's KEY CARDINALITY and per-key work, not the
    *   core count. Declared drains keyed by a small universe (sources,
    *   market segments, sketch counters, window×type, per-user SQL
    *   aggregates, the user-keyed join) pass 2 — measured ~0.1-0.25 s
    *   off each drain's fixed floor at sf0.1. The default 8 serves the
    *   wider key spaces (band buckets, word types) AND the rows whose
    *   per-key state work is heavy enough to want the width — measured:
    *   session-window merging (st02/st05) and the typed
    *   transformWithState/RocksDB row (st09) all REGRESS at 2, so they
    *   stay at the default. Partitioning never changes results (state
    *   updates are per-key; every declared drain's downstream
    *   aggregation is key-local or commutative). A real firehose sizes
    *   this to its key cardinality the same way.
    */
  def runToMemory(spark: SparkSession, agg: DataFrame,
      statePartitions: Int = 8): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate,
      FlatMapGroupsWithState, TransformWithState}
    val plan = agg.queryExecution.analyzed
    val outputMode = plan.collectFirst {
      case f: FlatMapGroupsWithState => f.outputMode
      case t: TransformWithState     => t.outputMode
    }.getOrElse(
      if (plan.exists { case a: Aggregate => a.isStreaming; case _ => false })
        OutputMode.Complete
      else OutputMode.Append)
    val rocksdb = plan.exists(_.isInstanceOf[TransformWithState])
    val eventTime = plan.exists {
      case f: FlatMapGroupsWithState =>
        f.timeout == GroupStateTimeout.EventTimeTimeout
      case t: TransformWithState => t.timeMode == TimeMode.EventTime()
      case _                     => false
    }
    val confs = Seq(
      "spark.sql.shuffle.partitions" -> statePartitions.toString,
      "spark.sql.streaming.noDataMicroBatches.enabled" -> eventTime.toString
    ) ++ Option.when(rocksdb)("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val name = "drain_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    val q =
      try {
        confs.foreach { case (k, v) => spark.conf.set(k, v) }
        agg.writeStream
          .outputMode(outputMode)
          .format("memory")
          .queryName(name)
          .trigger(Trigger.ProcessingTime(0))
          .start()
      } finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    try q.processAllAvailable()
    finally {
      q.stop()
      q.awaitTermination()
    }
    // localize the result and DROP the memory sink's temp view: each
    // drain otherwise leaves its full result set registered in the
    // session catalog for the session lifetime — across a 200-query
    // registry run (warm + timed passes) that is dozens of leaked
    // result copies on the driver. The rows are already driver-resident
    // inside the memory sink, so the copy adds nothing transient, and
    // it becomes collectable as soon as the caller drops the frame.
    val sink = spark.table(name)
    val out = spark.createDataFrame(
      java.util.Arrays.asList(sink.collect(): _*), sink.schema)
    spark.catalog.dropTempView(name)
    out
  }
}
