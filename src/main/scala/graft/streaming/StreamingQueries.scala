package graft.streaming

import graft.QueryDef
import graft.functions.Money.sqlSum
import org.apache.spark.sql.functions._

/** Declared streaming queries: each runs a real Structured Streaming job
  * (file source → watermark → event-time aggregation → memory sink) and is
  * oracle-checked against the equivalent batch SQL — streaming/batch
  * unification is the whole point of expressing these on Spark.
  */
object StreamingQueries {

  def defs: Map[String, QueryDef] = Map(

    // ── Watermarked tumbling-window aggregate (streaming twin of e01)
    "st01_stream_tumbling" -> QueryDef(
      (s, d) => {
        val agg = EventStream.tumblingCounts(EventStream.readEvents(s, d))
        EventStream.runToMemory(s, agg, s"st01_sink_${System.nanoTime}",
            statePartitions = 2)
          .select(
            col("window.start").cast("timestamp_ntz").as("window_start"),
            col("window.end").cast("timestamp_ntz").as("window_end"),
            col("event_type"), col("n_events"), col("total_value"))
          .orderBy("window_start", "event_type")
      },
      // positive-mod floor, not `//`: Spark's window() floor-buckets
      // pre-1970 timestamps while DuckDB `//` truncates toward zero
      Some(s"""SELECT
              CAST(to_timestamp((epoch_us(ts)
                - ((epoch_us(ts) % 21600000000 + 21600000000) % 21600000000))
                / 1000000) AS TIMESTAMP) AS window_start,
              CAST(to_timestamp((epoch_us(ts)
                - ((epoch_us(ts) % 21600000000 + 21600000000) % 21600000000)
                + 21600000000) / 1000000) AS TIMESTAMP) AS window_end,
              event_type, count(*) AS n_events,
              ${sqlSum("value")} AS total_value
              FROM events GROUP BY 1, 2, 3
              ORDER BY window_start, event_type"""),
      "Structured Streaming tumbling windows == batch groupBy (unification)"),

    // ── Watermarked session windows (streaming twin of e02's gap logic)
    "st02_stream_sessions" -> QueryDef(
      (s, d) => {
        val agg = EventStream.sessionCounts(EventStream.readEvents(s, d))
        EventStream.runToMemory(s, agg, s"st02_sink_${System.nanoTime}")
          .select(
            col("session_window.start").cast("timestamp_ntz")
              .as("session_start"),
            col("session_window.end").cast("timestamp_ntz")
              .as("session_end"),
            col("user_id"), col("n_events"))
          .orderBy("user_id", "session_start")
      },
      // Exact-gap boundary: session_window MERGES an event landing
      // exactly gap after the previous one (its merge condition is
      // next.start <= current.end, end-inclusive), so the strict `>` here
      // is the correct new-session mark — SessionBoundarySpec pins this
      // empirically, and st05's timeout assembly merges the same way.
      Some("""
WITH marked AS (
  SELECT user_id, ts,
    CASE WHEN lag(ts, 1) OVER w IS NULL
           OR epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) > 1800000000
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sessions AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM marked
)
SELECT min(ts) AS session_start,
  max(ts) + INTERVAL 30 MINUTE AS session_end,
  user_id, count(*) AS n_events
FROM sessions GROUP BY user_id, session_seq
ORDER BY user_id, session_start"""),
      "session_window streaming aggregation == batch gap sessionization"),

    // ── Custom state via flatMapGroupsWithState: per-user running totals.
    // Update mode emits one row per user per micro-batch; the counter is
    // monotone, so top-1-by-count per user is the final state regardless
    // of how AvailableNow chunked the backlog.
    "st03_stream_stateful" -> QueryDef(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val agg = EventStream
          .statefulUserTotals(EventStream.readEvents(s, d)).toDF()
        val w = Window.partitionBy("user_id").orderBy(desc("n_events"))
        EventStream.runToMemory(s, agg, s"st03_sink_${System.nanoTime}",
            outputMode = "update", statePartitions = 2)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).drop("rn")
          .orderBy("user_id")
      },
      Some("""SELECT user_id, count(*) AS n_events,
              CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
                / 100 AS total_value
              FROM events GROUP BY 1 ORDER BY user_id"""),
      "flatMapGroupsWithState custom state == batch groupBy totals"),

    // ── Stream-static enrichment join: the streaming side joins a static
    // dimension (no state, no watermark needed — the dimension is re-read
    // per micro-batch, broadcast when small). The standard shape for
    // enriching an event firehose with reference data.
    "st04_stream_static_join" -> QueryDef(
      (s, d) => {
        val dim = graft.Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment"))
        val enriched = EventStream.readEvents(s, d)
          .join(dim, col("user_id") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_events"),
            graft.functions.Money.moneySum(col("value")).as("total_value"))
        EventStream.runToMemory(s, enriched,
            s"st04_sink_${System.nanoTime}",
            statePartitions = 2)
          .orderBy("c_mktsegment")
      },
      Some(s"""SELECT c_mktsegment, count(*) AS n_events,
              ${sqlSum("value")} AS total_value
              FROM events JOIN customer ON user_id = c_custkey
              GROUP BY 1 ORDER BY c_mktsegment"""),
      "stream-static dimension join == batch join+groupBy"),

    // ── Streaming exact dedup (dedup-at-ingest): stateful first-occurrence
    // filter, output restricted to the key so arrival order can't leak
    // into the result — streaming DISTINCT == batch DISTINCT.
    "st06_stream_dedup" -> QueryDef(
      (s, d) => {
        val dedup = EventStream.dedupKeys(EventStream.readEvents(s, d),
          Seq("user_id", "event_type"))
        EventStream.runToMemory(s, dedup, s"st06_sink_${System.nanoTime}",
            outputMode = "append", statePartitions = 2)
          .orderBy("user_id", "event_type")
      },
      Some("""SELECT DISTINCT user_id, event_type FROM events
              ORDER BY user_id, event_type"""),
      "streaming dropDuplicates (dedup-at-ingest) == batch DISTINCT"),

    // ── Watermarked hopping (sliding) windows — streaming twin of e06,
    // same aggregation and the SAME oracle string: each event expands
    // map-side into its 3 overlapping 6 h windows before the stateful
    // agg, state per open window frees as the watermark passes
    // window_end. Unification pinned by construction.
    "st08_stream_hopping" -> QueryDef(
      (s, d) => {
        val agg = EventStream.hoppingCounts(EventStream.readEvents(s, d))
        EventStream.runToMemory(s, agg, s"st08_sink_${System.nanoTime}",
            statePartitions = 2)
          .select(
            col("window.start").cast("timestamp_ntz").as("window_start"),
            col("window.end").cast("timestamp_ntz").as("window_end"),
            col("event_type"), col("n_events"), col("total_value"))
          .orderBy("window_start", "event_type")
      },
      Some(graft.operators.EventQueries.HoppingOracle),
      "streaming sliding windows == batch hopping agg (e06's oracle)"),

    // ── transformWithState (the arbitrary-state API that supersedes
    // flatMapGroupsWithState): per-user profile kept as TYPED COMPOSITE
    // state — a MapState (event_type → count) beside a ValueState total,
    // on the RocksDB state store. Update-mode emissions are cumulative
    // and both figures are monotone, so the final per-user row is the
    // max-n_events one (st03's pattern) and equals the batch aggregate.
    "st09_transform_with_state" -> QueryDef(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val agg = EventStream
          .typeProfiles(EventStream.readEvents(s, d)).toDF()
        val w = Window.partitionBy("user_id").orderBy(desc("n_events"))
        EventStream.runToMemory(s, agg, s"st09_sink_${System.nanoTime}",
            outputMode = "update", rocksdb = true)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).drop("rn")
          .orderBy("user_id")
      },
      Some("""SELECT user_id, count(DISTINCT event_type) AS n_types,
              count(*) AS n_events
              FROM events GROUP BY 1 ORDER BY user_id"""),
      "transformWithState composite MapState+ValueState == batch groupBy"),

    // ── Stream-stream inner join with an event-time interval: purchases
    // attribute to any click by the same user in the preceding hour. Both
    // sides carry a watermark so each side's buffered state frees once
    // the watermark passes the interval — the attribution-join shape for
    // a perpetual firehose (state ∝ one hour of events per side, not
    // history). Inner-join emission doesn't depend on batch chunking, so
    // a full drain is deterministic and batch-checkable.
    "st07_stream_stream_join" -> QueryDef(
      (s, d) => {
        val ev = EventStream.readEvents(s, d)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"),
            col("ts").as("click_ts"))
          .withWatermark("click_ts", "1 hour")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"),
            col("user_id").as("p_user"), col("ts").as("purchase_ts"))
          .withWatermark("purchase_ts", "1 hour")
        val joined = clicks.join(purchases,
          col("user_id") === col("p_user") &&
            col("purchase_ts") >= col("click_ts") &&
            col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
        EventStream.runToMemory(s, joined,
            s"st07_sink_${System.nanoTime}", outputMode = "append", statePartitions = 2)
          .select(col("click_id"), col("purchase_id"), col("user_id"),
            col("click_ts").cast("timestamp_ntz").as("click_ts"),
            col("purchase_ts").cast("timestamp_ntz").as("purchase_ts"))
          .orderBy("click_id", "purchase_id")
      },
      Some("""SELECT c.event_id AS click_id, p.event_id AS purchase_id,
              c.user_id, c.ts AS click_ts, p.ts AS purchase_ts
              FROM events c JOIN events p
                ON c.event_type = 'click' AND p.event_type = 'purchase'
               AND p.user_id = c.user_id
               AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
              ORDER BY click_id, purchase_id"""),
      "watermarked stream-stream interval join == batch self-join"),

    // ── Event-time-timeout sessions: the state store closes a session
    // when the watermark passes lastEvent + gap. Watermark mechanics
    // decide WHEN a session emits, not WHAT it is — so the declared
    // result is the watermark-closed region: sessions whose
    // `end + gap` lies strictly (1 s margin for the millis-grain
    // timeout boundary) below the final watermark (`max(ts) − 1 h`).
    // Every such session is guaranteed emitted (the timeout fires in
    // the trailing no-data batch at the latest) and every emitted
    // session is a batch gap-session, so filtering BOTH sides by the
    // same bound makes the result deterministic and SQL-checkable.
    "st05_stream_timeout_sessions" -> QueryDef(
      (s, d) => {
        val gapUs = 30L * 60 * 1000000L
        val wmUs = 3600L * 1000000L
        val sessions = EventStream
          .timeoutSessions(EventStream.readEvents(s, d)).toDF()
        val emitted = EventStream.runToMemory(s, sessions,
          s"st05_sink_${System.nanoTime}", outputMode = "append",
          keepNoDataBatches = true)
        // closed-region bound from the same events table (one scalar agg,
        // broadcast — no driver round-trip, the plan stays lazy)
        val bound = graft.Tables.events(s, d)
          .agg((max(unix_micros(col("ts").cast("timestamp")))
            - wmUs - gapUs - 1000000L).as("bound_us"))
        emitted
          .crossJoin(broadcast(bound))
          .filter(unix_micros(col("session_end")) < col("bound_us"))
          .select(col("user_id"),
            col("session_start").cast("timestamp_ntz").as("session_start"),
            col("session_end").cast("timestamp_ntz").as("session_end"),
            col("n_events"))
          .orderBy("user_id", "session_start")
      },
      Some("""
WITH marked AS (
  SELECT user_id, ts,
    CASE WHEN lag(ts, 1) OVER w IS NULL
           OR epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) > 1800000000
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
numbered AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM marked
),
sessions AS (
  SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
    count(*) AS n_events
  FROM numbered GROUP BY user_id, session_seq
),
wm AS (SELECT max(epoch_us(ts)) AS max_us FROM events)
SELECT user_id, session_start, session_end, n_events
FROM sessions, wm
WHERE epoch_us(session_end) < max_us - 3600000000 - 1800000000 - 1000000
ORDER BY user_id, session_start"""),
      "flatMapGroupsWithState + EventTimeTimeout session assembly; " +
        "watermark-closed region == batch gap-sessionization"),

    // ── Streaming LSH index build (near-dup discovery at ingest):
    // documents stream through the SAME native shingle→minhash band-key
    // expressions the batch dedup family uses (shingles3/minhash_sigs —
    // per-row, so they lift to a stream unchanged), then a stateful
    // aggregate maintains each LSH bucket's population; buckets holding
    // ≥2 docs are the near-dup candidate groups, surfaced with their
    // min-doc representative. count/min are arrival-order-free, so the
    // drained complete-mode state equals the batch LSH bucket build —
    // the streaming twin of x06's candidate generation, with state
    // bounded by |buckets|, not |docs|².
    "st10_stream_lsh_buckets" -> QueryDef(
      (s, d) => {
        graft.GraftExtensions.ensureInstalled(s)
        // spread the single-file micro-batch before the per-doc
        // shingle+minhash work — the r13 drain profile showed these
        // rows' addBatch time is the per-row compute running in the ONE
        // scan task the file source yields (the documentsSpread trade,
        // in-stream); the monoid aggregation is arrival-order-free, so
        // results are unchanged. SCALE NOTE (r13 ADVICE): on a many-core
        // cluster whose source batches already arrive multi-split, this
        // unconditional spread re-shuffles raw text per batch — gate it
        // on the batch's actual partition count (a foreachBatch-side
        // check) before running a real firehose through it.
        val bands = graft.operators.DedupQueries
          .bandKeys(EventStream.readDocuments(s, d)
            .repartition(s.sparkContext.defaultParallelism))
        val buckets = bands
          .groupBy(col("band"), col("sigval"))
          .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("rep_id"))
          .filter(col("n_docs") >= 2)
        EventStream.runToMemory(s, buckets,
            s"st10_sink_${System.nanoTime}")
          .orderBy("band", "sigval")
      },
      Some(s"""
WITH ${graft.operators.DedupQueries.duckBandKeysCtes}
SELECT band, sigval, CAST(count(*) AS BIGINT) AS n_docs,
  min(doc_id) AS rep_id
FROM bands GROUP BY 1, 2 HAVING count(*) >= 2
ORDER BY band, sigval"""),
      "streaming LSH bucket state (dedup-at-ingest) == batch band build"),

    // ── Streaming quantile sketch: documents stream into the native
    // `mink_sample` aggregate (graft.functions.MinKSample) — O(k) state
    // per source, merged as a monoid across micro-batches, so the
    // drained complete-mode sample is byte-identical to the batch min-k
    // sample regardless of arrival order; the quantile selection then
    // runs on the drained (batch) frame. This is x54's estimate side at
    // ingest time: a firehose keeps per-source length quantiles current
    // without ever holding more than k rows per source, and the oracle
    // is the SAME CTE chain as x54's (shared spelling).
    "st11_stream_quantile_sketch" -> QueryDef(
      (s, d) => {
        import graft.operators.PipelineQueries.{minkAgg, minkQuantiles, minkStaged}
        val agg = minkAgg(minkStaged(EventStream.readDocuments(s, d)))
        minkQuantiles(
          EventStream.runToMemory(s, agg, s"st11_sink_${System.nanoTime}",
            statePartitions = 2))
          .orderBy("source", "q")
      },
      Some(s"""
WITH ${graft.operators.PipelineQueries.duckMinKEstCtes}
SELECT source, q, est FROM est ORDER BY source, q"""),
      "streaming min-k sample state == batch quantile estimate (O(k)/key)"),

    // ── Streaming ingest quality gate: the x58 curation flags applied
    // AT INGEST — per-source docs/tokens in vs kept, maintained as one
    // streaming aggregation with |sources| rows of state. f1/f2/f3 are
    // the exact batch exprs; f4's gram stats are the row-local HOF
    // spelling (structured streaming forbids chained aggregations, and
    // an ingest gate sees each doc once, so per-row cost is bounded by
    // the doc length the gate itself caps) — RepetitionSpec pins the
    // two f4 spellings equal doc-by-doc, and the oracle is the SAME
    // batch flags CTE chain the funnel uses, rolled up per source.
    "st12_stream_curation_gate" -> QueryDef(
      (s, d) => {
        import graft.operators.TextQueries
        val kept = col("f1") && col("f2") && col("f3") && col("f4")
        // spread before the row-local gram fold (the st10 note): the
        // flags are the most expression-dense per-row work in the
        // streaming registry and otherwise run serial in the one-task
        // file-source scan (measured 3.0 s of st12's 3.4 s drain)
        val gate = TextQueries
          .rowLocalFlags(EventStream.readDocuments(s, d)
            .repartition(s.sparkContext.defaultParallelism))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("docs_in"),
            sum(when(kept, 1L).otherwise(0L)).as("docs_kept"),
            sum(col("n_tokens")).cast("bigint").as("tokens_in"),
            sum(when(kept, col("n_tokens")).otherwise(0L)).cast("bigint")
              .as("tokens_kept"))
        EventStream.runToMemory(s, gate, s"st12_sink_${System.nanoTime}",
            statePartitions = 2)
          .orderBy("source")
      },
      Some(s"""
WITH ${graft.operators.TextQueries.duckQualityCtes},
${graft.operators.TextQueries.duckRepCtes},
${graft.operators.TextQueries.duckFlagsCte}
SELECT source, CAST(count(*) AS BIGINT) AS docs_in,
  CAST(sum(CASE WHEN f1 AND f2 AND f3 AND f4 THEN 1 ELSE 0 END)
    AS BIGINT) AS docs_kept,
  CAST(sum(n_tokens) AS BIGINT) AS tokens_in,
  CAST(sum(CASE WHEN f1 AND f2 AND f3 AND f4 THEN n_tokens ELSE 0 END)
    AS BIGINT) AS tokens_kept
FROM flags GROUP BY source ORDER BY source"""),
      "streaming ingest gate: per-source funnel survival == batch flags"),

    // ── Streaming unique-content cardinality: the x21 KMV sketch
    // maintained AT INGEST over each source's x05 content fingerprint —
    // the dedup-rate monitor a firehose keeps current without a
    // distinct shuffle (exact streaming countDistinct is unsupported
    // AND unbounded-state by nature; the KMV buffer is ≤ StKmvK longs
    // per source, merged as a monoid across micro-batches, so the
    // drained estimate is byte-identical to the batch sketch regardless
    // of arrival order). K = 16 (vs x21's 256) so the ESTIMATOR branch
    // — not the exact small-set branch — is what every SF exercises.
    // The oracle replays the deterministic md5-order min-K selection
    // exactly, x21-style.
    "st13_stream_kmv_cardinality" -> QueryDef(
      (s, d) => {
        graft.GraftExtensions.ensureInstalled(s)
        val hashed = EventStream.readDocuments(s, d)
          .withColumn("h", expr(
            "CAST(conv(substr(md5(CAST(array_join(slice(split(text, ' ')," +
              " 1, 5), ' ') AS BINARY)), 1, 15), 16, 10) AS BIGINT)"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("docs_in"),
            expr(s"kmv_sketch(h, $StKmvK)").as("uniq_est"))
        EventStream.runToMemory(s, hashed, s"st13_sink_${System.nanoTime}",
            statePartitions = 2)
          .orderBy("source")
      },
      Some(s"""
WITH h AS (
  SELECT DISTINCT source,
    CAST(('0x' || substr(md5(array_to_string(
      (string_split(text, ' '))[:5], ' ')), 1, 15)) AS BIGINT) AS h
  FROM documents
),
r AS (
  SELECT source, h,
    row_number() OVER (PARTITION BY source ORDER BY h) AS rn,
    count(*) OVER (PARTITION BY source) AS nd
  FROM h
),
est AS (
  SELECT source, max(nd) AS nd,
    max(CASE WHEN rn = $StKmvK THEN h END) AS hk
  FROM r GROUP BY 1
),
di AS (SELECT source, CAST(count(*) AS BIGINT) AS docs_in
       FROM documents GROUP BY 1)
SELECT e.source AS source, di.docs_in,
  CASE WHEN e.nd < $StKmvK THEN CAST(e.nd AS DOUBLE)
       ELSE (CAST($StKmvK - 1 AS DOUBLE) * pow(2, 60))
              / CAST(e.hk AS DOUBLE) END AS uniq_est
FROM est e JOIN di ON e.source = di.source
ORDER BY source"""),
      "streaming KMV sketch per source: unique-content rate at ingest, O(K) state"),

    // ── Streaming PCA matvec accumulator: x74's first power-iteration
    // round maintained AT INGEST — each arriving vector contributes
    // xf·(Σⱼ xfⱼ) to the per-dimension accumulator map-side, and the
    // streaming aggregation holds exactly d rows of state (a per-dim
    // BIGINT sum is a monoid, so the drained state is byte-identical to
    // the batch round regardless of arrival order or batch chunking —
    // the st11/st13 argument applied to linear algebra). The
    // normalization (truncating div, DECIMAL-squared norm, floor-sqrt)
    // runs on the drained d-row frame; the oracle is the round-1 prefix
    // of x74's, same constants, same sign-split divisions.
    "st14_stream_pca_matvec" -> QueryDef(
      (s, d) => {
        import graft.operators.SimilarityQueries.{tdiv, isqrt, PcaScale}
        val acc = EventStream.readEmbeddings(s, d)
          .select(expr(
            s"""transform(embedding,
                  x -> CAST(floor(CAST(x AS DOUBLE) * $PcaScale + 0.5d)
                            AS BIGINT))""").as("xq"))
          .withColumn("dt",
            expr("aggregate(xq, CAST(0 AS BIGINT), (a, x) -> a + x)"))
          .select(posexplode(col("xq")).as(Seq("pos", "xf")), col("dt"))
          .groupBy((col("pos") + 1).cast("bigint").as("dim"))
          .agg(sum(col("xf") * col("dt")).as("w"))
        val drained = EventStream.runToMemory(s, acc,
          s"st14_sink_${System.nanoTime}",
            statePartitions = 2)
        val wr = drained.select(col("dim"),
          expr(tdiv("w", PcaScale.toString, "div")).as("wr"))
        val nrm = wr.agg(expr(isqrt(
          "sum(CAST(wr AS DECIMAL(38,0)) * CAST(wr AS DECIMAL(38,0)))"))
          .as("nrm"))
        wr.crossJoin(broadcast(nrm))
          .select(col("dim"), col("wr"),
            // |wr| bound check: the oracle's BIGINT `wr * 1000000`
            // RAISES on overflow while non-ANSI Spark would wrap
            // silently (r4 ADVICE) — fail loudly on both engines
            expr("CAST(CASE WHEN nrm = 0 THEN 0 " +
              s"WHEN abs(wr) > ${Long.MaxValue / PcaScale}L " +
              "THEN raise_error('st14: |wr| overflows micro-scale') " +
              "ELSE " +
              tdiv(s"wr * $PcaScale", "nrm", "div") +
              " END AS BIGINT)").as("v_fp"),
            col("nrm").as("norm1"))
          .orderBy("dim")
      },
      Some({
        import graft.operators.SimilarityQueries.{tdiv, isqrt}
        val S = graft.operators.SimilarityQueries.PcaScale
        s"""
WITH xq AS (
  SELECT vec_id, CAST(i AS BIGINT) AS dim,
    CAST(floor(CAST(embedding[i] AS DOUBLE) * $S + 0.5) AS BIGINT) AS xf
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)
),
dot0 AS (SELECT vec_id, CAST(sum(xf) AS BIGINT) AS dt
         FROM xq GROUP BY vec_id),
w1 AS (
  SELECT xq.dim,
    CAST(${tdiv("sum(xq.xf * dot0.dt)", "1000000", "//")} AS BIGINT) AS wr
  FROM xq JOIN dot0 ON xq.vec_id = dot0.vec_id
  GROUP BY xq.dim
),
n1 AS (SELECT ${isqrt(
          "sum(CAST(wr AS HUGEINT) * CAST(wr AS HUGEINT))")} AS nrm
       FROM w1)
SELECT dim, wr,
  CAST(CASE WHEN n1.nrm = 0 THEN 0
       ELSE ${tdiv(s"wr * $S", "n1.nrm", "//")} END AS BIGINT) AS v_fp,
  n1.nrm AS norm1
FROM w1 CROSS JOIN n1
ORDER BY dim"""
      }),
      "streaming matvec accumulator: drained per-dim state == x74 round 1"),

    // ── Streaming corpus-composition monitor: x79's tokenizer-fertility
    // integers maintained AT INGEST as one streaming aggregation with
    // |langs| rows of state — the dashboard a mixture owner watches to
    // catch a language's fertility (and so its per-sentence compute
    // cost) drifting as new crawl slices land. Both tokenizer spellings
    // are the exact x01/x79 exprs; sums are exact integers so the
    // drained state equals the batch rollup bit-for-bit, and the one
    // IEEE division happens post-drain.
    "st15_stream_fertility" -> QueryDef(
      (s, d) => {
        val agg = EventStream.readDocuments(s, d)
          .withColumn("ws",
            expr(graft.operators.TextQueries.sparkWsTokens))
          .withColumn("re",
            expr(graft.operators.TextQueries.sparkReTokens))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("ws")).as("ws_tokens"),
            sum(col("re")).as("re_tokens"))
        EventStream.runToMemory(s, agg, s"st15_sink_${System.nanoTime}",
            statePartitions = 2)
          .withColumn("fertility",
            col("re_tokens").cast("double") /
              col("ws_tokens").cast("double"))
          .orderBy("lang")
      },
      Some(s"""
WITH t AS (
  SELECT lang,
    ${graft.operators.TextQueries.duckWsTokens} AS ws,
    ${graft.operators.TextQueries.duckReTokens} AS re
  FROM documents
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(ws) AS BIGINT) AS ws_tokens,
  CAST(sum(re) AS BIGINT) AS re_tokens,
  CAST(sum(re) AS DOUBLE) / CAST(sum(ws) AS DOUBLE) AS fertility
FROM t GROUP BY lang ORDER BY lang"""),
      "per-language fertility maintained at ingest == x79's batch rollup"),

    // ── Streaming PQ encode: arriving vectors compress against the
    // FROZEN codebooks read from the persisted serve artifact (the
    // realistic deployment: books train offline on a corpus snapshot —
    // prepareServe's `pq/books`, the same deterministic training output
    // x81 derives in-query — and the ingest job broadcasts the
    // constant-size books and encodes each vector as one map fold;
    // x81's `encodedPacked` expression is per-row, so it lifts to the
    // stream unchanged via a stream-static join against the one-row
    // packed-books frame). The maintained state is the per-(sub, code)
    // population + quantization error — ≤ M·Ks rows; count/sum are
    // monoids, so the drained state equals x81's batch rollup
    // bit-for-bit at any arrival order, and the oracle IS x81's SQL.
    // This is the codebook-drift monitor: a rising sum_err against a
    // frozen codebook is the signal to retrain.
    "st16_stream_pq_encode" -> QueryDef(
      (s, d) => {
        import graft.operators.{PqQueries, SimilarityQueries}
        SimilarityQueries.prepareServe(s, d)
        val books = graft.Tables.parquet(s,
          s"${SimilarityQueries.serveRoot(d)}/pq/books")
        // spread before the per-vector M×Ks argmin encode fold (the
        // st10 note): otherwise the whole encode runs in the one-task
        // file-source scan
        val stream = EventStream.readEmbeddings(s, d)
          .repartition(s.sparkContext.defaultParallelism)
          .withColumn("qe", expr(SimilarityQueries.sparkQuant))
        val agg = PqQueries.codebookStatsOf(
          PqQueries.encodedPacked(stream, books))
        EventStream.runToMemory(s, agg, s"st16_sink_${System.nanoTime}",
            statePartitions = 2)
          .orderBy("sub", "code")
      },
      Some(graft.operators.PqQueries.codebookStatsSql),
      "streaming PQ encode state == batch codebook stats (drift monitor)"),

    // ── Streaming IVF assignment against FROZEN centroids (the index
    // half of st16's frozen-books discipline, and the continuous
    // complement of x88's batch append audit): arriving vectors route
    // with the same broadcast argmax fold the serve path uses —
    // centroids come from the persisted `ivf/centroids` artifact, never
    // retrained in-stream — and the maintained state is the per-bucket
    // (count, Σ cos_micro, min cos_micro) drift monitor, ≤ C rows of
    // count/sum/min monoids. Drained state equals the batch rollup at
    // any arrival order; a falling mean/min cosine is the retrain
    // signal.
    "st17_stream_ivf_assign" -> QueryDef(
      (s, d) => {
        import graft.operators.SimilarityQueries
        // the stream path never passes through the batch quantization
        // entry point, so the native dot_long registration happens here
        graft.GraftExtensions.ensureInstalled(s)
        SimilarityQueries.prepareServe(s, d)
        val cent = graft.Tables.parquet(s,
          s"${SimilarityQueries.serveRoot(d)}/ivf/centroids")
        // spread before the per-vector √n-centroid argmax fold (the
        // st10 note)
        val stream = EventStream.readEmbeddings(s, d)
          .repartition(s.sparkContext.defaultParallelism)
          .withColumn("qe", expr(SimilarityQueries.sparkQuant))
          .withColumn("qn", expr(SimilarityQueries.sparkNorm))
        val agg = SimilarityQueries.frozenAssignStats(stream, cent)
        EventStream.runToMemory(s, agg, s"st17_sink_${System.nanoTime}",
            statePartitions = 2)
          .orderBy("bucket")
      },
      Some(graft.operators.SimilarityQueries.frozenAssignStatsSql),
      "streaming IVF assign vs frozen centroids == batch bucket stats"),

    // ── Streaming SRP sign-bucket population: the ingest half of the
    // x89 family's pitch. Where st17 routes against a FROZEN artifact,
    // SRP needs no artifact at all — an arriving vector's (band, key)
    // rows are a pure map function of the vector (closed-form
    // hyperplanes), so the stream side is a stateless projection feeding
    // a ≤ Bands·2^BitsPerBand-key (count, min) monoid rollup: the
    // continuous hot-bucket monitor that sizes the x89c bandCap lever.
    // Drained state equals the batch rollup at any arrival order.
    "st18_stream_srp_buckets" -> QueryDef(
      (s, d) => {
        import graft.operators.{SimilarityQueries, SrpQueries}
        // the stream path never passes through the batch quantization
        // entry point, so the native dot_long registration happens here
        graft.GraftExtensions.ensureInstalled(s)
        val stream = EventStream.readEmbeddings(s, d)
          .withColumn("qe", expr(SimilarityQueries.sparkQuant))
          .withColumn("qn", expr(SimilarityQueries.sparkNorm))
        val agg = SrpQueries.bucketStats(stream)
        EventStream.runToMemory(s, agg, s"st18_sink_${System.nanoTime}",
            statePartitions = 2)
          .orderBy("band", "bkey")
      },
      Some(graft.operators.SrpQueries.bucketStatsSql),
      "streaming SRP sign-bucket rollup == batch band-key population"),

    // ── Streaming BPE encode against the FROZEN merge table (the text
    // twin of st16's frozen-books discipline): arriving documents fold
    // into per-(source, word) count state — the Heaps-sublinear
    // word-TYPE statistic, exactly the table the trainer itself runs
    // on — and the subword fold is DEFERRED to the vocabulary-sized
    // drain, where batch whole-stage codegen fuses the aggregate() HOF
    // chain (the st18 lesson: the same fold interpreted per-occurrence
    // inside the stateful segment prices ~50× batch). count is a
    // monoid, so the drained occurrence table — and therefore the
    // fertility rollup — equals x92s bit-for-bit at any arrival order.
    "st19_stream_bpe_encode" -> QueryDef(
      (s, d) => {
        import graft.operators.{AuditServe, BpeQueries}
        AuditServe.prepare(s, d)
        val agg = EventStream.readDocuments(s, d)
          .select(col("source"),
            explode(split(col("text"), " ")).as("word"))
          .filter(length(col("word")) > 0)
          .groupBy("source", "word").agg(count(lit(1)).as("w_cnt"))
        val occ = EventStream.runToMemory(s, agg,
          s"st19_sink_${System.nanoTime}")
        BpeQueries.fertilityOf(occ,
          BpeQueries.encodeTypes(occ.select("word").distinct(),
            BpeQueries.servedMerges(s, d)))
      },
      Some(graft.operators.BpeQueries.fertilityOracle),
      "streaming word-type state + frozen-merge encode == x92 fertility"),

    // ── Streaming unigram encode against the FROZEN piece table (the
    // x97-family twin of st19, closing the tokenizer symmetry): the
    // stream keeps the SAME per-(source, word) count monoid — word-type
    // state is tokenizer-agnostic — and the drain segments the drained
    // word types under the persisted unigram pieces (one Viterbi fold
    // per TYPE against the literal piece map, batch codegen — the st18
    // lesson again). Drained occurrence table == the batch one at any
    // arrival order, so the fertility rollup equals x98/x98s
    // bit-for-bit (shared oracle).
    "st21_stream_unigram_encode" -> QueryDef(
      (s, d) => {
        import graft.operators.{AuditServe, BpeQueries, UnigramQueries}
        AuditServe.prepare(s, d)
        val agg = EventStream.readDocuments(s, d)
          .select(col("source"),
            explode(split(col("text"), " ")).as("word"))
          .filter(length(col("word")) > 0)
          .groupBy("source", "word").agg(count(lit(1)).as("w_cnt"))
        val occ = EventStream.runToMemory(s, agg,
          s"st21_sink_${System.nanoTime}")
        BpeQueries.fertilityOf(occ,
          UnigramQueries.segmentTypes(occ.select("word").distinct(),
            UnigramQueries.servedPieces(s, d)))
      },
      Some(graft.operators.UnigramQueries.fertilityOracle),
      "streaming word-type state + frozen-piece encode == x98 fertility"),

    // ── Streaming Count-Min sketch (the ingest half of x95's pitch):
    // arriving documents' tokens fan out ×CmsD map-side into (row,
    // bucket) rows — like st18, a pure stateless projection, no
    // artifact, no vocab-sized state — feeding a ≤ CmsD·CmsW-key SUM
    // monoid. That constant bound is the whole point of the sketch: the
    // maintained frequency state is the same 1024 counters at any
    // corpus size, where st19's word-type state grows with the
    // vocabulary. Drained counters equal x95's batch sketch at any
    // arrival order (sum is a monoid), so the continuous monitor and
    // the batch probe path read the same numbers.
    "st20_stream_cms_sketch" -> QueryDef(
      (s, d) => {
        import graft.operators.PipelineQueries
        // spread before the ×CmsD token fan-out + per-term md5 buckets
        // (the st10 note)
        val agg = EventStream.readDocuments(s, d)
          .repartition(s.sparkContext.defaultParallelism)
          .select(explode(split(col("text"), " ")).as("term"))
          .withColumn("r",
            explode(expr(s"sequence(0, ${PipelineQueries.CmsD - 1})")))
          .withColumn("b", expr(PipelineQueries.cmsBucketExpr("r")))
          .groupBy("r", "b").agg(count(lit(1)).as("counter"))
        EventStream.runToMemory(s, agg, s"st20_sink_${System.nanoTime}",
            statePartitions = 2)
          .select(col("r").cast("bigint").as("r"), col("b"),
            col("counter").cast("bigint").as("counter"))
          .orderBy("r", "b")
      },
      Some(graft.operators.PipelineQueries.cmsSketchSql),
      "streaming CMS counters == batch sketch (constant-state monitor)"))

  /** st13's sketch size — small enough that every SF's per-source
    * fingerprint count (≥ 24) exercises the estimator branch, not the
    * exact small-set branch.
    */
  private val StKmvK = 16
}
