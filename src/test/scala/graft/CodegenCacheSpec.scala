package graft

/** Pins the r11 headline fix, BOTH halves: with the registry-sized
  * generated-class cache (`spark.sql.codegen.cache.maxEntries`) and
  * artifact isolation disabled (both set in SparkSpec), a repeat
  * construction+run of a query performs ZERO Janino compilations.
  * Two distinct regressions would fail this pin:
  *
  *   - a builder starts embedding a per-invocation value (timestamp,
  *     counter, fresh literal) in generated SOURCE — the cache keys on
  *     text, so the per-pass recompile bill the r11 forensics closed
  *     (238.6 → 173.0 s on the full registry) silently returns;
  *   - something re-enables per-execution artifact CLASSLOADERS — the
  *     cache keys on (classloader, text), and under Spark 4's default
  *     isolation every streaming drain applied a fresh one, so st01
  *     re-Janino'd its full 14 units per run at ANY cache size.
  *
  * Rows span the codegen-heaviest families: x92 (BPE encode folds),
  * x73 (native TypedImperativeAggregate), x36 (token LM), e12
  * (distributed ranks), x05 (hash dedup), st01/st12 (streaming
  * drains — their per-run unique sink names must stay out of generated source, and
  * their micro-batch classloader must stay THE classloader).
  *
  * Measured with AQE DISABLED for the duration of the test: adaptive
  * execution stamps the codegen-stage id into the generated class
  * name, and under AQE that id is assigned in stage-COMPLETION order
  * — concurrent, racy — so a multi-stage query occasionally mints an
  * identical plan fragment under a fresh name (x73 A/B: with AQE,
  * intermittent 8-16-unit bursts between zero-compile runs; without,
  * run 1 compiles its full 79 units and every later run is exactly 0).
  * That Spark-side churn is bounded (the id space is the stage count)
  * and not what this pin guards; with it excluded, the assertion is
  * strict — ZERO recompiles from the second run on.
  */
class CodegenCacheSpec extends SparkSpec {

  private val rows = Seq("x92_bpe_fertility", "x73_source_attribution",
    "x36_unigram_logprob", "e12_rfm_segments", "x05_dedup_exact",
    "st01_stream_tumbling", "st12_stream_curation_gate")

  test("repeat construction+run of each pinned row recompiles ZERO " +
      "generated units from the second run on (AQE stage-id churn " +
      "excluded; source AND classloader are construction-stable)") {
    val cgen = org.apache.spark.metrics.source.CodegenMetrics
    val aqe0 = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val offenders = rows.flatMap { q =>
        Caches.scope(spark)(SparkEntry.queries(q)(spark, sf).count())
        spark.catalog.clearCache()
        (2 to 3).flatMap { r =>
          val c0 = cgen.METRIC_SOURCE_CODE_SIZE.getCount
          Caches.scope(spark)(SparkEntry.queries(q)(spark, sf).count())
          spark.catalog.clearCache()
          val d = cgen.METRIC_SOURCE_CODE_SIZE.getCount - c0
          if (d != 0) Some(s"$q recompiled $d units on run $r") else None
        }
      }
      assert(offenders.isEmpty, offenders.mkString("; "))
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe0)
  }
}
