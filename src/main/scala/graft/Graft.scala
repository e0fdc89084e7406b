package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Public facade — the typed entry points a user of the reference pipeline
  * would call after switching to this engine. Each method is a lazy
  * DataFrame program over a scale-factor directory (or any directory laid
  * out one parquet file per table, see [[Tables]]); composition, further
  * filtering, and sinks are ordinary Spark operations on the result.
  *
  * The string-keyed driver contract ([[SparkEntry]]) and this facade share
  * the same [[QueryDef]] registry, so everything here is oracle-verified.
  *
  * Session sizing for an embedding application — two STATIC confs (set
  * them before the first session in the JVM; see BASELINE.md's r11
  * loaded-window forensics, measured not argued):
  *
  *   - `spark.sql.codegen.cache.maxEntries`: raise it to cover the
  *     working set of queries (the harness mains use 8192; the Spark
  *     default is 100). The registry's plans compile to more generated
  *     classes than the default LRU holds, so a server cycling through
  *     queries re-pays Janino + HotSpot JIT for every query on every
  *     pass — measured 10-40% of steady-state wall time, worst on the
  *     token-LM rows (multi-second per-run compile), and the dominant
  *     source of their inflation under CPU-loaded windows.
  *   - `spark.sql.artifact.isolation.enabled=false` when the
  *     application registers no session artifacts: the codegen cache
  *     keys on (classloader, source), and Spark 4's default isolation
  *     applies a fresh artifact classloader per STREAMING execution,
  *     so every drain recompiles its full generated-class set at any
  *     cache size (st01: 14 units per run measured; zero with
  *     isolation off). Applications that DO ship session artifacts
  *     (Spark Connect addArtifact) must keep isolation and accept the
  *     streaming recompile cost.
  */
object Graft {

  /** The flagship loan-detail pipeline (`extract_loan_detail.py` analog). */
  def loanDetail(spark: SparkSession, dir: String): DataFrame =
    operators.LoanDetail.pipeline(spark, dir)

  /** The monthly accounting report (`load_accounting_data.py` analog):
    * accounting-by-issue-month ∪ settled-by-settled-month rollups over
    * [[loanDetail]].
    */
  def reportingMonthly(spark: SparkSession, dir: String): DataFrame =
    run("reporting_monthly", spark, dir)

  /** Quincena payroll calendar dimension (`create_calendar.py` analog). */
  def calendar(spark: SparkSession, dir: String): DataFrame =
    run("u06_calendar_dim", spark, dir)

  /** The reference's nightly run, end-to-end
    * (`cron_jobs/run_etl.sh:11-23`): extract/transform the flagship
    * tables, stage them as parquet (the reference's staging layer), build
    * the warehouse (managed tables + stale-table GC, `create_duckdb.py`),
    * and render the human-facing accounting report (xlsx + Sheet payload,
    * `load_accounting_data.py` → `gsheets_utils.py`). The catalog
    * refresh the reference triggers in Metabase is [[registerTables]] —
    * ad-hoc SQL works against the same names immediately.
    *
    * Each step is an ordinary lazy plan until its own sink; nothing is
    * collected except the small report render. Returns a manifest (one
    * row per staged table: name, path, rows) — what the reference logs
    * to stdout, as data.
    */
  def runEtl(spark: SparkSession, dir: String, outDir: String): DataFrame = {
    val staged = Seq(
      "fact_loan"          -> loanDetail(spark, dir),
      "dim_calendar"       -> calendar(spark, dir),
      "analytics_accounting_report" -> reportingMonthly(spark, dir))
    val counts = staged.map { case (name, df) =>
      val path = s"$outDir/$name.parquet"
      sources.Sinks.overwriteParquet(df, path)
      val rows = Tables.parquet(spark, path).count()
      (name, path, rows)
    }
    sources.Sinks.syncWarehouse(spark,
      staged.map { case (n, _) =>
        n -> Tables.parquet(spark, s"$outDir/$n.parquet")
      }.toMap)
    // re-sort after the parquet roundtrip: the scan orders splits by
    // size, not by the writer's sort, and a human-facing report must
    // come out in (section, month) order
    val report = Tables
      .parquet(spark, s"$outDir/analytics_accounting_report.parquet")
      .orderBy("section", "month")
    writeXlsx(report, s"$outDir/accounting_report.xlsx")
    writeSheetPayload(report, s"$outDir/accounting_report_sheet.json",
      tab = "Accounting")
    // the reference backs up the warehouse around every rebuild and
    // prunes old copies (S14) — each nightly run publishes the report
    // as a retained, immutable snapshot version
    writeSnapshot(report, s"$outDir/report_snapshots", keep = 3)
    import spark.implicits._
    counts.toDF("table_name", "path", "n_rows").orderBy("table_name")
  }

  /** The corpus-pipeline nightly composite — [[runEtl]]'s twin for the
    * LLM-training-data surface, wired through the SERVE tier end-to-end:
    * the heavy derivations (LSH candidate pairs, quality scores,
    * near-dup clusters, the IVF index, the co-purchase transition
    * table) are built ONCE per data version by the three `prepare`
    * steps (idempotent behind versioned `_READY` markers, self-healing
    * on partial deletion), and every staged output below reads the
    * persisted artifacts — so a second nightly run against unchanged
    * inputs pays only the final joins, never the chain builds
    * (RunEtlSpec pins the reuse by asserting the artifact markers'
    * mtimes survive a rerun).
    *
    * Staged outputs (each an oracle-verified declared row): the curated
    * training corpus, the keep-best canonical table (x42s), the
    * split-leakage audit (x43s), the LSH recall calibration (x47s),
    * and the co-purchase pagerank (x46s). Returns the same
    * (table_name, path, n_rows) manifest shape as [[runEtl]].
    */
  def runCorpusEtl(spark: SparkSession, dir: String,
      outDir: String): DataFrame = {
    operators.AuditServe.prepare(spark, dir)
    operators.SimilarityQueries.prepareServe(spark, dir)
    operators.GraphServe.prepare(spark, dir)
    val staged = Seq(
      "corpus_curated"   -> run("corpus_curate", spark, dir),
      "dedup_canonicals" -> run("x42s_canonical_serve", spark, dir),
      "split_leakage"    -> run("x43s_leakage_serve", spark, dir),
      "lsh_recall_audit" -> run("x47s_recall_serve", spark, dir),
      "part_pagerank"    -> run("x46s_pagerank_serve", spark, dir))
    val counts = staged.map { case (name, df) =>
      val path = s"$outDir/$name.parquet"
      sources.Sinks.overwriteParquet(df, path)
      (name, path, Tables.parquet(spark, path).count())
    }
    import spark.implicits._
    counts.toDF("table_name", "path", "n_rows").orderBy("table_name")
  }

  /** Raw-ads ingestion transform (`extract_growth_data.py` analog),
    * applicable to any frame with the raw column shape.
    */
  def adsTransform(raw: DataFrame): DataFrame =
    operators.ReportingQueries.transformAdsRaw(raw)

  /** Deduplication suite over a `documents`-shaped table.
    *
    * Cache lifecycle: the LSH/Jaccard operators persist reused plan
    * branches (signatures, posting lists). On a long-lived session, call
    * [[clearCaches]] between batches to release them.
    */
  object dedup {
    def exact(spark: SparkSession, dir: String): DataFrame =
      run("x05_dedup_exact", spark, dir)
    def minhashLsh(spark: SparkSession, dir: String): DataFrame =
      run("x06_dedup_minhash_lsh", spark, dir)
    def simhash(spark: SparkSession, dir: String): DataFrame =
      run("x07_dedup_simhash", spark, dir)
    def simhashNearDup(spark: SparkSession, dir: String): DataFrame =
      run("x13_simhash_neardup", spark, dir)
    /** Near-dup clusters: LSH candidate pairs assembled into connected
      * components (min-label propagation + pointer jumping) — one
      * canonical `cluster_id` (= min member) per component.
      */
    def clusters(spark: SparkSession, dir: String): DataFrame =
      run("x14_dedup_clusters", spark, dir)

    /** Keep-best dedup: each [[clusters]] component reduced to its
      * highest-quality member (x02's score, lowest-id tie-break).
      */
    def clusterCanonicals(spark: SparkSession, dir: String): DataFrame =
      run("x42_cluster_canonical", spark, dir)

    /** `dfCap`: opt-in hot-shingle document-frequency cap (skew lever for
      * boilerplate-heavy corpora) — see
      * [[operators.DedupQueries.ngramJaccard]] for the semantics change.
      */
    def ngramJaccard(spark: SparkSession, dir: String,
        dfCap: Option[Int] = None): DataFrame =
      operators.DedupQueries.ngramJaccard(spark, dir, dfCap)

    /** MinHash+LSH candidate pairs with the opt-in `bandCap` skew lever
      * (the dfCap twin for the band join — drops (band, signature)
      * buckets larger than the cap before the quadratic collision join);
      * see [[operators.DedupQueries.lshCandidates]] for the semantics.
      */
    def minhashCandidates(spark: SparkSession, dir: String,
        bandCap: Option[Int] = None): DataFrame =
      operators.DedupQueries.minhashCandidates(spark, dir, bandCap)

    /** Span-level exact-substring dedup audit: duplicated 5-gram
      * windows coalesced into maximal per-doc spans (Lee-et-al-style
      * sub-document dedup).
      */
    def dupSpans(spark: SparkSession, dir: String): DataFrame =
      run("x69_dup_spans", spark, dir)

    /** PPJoin-style prefix-filtered exact Jaccard >= 1/2 pair join —
      * the high-threshold scale path next to [[ngramJaccard]].
      */
    def prefixJaccard(spark: SparkSession, dir: String): DataFrame =
      run("x70_prefix_jaccard", spark, dir)
  }

  /** Connected components over any undirected edge list — contracted
    * BSP min-label propagation with pointer jumping and early stop; pass
    * `checkpointDir` on a real cluster for reliable per-round
    * checkpoints (see [[operators.Components.connectedComponents]]).
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      vertices: DataFrame, idCol: String, maxRounds: Int = 12,
      checkpointDir: Option[String] = None): DataFrame =
    operators.Components.connectedComponents(edges, srcCol, dstCol,
      vertices, idCol, maxRounds, checkpointDir)

  /** Similarity search over an `embeddings`-shaped table. Same cache
    * lifecycle note as [[dedup]] (the IVF operators persist the bucket
    * assignment).
    */
  object similarity {
    def bruteForceTopK(spark: SparkSession, dir: String): DataFrame =
      run("x09_ann_bruteforce", spark, dir)
    def ivfAssign(spark: SparkSession, dir: String): DataFrame =
      run("x10_ann_ivf_assign", spark, dir)
    def ivfSearch(spark: SparkSession, dir: String): DataFrame =
      run("x12_ann_ivf_search", spark, dir)
    def nearDup(spark: SparkSession, dir: String): DataFrame =
      run("x11_embed_neardup", spark, dir)

    /** Semantic dedup: [[nearDup]]'s pairs assembled into connected
      * components — one canonical vector per embedding cluster.
      */
    def nearDupClusters(spark: SparkSession, dir: String): DataFrame =
      run("x41_embed_dedup_clusters", spark, dir)

    /** Train + persist the IVF index (centroids + bucket-partitioned
      * assignment) — amortize training across every later search.
      */
    def buildIndex(spark: SparkSession, dir: String, indexPath: String): Unit =
      operators.SimilarityQueries.buildIndex(spark, dir, indexPath)

    /** Serve nprobe top-k from a persisted index: zero training,
      * bucket-pruned scans; identical results to [[ivfSearch]].
      */
    def searchIndex(spark: SparkSession, dir: String,
        indexPath: String): DataFrame =
      operators.SimilarityQueries.searchIndex(spark, dir, indexPath)

    /** Exact per-dimension moments (whitening/normalization input). */
    /** Derive + persist the x41 semantic-dedup clusters once (the
      * train-once/serve-many path mirroring buildIndex/searchIndex).
      */
    def buildClusters(spark: SparkSession, dir: String,
        path: String): Unit =
      operators.SimilarityQueries.buildClusters(spark, dir, path)
    /** Persisted clusters as a frame — identical to the in-query x41. */
    def clustersFrom(spark: SparkSession, path: String): DataFrame =
      operators.SimilarityQueries.clustersFrom(spark, path)
    /** x64's purity audit served from persisted clusters. */
    def purityFrom(spark: SparkSession, dir: String,
        path: String): DataFrame =
      operators.SimilarityQueries.purityFrom(spark, dir, path)
    /** Top principal component by integer power iteration (x74). */
    def pcaPower(spark: SparkSession, dir: String): DataFrame =
      run("x74_pca_power", spark, dir)
    def dimStats(spark: SparkSession, dir: String): DataFrame =
      run("x59_embed_dim_stats", spark, dir)

    /** Product-quantization codebooks (x81): train + encode stats. */
    def pqCodebooks(spark: SparkSession, dir: String): DataFrame =
      run("x81_pq_codebooks", spark, dir)
    /** Compressed-domain (ADC) top-k over PQ codes (x82). */
    def pqSearch(spark: SparkSession, dir: String): DataFrame =
      run("x82_pq_adc_search", spark, dir)
    /** Exact re-rank of the ADC shortlist (x84). */
    def pqRerank(spark: SparkSession, dir: String): DataFrame =
      run("x84_pq_rerank", spark, dir)
    /** Recall@k of ADC and re-ranked PQ vs exact truth (x83). */
    def pqRecallAudit(spark: SparkSession, dir: String): DataFrame =
      run("x83_pq_recall_audit", spark, dir)
    /** IVFADC: nprobe bucket pruning + residual-code ADC (x85). */
    def ivfPqSearch(spark: SparkSession, dir: String): DataFrame =
      run("x85_ivfpq_search", spark, dir)
    /** Bucket-local silhouette QC of the semantic clusters (x86). */
    def clusterSilhouette(spark: SparkSession, dir: String): DataFrame =
      run("x86_cluster_silhouette", spark, dir)
    /** CSLS hubness-corrected retrieval (x87). */
    def cslsRescore(spark: SparkSession, dir: String): DataFrame =
      run("x87_csls_rescore", spark, dir)
    /** kNN in-degree hubness audit (x63) — what [[cslsRescore]] fixes. */
    def knnHubness(spark: SparkSession, dir: String): DataFrame =
      run("x63_knn_hubness", spark, dir)
    /** IVF append-without-retrain growth audit (x88). */
    def ivfAppendAudit(spark: SparkSession, dir: String): DataFrame =
      run("x88_ivf_append", spark, dir)
    /** Train-free SRP (hyperplane) LSH top-k with multiprobe (x89). */
    def srpSearch(spark: SparkSession, dir: String): DataFrame =
      run("x89_srp_lsh_ann", spark, dir)
    /** SRP retrieval recall vs the brute-force truth (x90). */
    def srpRecallAudit(spark: SparkSession, dir: String): DataFrame =
      run("x90_srp_recall", spark, dir)
  }

  /** Release persisted intermediate branches left by the dedup/similarity
    * operators (Verify/Bench do this between queries internally).
    */
  def clearCaches(spark: SparkSession): Unit = spark.catalog.clearCache()

  /** The corpus-prep pipeline composed end-to-end (quality filter →
    * exact dedup → deterministic held-out split) — the LLM-side flagship.
    */
  def corpusPrepare(spark: SparkSession, dir: String): DataFrame =
    run("corpus_prepare", spark, dir)

  /** Text analysis over a `documents`-shaped table. */
  object text {
    def tokens(spark: SparkSession, dir: String): DataFrame =
      run("x01_text_tokens", spark, dir)
    def quality(spark: SparkSession, dir: String): DataFrame =
      run("x02_text_quality", spark, dir)
    def languageId(spark: SparkSession, dir: String): DataFrame =
      run("x03_lang_id", spark, dir)
    def fingerprint(spark: SparkSession, dir: String): DataFrame =
      run("x04_fingerprint", spark, dir)
    /** Duplicate-3-gram repetition ratio + keep flag (Gopher-style). */
    def repetition(spark: SparkSession, dir: String): DataFrame =
      run("x18_repetition_3gram", spark, dir)
    /** Corpus unigram-LM per-doc mean log-prob (CCNet-style scoring). */
    def unigramLogprob(spark: SparkSession, dir: String): DataFrame =
      run("x36_unigram_logprob", spark, dir)
    /** Per-language top adjacent token pairs (one BPE-trainer round). */
    def bpePairStats(spark: SparkSession, dir: String): DataFrame =
      run("x38_bpe_pair_stats", spark, dir)
    /** Within-doc Shannon entropy in exact micro-nats (x72). */
    def docEntropy(spark: SparkSession, dir: String): DataFrame =
      run("x72_doc_entropy", spark, dir)
    /** Unigram-LM argmax source attribution + confusion matrix (x73). */
    def sourceAttribution(spark: SparkSession, dir: String): DataFrame =
      run("x73_source_attribution", spark, dir)
    /** Per-source Mann-Whitney AUC of the quality score vs is-English —
      * exact integer rank-sum with mid-rank ties (x77).
      */
    def qualityAuc(spark: SparkSession, dir: String): DataFrame =
      run("x77_quality_auc", spark, dir)
    /** Good-Turing frequency-of-frequencies + adjusted counts (x78). */
    def goodTuring(spark: SparkSession, dir: String): DataFrame =
      run("x78_good_turing", spark, dir)
    /** Subword-per-word tokenizer fertility per (lang, source) (x79). */
    def tokenizerFertility(spark: SparkSession, dir: String): DataFrame =
      run("x79_tokenizer_fertility", spark, dir)
  }

  /** Corpus assembly: packing, sampling, splits over `documents`. */
  object corpus {
    /** Fixed-token-budget sequence packing (per-shard prefix sum). */
    def packSequences(spark: SparkSession, dir: String): DataFrame =
      run("x17_pack_sequences", spark, dir)
    /** Per-language md5-bucket stratified sample (deterministic). */
    def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
      run("x20_stratified_sample", spark, dir)
    /** md5-bucket train/validation split. */
    def holdoutSplit(spark: SparkSession, dir: String): DataFrame =
      run("x16_split_holdout", spark, dir)
    /** Phone/email redaction demo over synthesized contact text. */
    def piiScrub(spark: SparkSession, dir: String): DataFrame =
      run("x19_pii_scrub", spark, dir)
    /** Per-source token-budget mixture cut in seeded-hash order. */
    def tokenBudgetMix(spark: SparkSession, dir: String): DataFrame =
      run("x37_token_budget_mix", spark, dir)
    /** Near-dup pairs crossing the train/validation boundary — the
      * held-out set is only held out if this is empty.
      */
    def splitLeakage(spark: SparkSession, dir: String): DataFrame =
      run("x43_split_leakage", spark, dir)
    /** k deterministic hash-derived negatives per document (no RNG). */
    def negativeSamples(spark: SparkSession, dir: String): DataFrame =
      run("x44_negative_samples", spark, dir)
    /** Gopher-style per-doc 2-/3-gram repetition signals. */
    def repetitionStats(spark: SparkSession, dir: String): DataFrame =
      run("x57_repetition_stats", spark, dir)
    /** Docs/tokens surviving the cumulative curation filter chain. */
    def filterFunnel(spark: SparkSession, dir: String): DataFrame =
      run("x58_filter_funnel", spark, dir)
    /** Token-weighted priority sample with unbiased-estimator tau. */
    def prioritySample(spark: SparkSession, dir: String): DataFrame =
      run("x60_priority_sample", spark, dir)
    /** The composed flagship: funnel → dedup → sample → packing. */
    def curate(spark: SparkSession, dir: String): DataFrame =
      run("corpus_curate", spark, dir)
  }

  /** Graph analytics over derived relations (link analysis tier). */
  object graph {
    /** Co-purchase PageRank, integer fixed-point, top 100 parts. */
    def partPagerank(spark: SparkSession, dir: String): DataFrame =
      run("x46_part_pagerank", spark, dir)
    /** Synchronous label-propagation communities over the same graph. */
    def labelCommunities(spark: SparkSession, dir: String): DataFrame =
      run("x61_label_communities", spark, dir)
    /** Degree-ordered triangle counts + exact clustering coefficient. */
    def triangleCc(spark: SparkSession, dir: String): DataFrame =
      run("x71_triangle_cc", spark, dir)
  }

  /** Multimodal binary-column plumbing (real mixed-format BMP/PNG/WAV
    * codecs — see [[graft.sources.Bmp]]/[[graft.sources.Png]]/
    * [[graft.sources.Wav]]).
    */
  object multimodal {
    def decodeFeatures(spark: SparkSession, dir: String): DataFrame =
      operators.Multimodal.features(spark, dir)
    def frameSamples(spark: SparkSession, dir: String): DataFrame =
      operators.Multimodal.frameSamples(spark, dir)
  }

  /** Generic as-of join (pandas `merge_asof`, directions
    * backward/forward/nearest): see [[operators.Joins.asOf]]. The
    * declared `j14_asof_join` (backward) and `j18_asof_forward` are its
    * oracle-checked instantiations.
    */
  def asOfJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      tieBreak: Seq[String] = Nil,
      direction: String = "backward"): DataFrame =
    operators.Joins.asOf(left, right, leftKey, rightKey, leftTime,
      rightTime, tieBreak, direction)

  /** Linear-interpolation time join: each left row estimates the right
    * value at its timestamp between the bracketing right rows, exact
    * BIGINT arithmetic; see [[operators.Joins.interpJoin]]. The declared
    * `j19_interp_join` is its oracle-checked instantiation.
    */
  def interpJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTimeSec: String, rightTimeSec: String,
      valueCol: String, tieBreak: Seq[String] = Nil): DataFrame =
    operators.Joins.interpJoin(left, right, leftKey, rightKey,
      leftTimeSec, rightTimeSec, valueCol, tieBreak)

  /** Salted skew-safe equi-join: exactly a plain inner join, with the
    * hot key's work spread `salt` ways; see [[operators.Joins.saltedJoin]].
    */
  def saltedJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, salt: Int): DataFrame =
    operators.Joins.saltedJoin(left, right, leftKey, rightKey, salt)

  /** Binned range join for two LARGE sides (points ⋈ intervals on
    * (keys, time-bin) + residual); see
    * [[operators.Joins.rangeJoinBinned]]. The declared
    * `j15_binned_range_join` is its oracle-checked instantiation.
    */
  def rangeJoinBinned(left: DataFrame, right: DataFrame,
      leftKeys: Seq[String], rightKeys: Seq[String],
      leftTimeUs: String, rightLoUs: String, rightHiUs: String,
      binWidthUs: Long): DataFrame =
    operators.Joins.rangeJoinBinned(left, right, leftKeys, rightKeys,
      leftTimeUs, rightLoUs, rightHiUs, binWidthUs)

  /** Bloom-filter semi-join reduction: prune `left` rows that cannot
    * match `right` BEFORE any shuffle; false positives (never
    * negatives) pass through and die in the join that follows. See
    * [[operators.Joins.bloomPrefilter]]; the declared
    * `j16_bloom_semi_join` is its oracle-checked instantiation.
    */
  def bloomPrefilter(left: DataFrame, leftKey: String,
      right: DataFrame, rightKey: String,
      expectedItems: Long, numBits: Long): DataFrame =
    operators.Joins.bloomPrefilter(left, leftKey, right, rightKey,
      expectedItems, numBits)

  /** Ad-hoc JDBC query read (S1, the `fetch_data(query)` analog); see
    * [[sources.Jdbc]] for the partitioned-read guidance.
    */
  def readJdbc(spark: SparkSession, url: String, query: String,
      options: Map[String, String] = Map.empty): DataFrame =
    sources.Jdbc.readQuery(spark, url, query, options)

  /** JDBC table read; accepts the partitioned-read options for parallel
    * range scans (S1).
    */
  def readJdbcTable(spark: SparkSession, url: String, table: String,
      options: Map[String, String] = Map.empty): DataFrame =
    sources.Jdbc.readTable(spark, url, table, options)

  /** Excel scan (S4, the pandas `read_excel` analog): one xlsx or a glob
    * of them, string-typed like un-inferred CSV; see [[sources.Xlsx]].
    */
  def readXlsx(spark: SparkSession, path: String,
      header: Boolean = true): DataFrame =
    sources.Xlsx.read(spark, path, header)

  /** Excel sink (S11's engine half, the `export_dataframe_to_drive`
    * render): small report frame → one xlsx workbook at a local path.
    */
  def writeXlsx(df: DataFrame, path: String): Unit =
    sources.Xlsx.write(df, path)

  /** Google-Sheet sink (S12, engine half): render a small report frame
    * as the `spreadsheets.values.update` ValueRange payload; the
    * authenticated PUT stays connector tier. See [[sources.Sheets]].
    */
  def writeSheetPayload(df: DataFrame, path: String,
      tab: String = "Sheet1"): Unit =
    sources.Sheets.write(df, path, tab)

  /** Versioned snapshot publish with keep-N retention (S14, the
    * backup-before-rebuild contract); see [[sources.Sinks.writeSnapshot]].
    */
  def writeSnapshot(df: DataFrame, root: String, keep: Int = 3): Long =
    sources.Sinks.writeSnapshot(df, root, keep)

  /** Read the latest published snapshot at `root`. */
  def readLatestSnapshot(spark: SparkSession, root: String): DataFrame =
    sources.Sinks.readLatestSnapshot(spark, root)

  /** Sinks and incremental-ingestion patterns: see [[sources.Sinks]]. */
  def sinks: sources.Sinks.type = sources.Sinks

  /** Data-quality constraint rules: see [[functions.Quality]]. */
  def quality: functions.Quality.type = functions.Quality

  /** Streaming surface: see [[streaming.EventStream]]. */
  def streams: streaming.EventStream.type = streaming.EventStream

  /** Any declared capability by registry name (the driver's view).
    * Returns the lazy frame; caches the query takes stay alive until
    * `spark.catalog.clearCache()` (or use [[runScoped]], which releases
    * them as soon as your consumer returns).
    */
  def run(name: String, spark: SparkSession, dir: String): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  /** Run a declared capability and release every cache it took once
    * `consume` (write, collect, aggregate — anything that drains the
    * frame) returns: the long-lived-session spelling of [[run]], so a
    * service embedding the registry never accumulates per-query cached
    * blocks (see [[Caches.scope]]; CacheScopeSpec pins zero persisted
    * RDDs after scoped runs).
    *
    * CONTRACT — `consume` must fully drain the frame before returning.
    * If it returns the lazy DataFrame itself (or anything still holding
    * one), a LATER action on it does not merely recompute: the scope has
    * already swept the query's `localCheckpoint` backings, whose lineage
    * is truncated, so the action fails with missing-checkpoint-block
    * errors (`SparkException: Checkpoint block ... not found`). Return
    * materialized results — collected rows, counts, a completed write —
    * never the frame. Safe to call concurrently from multiple threads:
    * overlapping scopes defer the shared raw-RDD sweep to the last
    * closer (see [[Caches]]).
    */
  def runScoped[T](name: String, spark: SparkSession, dir: String)(
      consume: DataFrame => T): T =
    Caches.scope(spark)(consume(SparkEntry.queries(name)(spark, dir)))

  /** Register every table present in `dir` as a temp view (plus the
    * extension functions: `dot_long`, `minhash_sigs`, `simhash_bits`,
    * `kmv_sketch`), so ad-hoc SQL works the way the reference's users
    * query DuckDB through Metabase:
    * `Graft.registerTables(spark, dir); spark.sql("SELECT ... FROM
    * lineitem JOIN orders ...")`.
    *
    * Tables missing from `dir` are skipped (a plain TPC-H directory
    * without the extension tables still registers everything it has).
    * Registering `events` leaves the session's nanos-as-long parquet flag
    * set — see [[Tables.events]].
    *
    * @return the names actually registered
    */
  def registerTables(spark: SparkSession, dir: String): Seq[String] = {
    GraftExtensions.ensureInstalled(spark)
    QueryDef.tableNames.filter { t =>
      try {
        Tables.byName(spark, dir, t).createOrReplaceTempView(t)
        true
      } catch {
        case _: org.apache.spark.sql.AnalysisException => false
      }
    }
  }
}
