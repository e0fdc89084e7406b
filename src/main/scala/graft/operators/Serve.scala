package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared derivation of per-data-version serve-artifact roots.
  *
  * An artifact root is keyed on the identity of the INPUT parquet file
  * (path + mtime + size — the driver regenerates testdata between
  * rounds, so a path-only key would serve a stale artifact over new
  * data) AND on the owning family's builder version. Keying on data
  * identity alone proved insufficient: a code change to a builder
  * leaves older `$TMPDIR/graft_serve` artifacts valid-looking under
  * the unchanged data key, silently replaying the OLD algorithm's
  * output until someone deletes the directory. Folding the version
  * into the hash makes algorithm changes self-invalidating: bump the
  * family's constant whenever one of its builders changes semantics
  * OR its artifact set grows (an older _READY root would otherwise
  * satisfy the marker check while missing new files). Versions are
  * PER FAMILY so bumping one (e.g. the audit artifacts) never forces
  * a rebuild of the other (the IVF index).
  */
object Serve {

  /** Version of the embeddings-keyed builders (IVF index, semantic
    * clusters, PQ books + codes — [[SimilarityQueries.prepareServe]]):
    * v11 = the persisted coarse router layer (`coarse/centroids`)
    * joined the artifact set. An older v11 root may also hold a
    * centroid-count text file; nothing reads it, and [[complete]]
    * checks only directories.
    */
  private[operators] val IndexBuilderVersion = 11

  /** Version of the documents-keyed audit builders ([[AuditServe]]):
    * v10 = the BM25 inverted index (`postings` + `doclens`) joined the
    * artifact set (v9 added the unigram piece table).
    */
  private[operators] val AuditBuilderVersion = 10

  /** Version of the lineitem-keyed graph builders ([[GraphServe]]):
    * v1 = transition table + nodes + node-count manifest.
    */
  private[operators] val GraphBuilderVersion = 1

  /** The serve root for one data file at one builder version; the
    * version is part of the hashed key, so a version bump moves it.
    */
  private[graft] def root(dir: String, dataFile: String,
      version: Int): String = {
    val f = new java.io.File(s"$dir/$dataFile")
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$dir|$dataFile|${f.lastModified}|${f.length}|v$version"
        .getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    s"${sys.props("java.io.tmpdir")}/graft_serve/$key"
  }

  /** Completeness of a serve root: the `_READY` marker ALONE is
    * insufficient — every artifact dir must also exist, or a partially
    * reaped tmp root (a reaper removing one parquet dir while `_READY`
    * survives) fails path-not-found forever instead of self-healing
    * with a rebuild. ONE spelling of that invariant, shared by both
    * families' prepare steps.
    */
  private[operators] def complete(root: String, dirs: Seq[String]): Boolean =
    // length > 0: the marker must hold a build nonce (see [[stamp]]);
    // an empty pre-nonce marker self-heals with a rebuild
    new java.io.File(s"$root/_READY").length() > 0 &&
      dirs.forall(a => new java.io.File(s"$root/$a").isDirectory)

  /** Stamp a serve root ready, writing a per-build nonce INTO the
    * marker: a rebuild always changes the marker's content, so
    * artifact-reuse pins compare content instead of `lastModified()`
    * (mtime has 1 s granularity on some filesystems — a rebuild
    * completing within the same second as the first build would
    * false-pass an mtime comparison).
    */
  private[operators] def stamp(root: String): Unit =
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/_READY"),
      s"${System.nanoTime()}")
}

/** Serve artifacts for the AUDIT family (x43 split leakage, x45 quality
  * drift): both audits re-pay a multi-stage input chain per run — x43
  * rebuilds the MinHash signatures + the LSH band-collision pair join,
  * x45 re-scores the whole corpus — even though an application derives
  * those once per corpus version and audits many times. This is the
  * document-side twin of [[SimilarityQueries.prepareServe]] (IVF index
  * + clusters): build the LSH candidate pairs and the per-doc quality
  * scores ONCE per (documents.parquet version, builder version), then
  * the serve rows `x43s_leakage_serve` / `x45s_drift_serve` answer from
  * the persisted artifacts with only their own final joins — identical
  * rows to the self-contained queries (AuditServeSpec + the DuckDB
  * oracle pin this).
  */
object AuditServe {

  private[graft] def root(dir: String): String =
    Serve.root(dir, "documents.parquet", Serve.AuditBuilderVersion)

  /** The artifact subdirectories [[prepare]] must produce — validated
    * alongside the marker so a partially deleted root (a tmp reaper
    * removing one parquet dir while `_READY` survives) self-heals with
    * a rebuild instead of failing path-not-found forever.
    */
  private val ArtifactDirs =
    Seq("lshcand", "quality", "clusters", "ngjacc", "bpemerges",
      "unipieces", "postings", "doclens")

  /** Every DECLARED row that READS this family's serve root — the
    * [[graft.Bench]] pre-build set, co-located like
    * [[SimilarityQueries.serveRows]].
    */
  val serveRows: Set[String] = Set("x42s_canonical_serve",
    "x43s_leakage_serve", "x45s_drift_serve", "x47s_recall_serve",
    "x92s_bpe_encode_serve", "x98s_unigram_serve", "x65s_bm25_serve",
    "x14s_clusters_serve",
    "st19_stream_bpe_encode", "st21_stream_unigram_encode")

  /** Build the audit artifacts once per data version — idempotent
    * behind a _READY marker PLUS a presence check of every artifact
    * dir, synchronized within the JVM (the
    * [[SimilarityQueries.prepareServe]] discipline; Verify/Bench are
    * single-JVM, so cross-process races don't arise in the driver
    * harness — a multi-writer deployment would write to a temp root
    * and rename, the S14 claim-marker pattern). Serve queries call
    * this to self-heal; [[graft.Bench]] calls it before the timed pass
    * so the serve rows measure serving, not the chain build (the build
    * cost is what x06/x02 already measure).
    */
  def prepare(s: SparkSession, dir: String): Unit = synchronized {
    val r = root(dir)
    if (!Serve.complete(r, ArtifactDirs)) graft.Caches.scope(s) {
      // the scope releases the build's caches; a clearCache here would
      // also drop those of the enclosing query and of concurrent scopes
      DedupQueries.minhashCandidates(s, dir)
        .write.mode("overwrite").parquet(s"$r/lshcand")
      TextQueries.qualityScored(s, dir)
        .select(col("doc_id"), col("source"),
          col("n_tokens").cast("bigint").as("n_tokens"),
          col("quality_score"))
        .write.mode("overwrite").parquet(s"$r/quality")
      DedupQueries.docClusters(s, dir)
        .write.mode("overwrite").parquet(s"$r/clusters")
      DedupQueries.ngramJaccard(s, dir)
        .write.mode("overwrite").parquet(s"$r/ngjacc")
      BpeQueries.trainMerges(s, dir)
        .write.mode("overwrite").parquet(s"$r/bpemerges")
      UnigramQueries.pieceTable(s, dir)
        .write.mode("overwrite").parquet(s"$r/unipieces")
      val (postings, doclens) = PipelineQueries.bm25Index(s, dir)
      postings.write.mode("overwrite").parquet(s"$r/postings")
      doclens.write.mode("overwrite").parquet(s"$r/doclens")
      Serve.stamp(r)
    }
  }

  /** The persisted LSH band-collision candidate pairs (doc_a, doc_b). */
  def candidatesFrom(s: SparkSession, dir: String): DataFrame =
    Tables.parquet(s, s"${root(dir)}/lshcand")

  /** The persisted per-doc quality scores
    * (doc_id, source, n_tokens, quality_score).
    */
  def qualityFrom(s: SparkSession, dir: String): DataFrame =
    Tables.parquet(s, s"${root(dir)}/quality")

  /** The persisted x14 near-dup clusters (doc_id, cluster_id). */
  def clustersFrom(s: SparkSession, dir: String): DataFrame =
    Tables.parquet(s, s"${root(dir)}/clusters")

  /** The persisted exact blocked n-gram Jaccard pairs
    * (doc_a, doc_b, jaccard ≥ 0.05 — the x08 result; consumers filter
    * tighter thresholds from it).
    */
  def jaccardFrom(s: SparkSession, dir: String): DataFrame =
    Tables.parquet(s, s"${root(dir)}/ngjacc")

  /** The persisted BPE merge table (round, sym_a, sym_b, merged, n) —
    * the trainer's output, i.e. the tokenizer model file.
    */
  def mergesFrom(s: SparkSession, dir: String): DataFrame =
    Tables.parquet(s, s"${root(dir)}/bpemerges")

  /** The persisted unigram piece table (piece, cnt, lp_micro) — the
    * x97 trainer's output, the `bpemerges` sibling model file.
    */
  def piecesFrom(s: SparkSession, dir: String): DataFrame =
    Tables.parquet(s, s"${root(dir)}/unipieces")

  /** The persisted full-vocabulary inverted index
    * (lang, token, doc_id, tf) — the BM25 serve row's postings.
    */
  def postingsFrom(s: SparkSession, dir: String): DataFrame =
    Tables.parquet(s, s"${root(dir)}/postings")

  /** The persisted per-doc token lengths (lang, doc_id, dl). */
  def doclensFrom(s: SparkSession, dir: String): DataFrame =
    Tables.parquet(s, s"${root(dir)}/doclens")
}
