package graft

/** Pins the audit-family serve paths: x43s/x45s answer from the
  * persisted [[operators.AuditServe]] artifacts and must produce rows
  * identical to the self-contained x43/x45 derivations (the DuckDB
  * oracle pins each against SQL; this spec pins them against each
  * other, so a drifted artifact schema can't pass by accident).
  */
class AuditServeSpec extends SparkSpec {

  test("x43s serve rows equal the self-contained x43 rows") {
    val declared = SparkEntry.queries("x43_split_leakage")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val served = SparkEntry.queries("x43s_leakage_serve")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(served == declared)
  }

  test("x45s serve rows equal the self-contained x45 rows") {
    val declared = SparkEntry.queries("x45_quality_drift")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val served = SparkEntry.queries("x45s_drift_serve")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(declared.nonEmpty)
    assert(served == declared)
  }

  test("x42s serve rows equal the self-contained x42 rows") {
    val declared = SparkEntry.queries("x42_cluster_canonical")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val served = SparkEntry.queries("x42s_canonical_serve")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(declared.nonEmpty)
    assert(served == declared)
  }

  test("x47s serve rows equal the self-contained x47 rows") {
    val declared = SparkEntry.queries("x47_lsh_recall_audit")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val served = SparkEntry.queries("x47s_recall_serve")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(served == declared)
  }

  test("serve plans read artifacts, not the derivation chains") {
    // the point of a serve row is ZERO re-derivation: its analyzed plan
    // must contain no minhash/shingle expressions (x43s/x47s) and no
    // quality-score recomputation over text (x45s) — a regression here
    // silently turns "serving" back into "rebuilding"
    operators.AuditServe.prepare(spark, sf)
    val p43 = SparkEntry.queries("x43s_leakage_serve")(spark, sf)
      .queryExecution.analyzed.toString
    assert(!p43.contains("minhash_sigs") && !p43.contains("shingles3"),
      "x43s must not re-derive LSH signatures")
    val p45 = SparkEntry.queries("x45s_drift_serve")(spark, sf)
      .queryExecution.analyzed.toString
    assert(!p45.toLowerCase.contains("stop_ratio"),
      "x45s must not re-score the corpus")
    val p47 = SparkEntry.queries("x47s_recall_serve")(spark, sf)
      .queryExecution.analyzed.toString
    assert(!p47.contains("minhash_sigs") && !p47.contains("shingles3"),
      "x47s must not re-derive either pair chain")
    val p42 = SparkEntry.queries("x42s_canonical_serve")(spark, sf)
      .queryExecution.analyzed.toString
    assert(!p42.contains("minhash_sigs") && !p42.contains("shingles3"),
      "x42s must not re-derive the cluster chain")
    assert(!p42.toLowerCase.contains("stop_ratio"),
      "x42s must not re-score the corpus")
  }

  test("serve roots are keyed per data file and per builder version") {
    // documents-keyed and embeddings-keyed artifacts must never share a
    // root (a rebuild of one must not clobber the other), and the root
    // must MOVE when the builder version moves (the round-5 staleness
    // bug: data-identity-only keys replayed an old algorithm's output).
    // Serve.root pins the sensitivity directly: dropping the version
    // component from the hashed key makes these collide and this fails.
    val docRoot = operators.AuditServe.root(sf)
    val embRoot = operators.SimilarityQueries.serveRoot(sf)
    assert(docRoot != embRoot)
    assert(docRoot.contains("graft_serve") && embRoot.contains("graft_serve"))
    val v1 = operators.Serve.root(sf, "documents.parquet", 1)
    val v2 = operators.Serve.root(sf, "documents.parquet", 2)
    assert(v1 != v2, "bumping the builder version must move the root")
  }

  test("a partially deleted artifact root self-heals on prepare") {
    operators.AuditServe.prepare(spark, sf)
    val root = operators.AuditServe.root(sf)
    // simulate a tmp reaper removing one artifact while _READY survives
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf)
      f.delete()
    }
    rmrf(new java.io.File(s"$root/clusters"))
    assert(!new java.io.File(s"$root/clusters").exists())
    operators.AuditServe.prepare(spark, sf)
    assert(new java.io.File(s"$root/clusters").isDirectory,
      "prepare must rebuild when an artifact dir is missing")
    // and the rebuilt artifact still serves correct rows
    val served = SparkEntry.queries("x42s_canonical_serve")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val declared = SparkEntry.queries("x42_cluster_canonical")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(served == declared)
  }
}
