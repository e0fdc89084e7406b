package graft

import java.nio.file.Files

/** End-to-end pin for Graft.runEtl: the nightly-run analog must stage all
  * three tables, build the warehouse (with stale-table GC), render both
  * report artifacts, and be idempotent on rerun — the reference's daily
  * full-rebuild contract. Both composites, run bare, leave no cached
  * block behind on the shared session.
  */
class RunEtlSpec extends SparkSpec {

  test("runEtl stages, syncs, renders, and reruns cleanly") {
    val out = Files.createTempDirectory("etl").toString
    // a stale managed table that the warehouse sync must GC; a crashed
    // prior run can leave the location behind with no catalog entry
    // (in-memory catalog, on-disk warehouse), so clear both
    spark.sql("DROP TABLE IF EXISTS graft_stale_tmp")
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      "graft_stale_tmp")
    if (loc.exists()) org.apache.commons.io.FileUtils.deleteDirectory(loc)
    spark.range(3).write.saveAsTable("graft_stale_tmp")

    val manifest = Graft.runEtl(spark, sf, out).collect()
    assert(manifest.map(_.getString(0)).toSeq ==
      Seq("analytics_accounting_report", "dim_calendar", "fact_loan"))
    manifest.foreach(r => assert(r.getLong(2) > 0, r.toString))

    // warehouse: staged tables queryable, stale table gone
    assert(spark.table("fact_loan").count() ==
      manifest.find(_.getString(0) == "fact_loan").get.getLong(2))
    assert(!spark.catalog.tableExists("graft_stale_tmp"))

    // report artifacts render
    assert(new java.io.File(s"$out/accounting_report.xlsx").length() > 0)
    assert(new java.io.File(s"$out/accounting_report_sheet.json").length() > 0)

    // idempotent daily rerun: same manifest
    val again = Graft.runEtl(spark, sf, out).collect()
    assert(again.map(r => (r.getString(0), r.getLong(2))).toSeq ==
      manifest.map(r => (r.getString(0), r.getLong(2))).toSeq)

    // each nightly run published a retained report snapshot (S14)
    val snapRoot = s"$out/report_snapshots"
    assert(graft.sources.Sinks.currentVersion(spark, snapRoot)
      .contains(2L))
    assert(Graft.readLatestSnapshot(spark, snapRoot).count() ==
      manifest.find(_.getString(0) == "analytics_accounting_report")
        .get.getLong(2))
  }

  test("runCorpusEtl stages the serve-tier outputs and REUSES the " +
      "artifacts across nightly runs (markers untouched on rerun)") {
    val out = Files.createTempDirectory("cetl").toString
    val manifest = Graft.runCorpusEtl(spark, sf, out).collect()
    assert(manifest.map(_.getString(0)).toSeq == Seq("corpus_curated",
      "dedup_canonicals", "lsh_recall_audit", "part_pagerank",
      "split_leakage"))
    // every staged table materialized (leakage may legitimately be 0
    // rows — a clean split — so only the non-audit tables demand rows)
    manifest.filter(r => r.getString(0) == "corpus_curated" ||
        r.getString(0) == "dedup_canonicals")
      .foreach(r => assert(r.getLong(2) > 0, r.toString))
    // artifact-reuse pin: a second nightly run against unchanged data
    // must NOT rebuild any serve family — the three _READY markers keep
    // their CONTENT (each rebuild writes a fresh nonce into the marker;
    // content comparison is immune to 1 s filesystem mtime granularity,
    // where a rebuild finishing in the first build's second would
    // false-pass an mtime check)
    val markers = Seq(
      operators.AuditServe.root(sf),
      operators.SimilarityQueries.serveRoot(sf),
      operators.GraphServe.root(sf))
      .map(r => java.nio.file.Paths.get(s"$r/_READY"))
    markers.foreach(m =>
      assert(java.nio.file.Files.exists(m), m.toString))
    val nonces = markers.map(java.nio.file.Files.readString(_))
    nonces.foreach(n => assert(n.nonEmpty, "marker missing build nonce"))
    val again = Graft.runCorpusEtl(spark, sf, out).collect()
    assert(markers.map(java.nio.file.Files.readString(_)) == nonces,
      "a serve artifact was rebuilt on the second nightly run")
    assert(again.map(r => (r.getString(0), r.getLong(2))).toSeq ==
      manifest.map(r => (r.getString(0), r.getLong(2))).toSeq)
    spark.catalog.clearCache()
  }

  test("both nightly composites release every block they cache") {
    // a frame an earlier run left cached would turn the composites'
    // persists of the same plans into no-ops and hide a leak
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    Graft.runEtl(spark, sf, Files.createTempDirectory("etl").toString)
      .collect()
    Graft.runCorpusEtl(spark, sf, Files.createTempDirectory("cetl").toString)
      .collect()
    val left = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    assert(left.isEmpty, left.values.map(_.toDebugString).mkString("\n"))
  }
}
