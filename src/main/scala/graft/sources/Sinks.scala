package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** Sink / ingestion patterns from SURVEY §2.1 + §2.9, re-expressed on
  * Spark's writer and Structured Streaming APIs.
  *
  * The reference hand-rolls each of these in pandas: overwrite is
  * `to_parquet` (`extract_loan_detail.py:390`), append is read-concat-rewrite
  * (`extract_manual_arcus_transactions.py:94-105`), month refresh is
  * drop-months-concat-rewrite (`extract_growth_data.py:155-171`), the
  * warehouse build is a parquet→table map with stale-table GC
  * (`create_duckdb.py:65-99`), and exactly-once folder ingestion is a
  * manual processed-folder ledger file
  * (`extract_manual_arcus_payments.py:20-29,102-105`). Every one of those
  * is a single declarative call here — and unlike the reference's whole-file
  * rewrites, each scales out: append adds files without reading history,
  * partition overwrite touches only refreshed partitions, and the streaming
  * checkpoint replaces the ledger with transactional offset tracking.
  */
object Sinks {

  /** S7 — full-overwrite parquet sink (`to_parquet`, overwrite-by-default). */
  def overwriteParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** S8 — append sink. The reference reads the whole history, concats, and
    * rewrites (O(history) per batch); Spark append just adds files (O(batch)).
    */
  def appendParquet(df: DataFrame, path: String): Unit =
    df.write.mode("append").parquet(path)

  /** S9 — month-partition refresh (upsert-by-partition). Dynamic partition
    * overwrite replaces exactly the partitions present in `df` and leaves
    * the rest untouched — the declarative form of the reference's
    * drop-refreshed-months-then-concat (`extract_growth_data.py:155-171`),
    * and the only shape that survives 100 TB of history: the rewrite cost
    * is proportional to the refreshed months, not the table. The mode is
    * a per-write option, so the session's conf is never touched.
    */
  def refreshPartitions(df: DataFrame, path: String,
      partitionCol: String): Unit =
    df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol).parquet(path)

  /** Remove a managed-table location that lost its catalog entry, so a
    * following `saveAsTable` cannot hit LOCATION_ALREADY_EXISTS
    * (`mode("overwrite")` only replaces a table the CATALOG knows
    * about; a crash between file write and catalog commit — or a fresh
    * session pointed at an existing warehouse dir — leaves files with
    * no entry, and the catalog is the source of truth). The location
    * is resolved by the session catalog itself (`defaultTablePath`),
    * which honors the current database and db-qualified names —
    * string-building `<warehouse>/<name>` would miss the `<db>.db/`
    * segment for any non-default database. The existence probe goes
    * through the SESSION catalog too: `spark.catalog.tableExists` also
    * matches temp VIEWS, and a same-named view would silently disable
    * the guard.
    */
  private def clearOrphanedLocation(spark: SparkSession,
      table: String): Unit = {
    val id = spark.sessionState.sqlParser.parseTableIdentifier(table)
    if (!spark.sessionState.catalog.tableExists(id)) {
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.defaultTablePath(id))
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
  }

  /** S10 — warehouse build: (re)create one managed table per entry and drop
    * tables that fell out of the mapping (`create_duckdb.py:81-99`). The
    * stale-table GC is a catalog diff, same as the reference's
    * `set(existing) - set(desired)`; orphaned locations are cleared
    * first (see [[clearOrphanedLocation]]) so a crashed prior rebuild
    * cannot wedge the next one.
    */
  def syncWarehouse(spark: SparkSession,
      tables: Map[String, DataFrame]): Unit = {
    tables.foreach { case (name, df) =>
      clearOrphanedLocation(spark, name)
      df.write.mode("overwrite").saveAsTable(name)
    }
    val desired = tables.keySet.map(_.toLowerCase)
    spark.catalog.listTables().collect()
      .filter(t => t.tableType == "MANAGED" &&
        !desired.contains(t.name.toLowerCase))
      .foreach(t => spark.sql(s"DROP TABLE ${t.name}"))
  }

  /** §2.9 — exactly-once incremental file ingestion. The reference consults
    * a processed-folders ledger file before ingesting and appends to it
    * after; the streaming file source + checkpoint is the transactional
    * version (offsets commit atomically with the sink, so a crash between
    * "ingest" and "record" can't double-ingest — the reference's ledger
    * can). `Trigger.AvailableNow` drains the backlog and stops, i.e. the
    * same batch cadence as the cron job.
    *
    * @return rows ingested by this invocation (0 when nothing new).
    */
  def ingestAvailableNow(spark: SparkSession, srcDir: String,
      schema: org.apache.spark.sql.types.StructType, checkpoint: String,
      outPath: String,
      transform: DataFrame => DataFrame = identity): Long = {
    val before = countParquetRows(spark, outPath)
    val q = transform(
      spark.readStream.schema(schema).parquet(srcDir))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .format("parquet")
      .start(outPath)
    q.awaitTermination()
    countParquetRows(spark, outPath) - before
  }

  private def countParquetRows(spark: SparkSession, path: String): Long =
    try graft.Tables.parquet(spark, path).count()
    catch { case _: org.apache.spark.sql.AnalysisException => 0L }

  /** Streaming upsert: drain a file-source backlog and refresh exactly the
    * partitions each micro-batch touches (`foreachBatch` + dynamic
    * partition overwrite) — the reference's month-refresh job
    * (`extract_growth_data.py:95-167`) as a stream, with the checkpoint
    * replacing its hand-rolled refresh bookkeeping.
    *
    * `transform` runs per batch before the write (derive the partition
    * column there when the source doesn't carry it).
    */
  def streamingUpsert(spark: SparkSession, srcDir: String,
      schema: org.apache.spark.sql.types.StructType, checkpoint: String,
      outPath: String, partitionCol: String,
      transform: DataFrame => DataFrame = identity): Unit = {
    val q = spark.readStream.schema(schema).parquet(srcDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        refreshPartitions(transform(batch), outPath, partitionCol)
      }
      .start()
    q.awaitTermination()
  }

  /** Bucketed table sink: co-locates rows by join key at write time so
    * repeated joins/aggregations on that key need no shuffle at read time
    * — the standing answer to "this 100 TB fact table is joined on the
    * same key by every job, why shuffle it every time?". Both sides of a
    * join bucketed by the same key into the same bucket count plan as a
    * zero-Exchange sort-merge join (asserted in SinksSpec).
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      nBuckets: Int): Unit = {
    // same orphaned-location hazard as syncWarehouse: overwrite only
    // replaces catalog-known tables
    clearOrphanedLocation(df.sparkSession, table)
    df.write.mode("overwrite")
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)
  }

  /** Small-file compaction: rewrite a parquet dataset whose incremental
    * appends have fragmented it (every `appendParquet` batch adds files)
    * into ~`targetFileBytes` files. The 100 TB maintenance op: scan cost
    * is dominated by file-open overhead once files shrink below the
    * row-group size, and the fix is a bounded rewrite, not a bigger
    * cluster. Rewrites via a temp dir + rename swap so a crash leaves
    * either the old or the new layout, never a half-written mix (on an
    * object store a table format's manifest commit plays this role).
    *
    * @return file count after compaction (unchanged when already compact)
    */
  def compact(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L << 20): Int = {
    val p = new org.apache.hadoop.fs.Path(path)
    // the filesystem OWNING the path, not the default one — a
    // defaultFS=hdfs deployment compacting a file:/ or s3a:// dataset
    // would otherwise list/rename the wrong filesystem entirely
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = fs.listStatus(p)
    // a partitioned dataset (key=value subdirs) must be compacted
    // per-partition — a whole-dataset rewrite would silently flatten
    // the layout; fail loudly instead of restructuring data
    val subdirs = entries.filter(_.isDirectory)
      .map(_.getPath.getName).filterNot(_.startsWith("_"))
    require(subdirs.isEmpty,
      s"compact: $path is partitioned (${subdirs.take(3).mkString(", ")}" +
        s"${if (subdirs.length > 3) ", …" else ""}); " +
        "compact each partition directory instead")
    val files = entries.filter(_.getPath.getName.endsWith(".parquet"))
    val totalBytes = files.map(_.getLen).sum
    val nFiles = math.max(1,
      math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    if (nFiles >= files.length) return files.length
    // siblings of the NORMALIZED path ("/t/" would otherwise put tmp
    // INSIDE the dataset and the swap would destroy it); `suffix`
    // appends to the normalized form
    val tmp = p.suffix("__compact_tmp")
    val bak = p.suffix("__compact_old")
    // a bak left by a crashed prior run means that run failed between
    // its two renames — refuse to touch anything until a human resolves
    // which copy is current
    require(!fs.exists(bak),
      s"compact: stale $bak exists (prior compaction crashed mid-swap); " +
        "resolve it before compacting again")
    // Spark's own inference, not graft.Tables.parquet: the dataset is the
    // caller's, appended to by any writer, and compaction must rewrite
    // exactly what a plain read of it sees (summary files, partition
    // discovery); one inference job is noise beside a full rewrite
    spark.read.parquet(p.toString).repartition(nFiles)
      .write.mode("overwrite").parquet(tmp.toString)
    // rename signals failure via its RETURN VALUE on HDFS-like
    // filesystems — unchecked, a failed swap either reports success or
    // deletes the only copy
    if (!fs.rename(p, bak))
      throw new java.io.IOException(s"compact: rename $p -> $bak failed")
    if (!fs.rename(tmp, p)) {
      fs.rename(bak, p) // best-effort rollback; bak is the real data
      throw new java.io.IOException(s"compact: rename $tmp -> $p failed")
    }
    fs.delete(bak, true)
    nFiles
  }

  /** S14 — backup/retention, engine half: the reference copies the
    * warehouse file aside before every rebuild and prunes old copies
    * (`create_duckdb.py:28-38`). The parquet-native spelling is
    * versioned snapshots: each publish writes a NEW `v=<n>` directory,
    * flips a one-line `_LATEST` pointer via temp-file + atomic rename,
    * and prunes versions beyond `keep` — readers that resolved the
    * pointer before a publish keep reading their (immutable, retained)
    * snapshot, so a rebuild can never corrupt an in-flight report. A
    * crash before the pointer flip leaves the previous snapshot live
    * and the half-written directory unreferenced (skipped by later
    * publishers, reclaimed by retention).
    *
    * Concurrent publishers: version numbers are allocated via a
    * create-EXCLUSIVE claim marker (`_CLAIM.v=<n>`), so two simultaneous
    * publishers that compute the same next version cannot silently
    * overwrite each other — the loser's exclusive create fails and it
    * advances to the next free number; both publishes land, pointer
    * order decides LATEST. Atomic create-no-overwrite holds on local FS
    * and HDFS; on object stores without it (S3), treat
    * single-writer-per-root as the contract (the reference's analog is
    * a single nightly cron, `cron_jobs/run_etl.sh`).
    *
    * @return the published version number (1-based, monotonic)
    */
  def writeSnapshot(df: DataFrame, root: String, keep: Int = 3): Long = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    val spark = df.sparkSession
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(rootP)
    var next = currentVersion(spark, root).getOrElse(0L) + 1L
    var claimed = false
    while (!claimed) {
      val claim = new org.apache.hadoop.fs.Path(rootP, s"_CLAIM.v=$next")
      try { fs.create(claim, false).close(); claimed = true }
      catch {
        case e: java.io.IOException =>
          // claim taken (by a concurrent publisher or a crashed attempt)
          // → advance; anything else is a real FS error
          if (fs.exists(claim)) next += 1 else throw e
      }
    }
    // a FAILED write must release its claim (nothing worth protecting
    // exists yet), or every aborted publish would orphan a marker the
    // prune loop never touches; a crash that skips this catch is mopped
    // up by the orphan sweep below on the next successful publish
    try df.write.mode("overwrite").parquet(s"$root/v=$next")
    catch {
      case e: Throwable =>
        fs.delete(new org.apache.hadoop.fs.Path(rootP, s"_CLAIM.v=$next"),
          false)
        throw e
    }
    val ptr = new org.apache.hadoop.fs.Path(rootP, "_LATEST")
    val tmp = new org.apache.hadoop.fs.Path(rootP, "_LATEST.tmp")
    val out = fs.create(tmp, true)
    try out.write(next.toString.getBytes("UTF-8")) finally out.close()
    // OVERWRITE rename, not delete-then-rename: the latter opens a
    // window where _LATEST doesn't exist and a NEW reader errors out
    org.apache.hadoop.fs.FileContext
      .getFileContext(rootP.toUri, spark.sparkContext.hadoopConfiguration)
      .rename(tmp, ptr, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    // retention: prune versions older than the newest `keep`, but NEVER
    // the version this call just published or the one _LATEST currently
    // points at — a slow publisher racing faster ones could otherwise
    // prune its own just-flipped target (it sorts below the newer
    // version numbers) and leave the pointer dangling. A pruned
    // version's claim marker goes with it so the root doesn't
    // accumulate empty claim files.
    val pinned = Set(next) ++ currentVersion(spark, root)
    val versions = versionList(fs, rootP).sorted
    versions.dropRight(keep).filterNot(pinned).foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(rootP, s"v=$v"), true)
      fs.delete(new org.apache.hadoop.fs.Path(rootP, s"_CLAIM.v=$v"), false)
    }
    // orphan sweep: a claim below the retention floor whose data
    // directory never materialized (crash between claim and write) is
    // unreachable by the prune loop above — remove it here
    versions.dropRight(keep).headOption.foreach { _ =>
      val floor = versions.takeRight(keep).headOption.getOrElse(next)
      fs.listStatus(rootP).toSeq.map(_.getPath.getName)
        .collect { case n if n.matches("_CLAIM\\.v=\\d+") => n.drop(9).toLong }
        .filter(v => v < floor && !pinned(v) &&
          !fs.exists(new org.apache.hadoop.fs.Path(rootP, s"v=$v")))
        .foreach { v =>
          fs.delete(new org.apache.hadoop.fs.Path(rootP, s"_CLAIM.v=$v"),
            false)
        }
    }
    next
  }

  /** Streaming materialized view with versioned publish: drain a
    * file-source backlog and keep a per-key COUNT aggregate as a
    * retained snapshot series. The aggregation runs in UPDATE output
    * mode, so each micro-batch carries only the keys whose totals
    * changed (state store holds the running totals); the publish step
    * merges those rows into the previous snapshot — work per batch is
    * O(changed keys + aggregate size), never a rescan of history.
    * Versions advance per batch; a foreachBatch retry can publish an
    * extra version, which the retained series absorbs (the LATEST
    * content is idempotent because batch rows carry TOTALS, not
    * deltas).
    */
  def streamingCountSnapshots(spark: SparkSession, srcDir: String,
      schema: org.apache.spark.sql.types.StructType, checkpoint: String,
      snapRoot: String, keyCol: String, keep: Int = 3): Unit = {
    import org.apache.spark.sql.functions.col
    val q = spark.readStream.schema(schema).parquet(srcDir)
      .groupBy(col(keyCol)).count()
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // the batch plan is referenced three times (emptiness probe,
        // anti-join side, union) — persist so the state-store-backed
        // aggregation output is computed once per publish
        batch.persist()
        try if (!batch.isEmpty) {
          val prev = currentVersion(spark, snapRoot)
            .map(v => readSnapshot(spark, snapRoot, v))
            .getOrElse(spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              batch.schema))
          // NULL-SAFE anti-join: with plain equality a null-key row in
          // prev never matches its replacement (null = null is not
          // true), so a stale duplicate would accumulate every drain
          val merged = prev.as("p").join(batch.as("b"),
              col(s"p.$keyCol") <=> col(s"b.$keyCol"), "left_anti")
            .unionByName(batch)
          writeSnapshot(merged, snapRoot, keep)
          ()
        } finally batch.unpersist()
      }
      .start()
    q.awaitTermination()
  }

  /** Latest published version at `root`, if any (reads `_LATEST`). */
  def currentVersion(spark: SparkSession, root: String): Option[Long] = {
    val ptr = new org.apache.hadoop.fs.Path(root, "_LATEST")
    val fs = ptr.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(ptr)) None
    else {
      val in = fs.open(ptr)
      try Some(new String(in.readAllBytes(), "UTF-8").trim.toLong)
      finally in.close()
    }
  }

  private def versionList(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[Long] =
    if (!fs.exists(root)) Seq.empty
    // strictly-numeric suffixes only: a stray `v=tmp` (editor artifact,
    // aborted copy) must be IGNORED by retention, not crash every
    // subsequent publish with a NumberFormatException
    else fs.listStatus(root).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.matches("v=\\d+") => n.drop(2).toLong }

  /** Read the snapshot `_LATEST` points at. */
  def readLatestSnapshot(spark: SparkSession, root: String): DataFrame = {
    val v = currentVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(s"no published snapshot at $root"))
    readSnapshot(spark, root, v)
  }

  /** Read a specific retained snapshot version. Keeps Spark's own
    * inference rather than graft.Tables.parquet: a version directory holds
    * whatever frame its publisher wrote, which may be laid out for
    * partition discovery, and snapshot reads are off the per-query path.
    */
  def readSnapshot(spark: SparkSession, root: String,
      version: Long): DataFrame =
    spark.read.parquet(s"$root/v=$version")
}
