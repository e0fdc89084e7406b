package graft

import graft.sources.Sinks
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Sink / ingestion patterns (SURVEY §2.1 S7-S10, §2.9) against /tmp dirs. */
class SinksSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("S7 overwrite sink replaces prior contents") {
    val out = tmp("s7") + "/t"
    Sinks.overwriteParquet(Seq(1, 2, 3).toDF("v"), out)
    Sinks.overwriteParquet(Seq(9).toDF("v"), out)
    assert(spark.read.parquet(out).as[Int].collect().toSeq == Seq(9))
  }

  test("S8 append sink accumulates batches") {
    val out = tmp("s8") + "/t"
    Sinks.appendParquet(Seq(1, 2).toDF("v"), out)
    Sinks.appendParquet(Seq(3).toDF("v"), out)
    assert(spark.read.parquet(out).as[Int].collect().sorted.toSeq
      == Seq(1, 2, 3))
  }

  test("S9 dynamic partition overwrite touches only refreshed partitions") {
    val out = tmp("s9") + "/t"
    val modeKey = "spark.sql.sources.partitionOverwriteMode"
    val modeBefore = spark.conf.getOption(modeKey)
    val history = Seq(("2025_01", 1), ("2025_02", 2), ("2025_03", 3))
      .toDF("month", "v")
    Sinks.refreshPartitions(history, out, "month")
    // refresh only Feb; Jan + Mar survive untouched
    val refresh = Seq(("2025_02", 20), ("2025_02", 21)).toDF("month", "v")
    Sinks.refreshPartitions(refresh, out, "month")
    // the dynamic mode is a per-write option: the shared session's conf
    // is the same after the call as before it
    assert(spark.conf.getOption(modeKey) == modeBefore)
    val got = spark.read.parquet(out)
      .select("month", "v").as[(String, Int)].collect().sorted.toSeq
    assert(got == Seq(("2025_01", 1), ("2025_02", 20), ("2025_02", 21),
      ("2025_03", 3)))
  }

  test("S10 warehouse sync creates tables and drops stale ones") {
    // hermetic: drop catalog entries AND orphaned managed locations left by
    // a previous JVM (the location survives, the in-memory catalog doesn't)
    Seq("wh_keep", "wh_stale").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir")
          .stripPrefix("file:"), t)
      if (loc.exists())
        org.apache.commons.io.FileUtils.deleteDirectory(loc)
    }
    Sinks.syncWarehouse(spark, Map(
      "wh_keep" -> Seq(1).toDF("v"), "wh_stale" -> Seq(2).toDF("v")))
    assert(spark.table("wh_keep").count() == 1)
    Sinks.syncWarehouse(spark, Map("wh_keep" -> Seq(1, 2).toDF("v")))
    assert(spark.table("wh_keep").count() == 2)
    assert(!spark.catalog.tableExists("wh_stale"))
  }

  test("incremental ledger: each source file ingested exactly once") {
    val src = tmp("inc-src")
    val out = tmp("inc") + "/t"
    val ckpt = tmp("inc") + "/ckpt"
    val schema = Seq(1).toDF("v").schema

    Seq(1, 2).toDF("v").write.parquet(s"$src/batch1")
    val first = Sinks.ingestAvailableNow(
      spark, s"$src/*", schema, ckpt, out)
    assert(first == 2)

    // re-run with no new files: ledger (checkpoint) skips batch1
    val rerun = Sinks.ingestAvailableNow(
      spark, s"$src/*", schema, ckpt, out)
    assert(rerun == 0)

    // a new folder arrives: only its rows are ingested
    Seq(3).toDF("v").write.parquet(s"$src/batch2")
    val second = Sinks.ingestAvailableNow(
      spark, s"$src/*", schema, ckpt, out)
    assert(second == 1)
    assert(spark.read.parquet(out).count() == 3)
  }

  test("streaming upsert refreshes only the partitions a batch touches") {
    val src = tmp("su-src")
    val out = tmp("su") + "/t"
    val ckpt = tmp("su") + "/ckpt"
    val schema = Seq(("2025_01", 1)).toDF("month", "v").schema

    Seq(("2025_01", 1), ("2025_02", 2)).toDF("month", "v")
      .write.parquet(s"$src/b1")
    Sinks.streamingUpsert(spark, s"$src/*", schema, ckpt, out, "month")
    // second batch refreshes Feb only; Jan survives
    Seq(("2025_02", 20)).toDF("month", "v").write.parquet(s"$src/b2")
    Sinks.streamingUpsert(spark, s"$src/*", schema, ckpt, out, "month")
    val got = spark.read.parquet(out)
      .select("month", "v").as[(String, Int)].collect().sorted.toSeq
    assert(got == Seq(("2025_01", 1), ("2025_02", 20)))
  }

  test("bucketed tables join without a shuffle") {
    // no cleanup prelude: writeBucketed itself must handle both a
    // catalog-known table (overwrite) and an orphaned location left by
    // a previous JVM (fresh in-memory catalog, on-disk warehouse)
    Sinks.writeBucketed(
      Tables.orders(spark, sf), "bk_orders", "o_orderkey", 4)
    Sinks.writeBucketed(
      Tables.lineitem(spark, sf).withColumnRenamed("l_orderkey", "o_orderkey"),
      "bk_lineitem", "o_orderkey", 4)
    // the test tables are tiny enough to auto-broadcast (also shuffle-
    // free); disable that to expose the bucketed sort-merge path a 100 TB
    // fact-to-fact join would take
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("bk_orders")
        .join(spark.table("bk_lineitem"), "o_orderkey")
      // co-located buckets: the sort-merge join plans with zero Exchanges
      val plan = joined.queryExecution.sparkPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(1500))
      assert(!plan.contains("Exchange"), plan.take(1500))
      assert(joined.count() == Tables.lineitem(spark, sf).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketed flagship: channel aggs + multiway left join, zero Exchange") {
    // the loan_detail join topology (per-channel groupBy + chained left
    // joins, LoanDetail.pipeline) over inputs written by writeBucketed on
    // the join key: every groupBy and every join reuses the bucket
    // partitioning, so the whole pipeline plans WITHOUT a single shuffle
    // — the standing shape for a fact table every job joins on one key
    Sinks.writeBucketed(Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_totalprice")),
      "bf_orders", "o_orderkey", 4)
    Sinks.writeBucketed(Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("o_orderkey"), col("l_extendedprice"),
        col("l_discount"), col("l_returnflag"), col("l_shipdate")),
      "bf_lineitem", "o_orderkey", 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val li = spark.table("bf_lineitem")
      def channel(flag: String, sfx: String) =
        li.filter(col("l_returnflag") === flag)
          .groupBy("o_orderkey")
          .agg(sum(col("l_extendedprice") * (lit(1d) - col("l_discount")))
            .as(s"paid$sfx"), max(col("l_shipdate")).as(s"last$sfx"))
      val joined = spark.table("bf_orders")
        .join(channel("N", "Arcus"), Seq("o_orderkey"), "left")
        .join(channel("R", "Stripe"), Seq("o_orderkey"), "left")
        .join(channel("A", "Cash"), Seq("o_orderkey"), "left")
      val plan = joined.queryExecution.sparkPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(2000))
      assert(!plan.contains("Exchange"), plan.take(2000))
      assert(joined.count() == Tables.orders(spark, sf).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("partition pruning: a month filter scans exactly one partition") {
    val dir = tmp("prune")
    val df = Tables.orders(spark, sf)
      .withColumn("om", date_format(col("o_orderdate"), "yyyy-MM"))
    Sinks.refreshPartitions(df, dir, "om")
    val aMonth = spark.read.parquet(dir)
      .select("om").distinct().orderBy("om").head.getString(0)
    val pruned = spark.read.parquet(dir).filter(col("om") === aMonth)
    val scan = pruned.queryExecution.executedPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .head
    // the filter must prune at the DIRECTORY level, not scan-then-filter:
    // that's the property that makes month-refresh layouts cheap to read
    // back at 100 TB of history
    assert(scan.metadata("PartitionFilters").contains("om"),
      scan.metadata("PartitionFilters"))
    assert(scan.selectedPartitions.partitionCount == 1,
      s"expected 1 partition, scanned ${scan.selectedPartitions.partitionCount}")
    assert(pruned.count() > 0)
  }

  test("S3/S5 csv and json scans roundtrip") {
    val dir = tmp("scan")
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    df.write.option("header", "true").csv(s"$dir/c")
    df.write.json(s"$dir/j")
    val csv = spark.read.option("header", "true")
      .option("inferSchema", "true").csv(s"$dir/c")
    val json = spark.read.json(s"$dir/j")
    assert(csv.orderBy("id").collect().map(_.getString(1)).toSeq
      == Seq("a", "b"))
    assert(json.select("id", "name").orderBy("id").as[(Long, String)]
      .collect().toSeq == Seq((1L, "a"), (2L, "b")))
  }

  test("ORC scan/sink roundtrip (columnar alternative to parquet)") {
    // the ORC reader is vectorized + predicate-pushing like parquet, so
    // a warehouse standardized on ORC gets the same scan behavior
    val dir = tmp("orc")
    Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_quantity", "l_returnflag")
      .write.orc(s"$dir/li")
    val back = spark.read.orc(s"$dir/li")
    assert(back.count() == Tables.lineitem(spark, sf).count())
    val scan = back.filter(col("l_returnflag") === "R")
      .queryExecution.sparkPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_returnflag), " +
      "EqualTo(l_returnflag,R)]"), scan.take(600))
  }

  test("S14 snapshots: versioned publish, retention prune, stable reads") {
    import spark.implicits._
    val root = tmp("snap") + "/t"
    // four publishes at keep=3: v1 must be pruned, v2-v4 retained
    (1 to 4).foreach { i =>
      val v = Sinks.writeSnapshot(
        Seq.fill(i)(i.toLong).toDF("x"), root, keep = 3)
      assert(v == i.toLong)
    }
    assert(Sinks.currentVersion(spark, root).contains(4L))
    assert(Sinks.readLatestSnapshot(spark, root).count() == 4)
    assert(Sinks.readSnapshot(spark, root, 2).count() == 2)
    val kept = new java.io.File(root).listFiles()
      .map(_.getName).filter(_.startsWith("v=")).sorted.toSeq
    assert(kept == Seq("v=2", "v=3", "v=4"))
    // a reader that resolved the pointer before a publish still reads
    // its immutable snapshot afterwards
    val pinned = Sinks.readSnapshot(spark, root, 3)
    Sinks.writeSnapshot(Seq(9L).toDF("x"), root, keep = 3)
    assert(pinned.count() == 3)
    assert(Sinks.readLatestSnapshot(spark, root).count() == 1)
  }

  test("S14 retention never prunes the version it just published") {
    import spark.implicits._
    val root = tmp("snappin") + "/t"
    // five publishes at keep=2 prune v1-v3 (and release their claims)
    (1 to 5).foreach { i =>
      Sinks.writeSnapshot(Seq(i.toLong).toDF("x"), root, keep = 2)
    }
    // regress the pointer so the NEXT publish allocates a low version
    // number that sorts below the retained v4/v5 — the shape a slow
    // publisher racing faster ones produces
    val ptr = java.nio.file.Paths.get(root, "_LATEST")
    java.nio.file.Files.write(ptr, "0".getBytes("UTF-8"))
    // writing around the Hadoop FS leaves a stale .crc sidecar behind —
    // drop it so the next read doesn't fail checksum verification
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(root, "._LATEST.crc"))
    val v = Sinks.writeSnapshot(Seq(42L).toDF("x"), root, keep = 2)
    assert(v < 4L, s"expected a low reallocated version, got $v")
    // the just-published (and pointer-targeted) version must survive its
    // own retention pass even though it sorts below the newest `keep`
    assert(Sinks.currentVersion(spark, root).contains(v))
    assert(Sinks.readLatestSnapshot(spark, root)
      .as[Long].collect().toSeq == Seq(42L))
  }

  test("S14 crashed-claim orphans are swept once retention runs") {
    import spark.implicits._
    val root = tmp("snaporphan") + "/t"
    new java.io.File(root).mkdirs()
    // a crash between claim and write leaves a claim with no data dir
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "_CLAIM.v=1"), Array.empty[Byte])
    // publishes skip the claimed number, then retention's orphan sweep
    // (active once versions fall below the floor) removes the marker
    (1 to 4).foreach { i =>
      Sinks.writeSnapshot(Seq(i.toLong).toDF("x"), root, keep = 2)
    }
    val names = new java.io.File(root).listFiles().map(_.getName).toSet
    assert(!names.contains("_CLAIM.v=1"), names.mkString(", "))
    assert(!names.contains("v=1")) // the number was never reused for data
  }

  test("S14 stray non-numeric v=* entries are ignored, not fatal") {
    import spark.implicits._
    val root = tmp("snapstray") + "/t"
    Sinks.writeSnapshot(Seq(1L).toDF("x"), root, keep = 2)
    // an editor artifact / half-renamed dir with a non-numeric suffix
    // must not crash version listing, retention, or the next publish
    new java.io.File(root, "v=tmp").mkdirs()
    val v = Sinks.writeSnapshot(Seq(2L).toDF("x"), root, keep = 2)
    assert(v == 2L)
    assert(Sinks.readLatestSnapshot(spark, root)
      .as[Long].collect().toSeq == Seq(2L))
    // the stray survives untouched (never mistaken for a version)
    assert(new java.io.File(root, "v=tmp").exists())
  }

  test("S14 a failed write releases its claim for the retry") {
    import spark.implicits._
    val root = tmp("snapfail") + "/t"
    Sinks.writeSnapshot(Seq(1L).toDF("x"), root, keep = 3)
    val boom = Seq(1L).toDF("x")
      .select(org.apache.spark.sql.functions.expr(
        "raise_error('simulated write failure')").as("x"))
    intercept[Exception] { Sinks.writeSnapshot(boom, root, keep = 3) }
    // the aborted publish must not leave its claim behind: the retry
    // reuses the same version number instead of skipping forward
    val v = Sinks.writeSnapshot(Seq(2L).toDF("x"), root, keep = 3)
    assert(v == 2L)
  }

  test("streaming count snapshots: incremental merge, versioned publish") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val base = tmp("snapstream")
    val (src, ckpt, root) = (s"$base/src", s"$base/ckpt", s"$base/snap")
    val schema = StructType(Seq(StructField("k", StringType),
      StructField("v", LongType)))
    def drain(): Unit = Sinks.streamingCountSnapshots(
      spark, src, schema, ckpt, root, "k")

    Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("k", "v")
      .write.mode("append").parquet(src)
    drain()
    val s1 = Sinks.readLatestSnapshot(spark, root)
      .as[(String, Long)].collect().toMap
    assert(s1 == Map("a" -> 2L, "b" -> 1L))

    // second wave touches only `a` and adds `c`; `b`'s total must
    // survive the merge untouched
    Seq(("a", 4L), ("c", 5L)).toDF("k", "v")
      .write.mode("append").parquet(src)
    drain()
    val s2 = Sinks.readLatestSnapshot(spark, root)
      .as[(String, Long)].collect().toMap
    assert(s2 == Map("a" -> 3L, "b" -> 1L, "c" -> 1L))
    assert(Sinks.currentVersion(spark, root).exists(_ >= 2L))

    // null keys in consecutive drains: the merge must REPLACE the null
    // row (null-safe anti-join), not accumulate a stale copy per drain
    Seq((null.asInstanceOf[String], 6L)).toDF("k", "v")
      .write.mode("append").parquet(src)
    drain()
    Seq((null.asInstanceOf[String], 7L)).toDF("k", "v")
      .write.mode("append").parquet(src)
    drain()
    val s3 = Sinks.readLatestSnapshot(spark, root).collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(s3 == Map(Some("a") -> 3L, Some("b") -> 1L, Some("c") -> 1L,
      None -> 2L), s3.toString)
  }

  test("compaction collapses a fragmented dataset, data intact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact")
      .toString + "/t"
    val df = spark.range(0, 1000).toDF("id")
    df.repartition(20).write.parquet(dir)
    def nFiles = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(nFiles == 20)
    val after = sources.Sinks.compact(spark, dir, targetFileBytes = 1L << 30)
    assert(after == 1 && nFiles == 1, s"after=$after files=$nFiles")
    assert(spark.read.parquet(dir).agg(sum(col("id"))).head().getLong(0)
      == 499500L)
    // idempotent: already compact → untouched
    assert(sources.Sinks.compact(spark, dir, 1L << 30) == 1)
  }

  test("compaction refuses a partitioned dataset (layout preservation)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_p")
      .toString + "/t"
    spark.range(0, 100).toDF("id")
      .withColumn("part", col("id") % 2)
      .write.partitionBy("part").parquet(dir)
    val e = intercept[IllegalArgumentException] {
      sources.Sinks.compact(spark, dir, 1L << 30)
    }
    assert(e.getMessage.contains("partitioned"), e.getMessage)
    // per-partition compaction is the sanctioned path
    assert(sources.Sinks.compact(spark, s"$dir/part=0", 1L << 30) == 1)
  }

  test("compaction refuses to run over a crashed prior swap") {
    val base = java.nio.file.Files.createTempDirectory("graft_compact_b")
      .toString
    val dir = base + "/t"
    spark.range(0, 100).toDF("id").repartition(4).write.parquet(dir)
    // simulate a prior run that died between its two renames
    new java.io.File(dir + "__compact_old").mkdirs()
    val e = intercept[IllegalArgumentException] {
      sources.Sinks.compact(spark, dir, 1L << 30)
    }
    assert(e.getMessage.contains("crashed mid-swap"), e.getMessage)
    // the dataset was not touched
    assert(spark.read.parquet(dir).count() == 100)
  }
}
