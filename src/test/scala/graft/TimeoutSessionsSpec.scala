package graft

import org.apache.spark.sql.functions._

/** Event-time-timeout session assembly (st05): watermark-closed sessions
  * must emit, and every emitted session must be internally consistent and
  * agree with batch gap-sessionization on the closed (non-tail) region.
  */
class TimeoutSessionsSpec extends SparkSpec {

  lazy val out = SparkEntry
    .queries("st05_stream_timeout_sessions")(spark, sf).cache()

  test("watermark-closed sessions emit") {
    assert(out.count() > 0)
  }

  test("sessions are well-formed") {
    assert(out.filter(col("session_end") < col("session_start"))
      .count() == 0)
    assert(out.filter(col("n_events") < 1).count() == 0)
  }

  test("cross-batch late events split or extend sessions per batch semantics") {
    import spark.implicits._
    // three micro-batches (maxFilesPerTrigger = 1, files ordered by
    // mtime) exercising the two cross-batch out-of-order shapes the
    // single-batch drain never does:
    //  u1: open session (11:40, 12:00) then a LATE 11:20 within gap of
    //      the session START → must extend the session backward
    //  u3: open session at 12:05 then a LATE 11:15, > gap before the
    //      start → must emit (11:15) as its own closed session, NOT
    //      weld it in (the old fold compared against session END only,
    //      where 11:15 looked adjacent)
    val watch = java.nio.file.Files
      .createTempDirectory("st05_multibatch").toString
    def t(hhmm: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $hhmm:00")
    def ship(i: Int, rows: Seq[(Long, java.sql.Timestamp)]): Unit = {
      val tmp = java.nio.file.Files
        .createTempDirectory(s"st05_b$i").toString
      rows.toDF("user_id", "ts").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$watch/b$i.parquet"))
      Thread.sleep(1100) // distinct mtimes → deterministic batch order
    }
    ship(1, Seq((1L, t("11:40")), (1L, t("12:00")), (3L, t("12:05"))))
    ship(2, Seq((1L, t("11:20")), (3L, t("11:15"))))
    ship(3, Seq((1L, t("20:00")), (3L, t("20:00"))))
    val stream = spark.readStream
      .schema("user_id LONG, ts TIMESTAMP")
      .option("maxFilesPerTrigger", 1)
      .parquet(watch)
    val emitted = streaming.EventStream.runToMemory(spark,
      streaming.EventStream.timeoutSessions(stream).toDF())
      .select(col("user_id"),
        date_format(col("session_start"), "HH:mm").as("s"),
        date_format(col("session_end"), "HH:mm").as("e"),
        col("n_events"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSet
    val expected = Set(
      (1L, "11:20", "12:00", 3L), // extended backward by the late event
      (3L, "11:15", "11:15", 1L), // own closed session, not welded
      (3L, "12:05", "12:05", 1L)) // closed by the 20:00 gap
    assert(emitted == expected,
      s"emitted $emitted\nexpected $expected")
  }

  test("closed region equals batch gap-sessionization exactly") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts")
    val events = Tables.events(spark, sf)
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"))
    val gapUs = 30 * 60000000L
    val sessions = events
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn("is_new",
        when(col("prev").isNull ||
          (unix_micros(col("ts")) - unix_micros(col("prev"))) > gapUs, 1)
          .otherwise(0))
      .withColumn("seq", sum(col("is_new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "seq")
      .agg(min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"), count(lit(1)).as("n_events"))
    val maxUs = events.agg(max(unix_micros(col("ts")))).head.getLong(0)
    // same closed-region bound as the declared query + its oracle
    val expected = sessions
      .filter(unix_micros(col("session_end")) <
        maxUs - 3600000000L - gapUs - 1000000L)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"))
    val got = out.select(col("user_id"),
      col("session_start").cast("timestamp").as("session_start"),
      col("session_end").cast("timestamp").as("session_end"),
      col("n_events"))
    val missing = expected.exceptAll(got)
    val phantom = got.exceptAll(expected)
    assert(missing.count() == 0, "missing: " +
      missing.take(3).mkString("\n"))
    assert(phantom.count() == 0, "phantom: " +
      phantom.take(3).mkString("\n"))
  }
}
