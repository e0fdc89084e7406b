package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.{Await, Promise}
import scala.concurrent.duration._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A drain's confs stay on its own query: while st06's drain shape
  * (`dedupKeys` on user_id/event_type at `statePartitions = 2`) runs on
  * one thread, the caller's session keeps its own shuffle partition
  * count, and the drain's state operator still runs at 2.
  *
  * The stream reads two files one per batch; the second file's rows
  * pass a gate that holds batch 1 until the checking thread has read the
  * conf, so the read lands while the drain is certainly running.
  *
  * Two drains on one session, each saving, setting and restoring the
  * confs around its `start()`, must leave the session's values as they
  * were, whatever the interleaving.
  */
class StreamConfWindowSpec extends SparkSpec {

  test("a drain's shuffle partitions do not leak into the caller's " +
      "session while it runs") {
    import spark.implicits._
    val key = "spark.sql.shuffle.partitions"
    val own = spark.conf.get(key)
    assert(own != "2", s"the session must not already run at 2: $own")
    val watch = java.nio.file.Files
      .createTempDirectory("drain_conf_window").toString
    def ship(i: Int, rows: Seq[(Long, String)]): Unit = {
      val tmp = java.nio.file.Files
        .createTempDirectory(s"drain_conf_b$i").toString
      rows.toDF("user_id", "event_type").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$watch/b$i.parquet"))
      Thread.sleep(1100) // distinct mtimes → deterministic batch order
    }
    ship(0, Seq(1L -> "view", 2L -> "click", 1L -> "view"))
    ship(1, Seq(StreamConfWindowSpec.Held -> "view", 3L -> "buy"))

    val seen = Promise[(String, Seq[Int])]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0)
          seen.trySuccess((spark.conf.get(key),
            e.progress.stateOperators.map(_.numShufflePartitions.toInt)
              .toSeq))
    }
    val gate = udf { (uid: Long) =>
      if (uid == StreamConfWindowSpec.Held)
        StreamConfWindowSpec.open.await(120, TimeUnit.SECONDS)
      true
    }
    val stream = spark.readStream
      .schema("user_id LONG, event_type STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(watch)
      .filter(gate(col("user_id")))
    StreamConfWindowSpec.open = new CountDownLatch(1)
    spark.streams.addListener(listener)
    try {
      val drain = scala.concurrent.Future(streaming.EventStream.runToMemory(
        spark, streaming.EventStream.dedupKeys(stream,
          Seq("user_id", "event_type")), statePartitions = 2).count())(
        scala.concurrent.ExecutionContext.global)
      val (during, partitions) =
        try Await.result(seen.future, 120.seconds)
        finally StreamConfWindowSpec.open.countDown()
      assert(Await.result(drain, 120.seconds) == 4L)
      assert(during == own,
        s"the caller's session ran at $during during the drain, not $own")
      assert(partitions.nonEmpty && partitions.forall(_ == 2),
        s"the drain's state operators ran at $partitions, not 2")
      assert(spark.conf.get(key) == own)
    } finally spark.streams.removeListener(listener)
  }

  test("two concurrent drains leave the caller's confs as they were") {
    import spark.implicits._
    val key = "spark.sql.shuffle.partitions"
    val keys = Seq(key, "spark.sql.streaming.noDataMicroBatches.enabled",
      "spark.sql.streaming.stateStore.providerClass")
    val own = spark.conf.get(key)
    assert(!Set("2", "3")(own), s"the session must not run at 2 or 3: $own")
    val before = keys.map(k => k -> spark.conf.getOption(k))
    val dir = java.nio.file.Files
      .createTempDirectory("drain_conf_pair").toString + "/in"
    Seq(1L -> "view", 2L -> "click", 1L -> "view")
      .toDF("user_id", "event_type").write.parquet(dir)
    def drain(partitions: Int) = scala.concurrent.Future {
      val stream = spark.readStream
        .schema("user_id LONG, event_type STRING").parquet(dir)
      streaming.EventStream.runToMemory(spark, streaming.EventStream
        .dedupKeys(stream, Seq("user_id", "event_type")), partitions).count()
    }(scala.concurrent.ExecutionContext.global)
    def holdUntil(p: String => Boolean): Unit = {
      val until = System.nanoTime() + 3000L * 1000000L
      while (!p(spark.conf.get(key)) && System.nanoTime() < until)
        Thread.sleep(10)
    }
    // onQueryStarted runs on the query thread before start() returns, so
    // it can hold a drain inside its conf window. Without a window lock
    // this forces the losing order: A sets 2; B saves A's 2 and sets 3;
    // A restores; B restores 2. With the lock B waits for A's window to
    // close, and each hold below times out instead.
    val insideA = new CountDownLatch(1)
    val hold = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit =
        spark.conf.get(key) match {
          case "2" => insideA.countDown(); holdUntil(_ == "3")
          case "3" => holdUntil(_ == own)
          case _   => ()
        }
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(hold)
    try {
      val a = drain(2)
      assert(insideA.await(120, TimeUnit.SECONDS), "drain A never started")
      val b = drain(3)
      assert(Await.result(a, 120.seconds) == 2L)
      assert(Await.result(b, 120.seconds) == 2L)
    } finally spark.streams.removeListener(hold)
    // and unforced: pairs started together, as two clients would
    (1 to 3).foreach { _ =>
      val pair = Seq(drain(2), drain(3))
      pair.foreach(f => assert(Await.result(f, 120.seconds) == 2L))
    }
    assert(keys.map(k => k -> spark.conf.getOption(k)) == before)
  }
}

object StreamConfWindowSpec {
  /** The user id whose rows wait at the gate. */
  val Held = -1L
  @volatile var open = new CountDownLatch(0)
}
