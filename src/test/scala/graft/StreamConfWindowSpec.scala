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
}

object StreamConfWindowSpec {
  /** The user id whose rows wait at the gate. */
  val Held = -1L
  @volatile var open = new CountDownLatch(0)
}
