package graft

import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A drain leaves no listener bus behind: each streaming query runs on a
  * clone of the caller's session, whose streaming manager adds its own
  * bus to the SparkContext; `runToMemory` removes it once the query has
  * terminated. The caller's listeners still see every drain, because the
  * query posts its events through the caller's session.
  */
class StreamListenerBusSpec extends SparkSpec {

  test("three drains leave the context's streaming buses flat and the " +
      "caller's listener sees each drain's progress") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("drain_bus").toString + "/in"
    Seq(1L -> "view", 2L -> "click", 1L -> "view")
      .toDF("user_id", "event_type").write.parquet(dir)
    val started, progressed = new ConcurrentLinkedQueue[UUID]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit =
        started.add(e.runId)
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        progressed.add(e.progress.runId)
    }
    val sc = spark.sparkContext
    spark.streams.addListener(listener) // creates the caller's own bus
    try {
      val before = ListenerBusDrain.streamingQueryBuses(sc)
      (1 to 3).foreach { _ =>
        val stream = spark.readStream
          .schema("user_id LONG, event_type STRING").parquet(dir)
        val out = streaming.EventStream.runToMemory(spark,
          stream.groupBy("event_type").count(), statePartitions = 2)
        assert(out.count() == 2L)
      }
      ListenerBusDrain.waitUntilEmpty(sc, 60000)
      val after = ListenerBusDrain.streamingQueryBuses(sc)
      assert(after == before,
        s"$before streaming buses before three drains, $after after")
      assert(started.size == 3, started)
      assert(progressed.asScala.toSet == started.asScala.toSet,
        s"progress from ${progressed.asScala.toSet}, " +
          s"started ${started.asScala.toSet}")
    } finally spark.streams.removeListener(listener)
  }
}
