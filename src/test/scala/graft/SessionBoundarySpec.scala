package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The exact-gap boundary, pinned empirically: BOTH sessionizers merge an
  * event landing EXACTLY gap after the previous one — `session_window`'s
  * merge condition is `next.start <= current.end` (end-INCLUSIVE, despite
  * the half-open range representation), and the timeout assembly merges
  * on `delta <= gap`. The strict `>` in the st02/st05/e02 oracles is
  * therefore the correct new-session mark on both engines. Events in the
  * testdata never land exactly on the boundary, so only these pins keep
  * the spellings from silently drifting.
  */
class SessionBoundarySpec extends SparkSpec {

  private val t0 = Timestamp.valueOf("2001-01-01 00:00:00")
  private val t1 = Timestamp.valueOf("2001-01-01 00:30:00") // exactly gap
  private val t2 = Timestamp.valueOf("2001-01-01 10:00:00") // watermark push

  test("session_window merges an exact-gap pair (end-inclusive merge)") {
    import spark.implicits._
    val sessions = Seq((1L, t0), (1L, t1))
      .toDF("user_id", "ts")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .collect()
    assert(sessions.length == 1, sessions.mkString("; "))
    assert(sessions.head.getAs[Long]("n_events") == 2L)
    // merged session spans [t0, t1 + gap)
    val sw = sessions.head.getStruct(0)
    assert(sw.getAs[Timestamp]("start") == t0)
    assert(sw.getAs[Timestamp]("end") ==
      Timestamp.valueOf("2001-01-01 01:00:00"))
  }

  test("timeout-session assembly merges an exact-gap pair") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Timestamp)]
    // t2 advances the watermark to t2 - 1h = 09:00, past t1 + gap = 01:00,
    // so the (t0, t1) session must close and emit; t2's session stays open
    ms.addData((1L, t0), (1L, t1), (1L, t2))
    val sessions = streaming.EventStream.timeoutSessions(
      ms.toDF().toDF("user_id", "ts"))
    val out = streaming.EventStream.runToMemory(spark, sessions.toDF())
      .collect()
    assert(out.length == 1, out.mkString("; "))
    assert(out.head.getAs[Long]("n_events") == 2L)
    assert(out.head.getAs[Timestamp]("session_start") == t0)
    assert(out.head.getAs[Timestamp]("session_end") == t1)
  }
}
