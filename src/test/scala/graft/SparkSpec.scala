package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared test session: `local[4]` with the harness confs. The session
  * is `getOrCreate`d, so every suite in the JVM shares it, and the first
  * one fixes the static confs for all of them.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = HarnessSession.build(4)

  val sf: String = "/root/testdata/sf0.001"

  /** One entry per Spark job `body` launches: its stage names, which
    * carry the call site (`count at …`; stages that adaptive execution
    * submits from its own thread pool read `… at CompletableFuture.java`;
    * the job's `callSite.short` property is unset unless code calls
    * `setCallSite`, so it cannot tell jobs apart). The async listener
    * bus is drained before the listener is added and after `body`, not
    * slept on, so exactly `body`'s jobs are counted.
    */
  protected def jobStages(body: => Any): Seq[String] = {
    val sc = spark.sparkContext
    ListenerBusDrain.waitUntilEmpty(sc, 30000L)
    val stages = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        stages.add(j.stageInfos.map(_.name).distinct.mkString(", "))
    }
    sc.addSparkListener(listener)
    try {
      body
      ListenerBusDrain.waitUntilEmpty(sc, 30000L)
    } finally sc.removeSparkListener(listener)
    stages.asScala.toSeq
  }

  /** A one-`documents`-table corpus, one doc per text (source `src0`).
    * The table is one parquet FILE, the testdata layout: the st19
    * file-stream source globs on the leaf name, so a directory-shaped
    * fixture would silently stream nothing.
    */
  protected def corpusDir(texts: String*): String = {
    val s = spark
    import s.implicits._
    val d = java.nio.file.Files.createTempDirectory("corpus").toString
    val stage = s"$d/_stage"
    texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "src0") }
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars",
        org.apache.spark.sql.functions.length(
          org.apache.spark.sql.functions.col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$d/documents.parquet"))
    d
  }
}
