package graft

import org.apache.spark.sql.AnalysisException

/** [[Tables.parquet]]: the footer-read schema is the schema Spark's own
  * inference gives, a table load launches no Spark job, and there is no
  * schema cache — a rewritten file is read with its new schema, and a
  * column it lost fails analysis instead of coming back as NULLs.
  */
class TablesParquetSpec extends SparkSpec {

  test("footer schema equals spark.read.parquet's inferred schema") {
    // the session flag Tables.events sets; both reads see it
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tables = QueryDef.tableNames.map(t => s"$sf/$t.parquet")
    // a Spark-written serve-artifact directory (_SUCCESS, .crc siblings)
    operators.GraphServe.prepare(spark, sf)
    val artifact = s"${operators.GraphServe.root(sf)}/transition"
    assert(new java.io.File(artifact).isDirectory, artifact)
    for (p <- tables :+ artifact)
      assert(Tables.parquet(spark, p).schema ==
        spark.read.parquet(p).schema, p)
    spark.catalog.clearCache()
  }

  test("Tables.byName launches no Spark job for any table") {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        j.stageInfos.map(_.name).foreach(jobs.add)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      QueryDef.tableNames.foreach(t => Tables.byName(spark, sf, t).schema)
      org.apache.spark.ListenerBusDrain.waitUntilEmpty(
        spark.sparkContext, 30000L)
      assert(jobs.isEmpty, s"table loads ran jobs: $jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a rewritten file loads with its new schema; a dropped column " +
    "fails analysis instead of reading as NULL") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("tables-rw").toString
    val path = s"$d/t.parquet"
    Seq((1L, "x", 2.5)).toDF("id", "name", "score")
      .write.mode("overwrite").parquet(path)
    assert(Tables.load(spark, d, "t").columns.toSeq ==
      Seq("id", "name", "score"))
    Seq((1L, 2.5)).toDF("id", "score").write.mode("overwrite").parquet(path)
    val reloaded = Tables.load(spark, d, "t")
    assert(reloaded.columns.toSeq == Seq("id", "score"))
    assert(reloaded.collect().map(r => (r.getLong(0), r.getDouble(1)))
      .toSeq == Seq((1L, 2.5)))
    intercept[AnalysisException](reloaded.select("name"))
  }
}
