package graft

/** Facade smoke: registry rows run by name and return rows. */
class GraftSpec extends SparkSpec {
  test("facade entry points return rows") {
    val rdds = spark.sparkContext.getPersistentRDDs.keySet
    Seq("x05_dedup_exact", "x01_text_tokens", "x12_ann_ivf_search",
      "x89_srp_lsh_ann", "x82_pq_adc_search", "mm02_frame_sample",
      "u06_calendar_dim", "j01_inner_join").foreach { name =>
      assert(Graft.runScoped(name, spark, sf)(_.count()) > 0, name)
    }
    val left = spark.sparkContext.getPersistentRDDs.keySet -- rdds
    assert(left.isEmpty, s"scoped runs left persisted RDDs $left")
  }

  test("registerTables enables ad-hoc SQL incl. the dot_long extension") {
    Graft.registerTables(spark, sf)
    val joined = spark.sql(
      """SELECT o_orderkey, sum(l_quantity) AS qty
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         GROUP BY 1""")
    assert(joined.count() > 0)
    val dot = spark.sql(
      """SELECT dot_long(
           transform(embedding, x -> CAST(x * 1000 AS BIGINT)),
           transform(embedding, x -> CAST(x * 1000 AS BIGINT))) AS n
         FROM embeddings LIMIT 1""")
    assert(!dot.collect().head.isNullAt(0))
  }

  test("schemaDiff flags missing, retyped, and extra columns at plan time") {
    import org.apache.spark.sql.types._
    val expected = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_totalprice", DoubleType),
      StructField("o_missing", StringType)))
    val df = Tables.orders(spark, sf)
      .withColumn("o_totalprice",
        org.apache.spark.sql.functions.col("o_totalprice").cast("string"))
    val diff = functions.Quality.schemaDiff(
      df.select("o_orderkey", "o_totalprice", "o_orderstatus"), expected)
    assert(diff.exists(_.startsWith("missing column: o_missing")), diff)
    assert(diff.exists(_.startsWith("type mismatch: o_totalprice")), diff)
    assert(diff.exists(_.startsWith("unexpected column: o_orderstatus")),
      diff)
    // contract holds on the real table
    val ok = functions.Quality.schemaDiff(
      Tables.orders(spark, sf).select("o_orderkey"),
      StructType(Seq(StructField("o_orderkey", LongType))))
    assert(ok.isEmpty, ok)
  }
}
