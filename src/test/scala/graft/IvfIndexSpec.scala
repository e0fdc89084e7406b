package graft

/** Persisted IVF index: build once, serve many. The serve path must
  * return exactly what the self-contained x12 computes, and the on-disk
  * assignment must be laid out one directory per bucket so probed-bucket
  * reads prune at the directory level.
  */
class IvfIndexSpec extends SparkSpec {

  test("searchIndex over a built index equals the self-contained x12") {
    val idx = java.nio.file.Files.createTempDirectory("ivf").toString
    operators.SimilarityQueries.buildIndex(spark, sf, idx)
    spark.catalog.clearCache()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "rank", "neighbor_id", "bucket").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
    val served = rows(
      operators.SimilarityQueries.searchIndex(spark, sf, idx))
    val selfContained = rows(
      SparkEntry.queries("x12_ann_ivf_search")(spark, sf))
    spark.catalog.clearCache()
    assert(served == selfContained)
    // bucket-partitioned layout on disk
    val parts = new java.io.File(s"$idx/assignment").listFiles()
      .filter(_.getName.startsWith("bucket="))
    assert(parts.length > 1, s"expected bucket=* dirs, got ${parts.length}")
  }

  test("serve-plan construction runs zero count() jobs") {
    // warm the artifacts so construction below is pure plan building
    operators.SimilarityQueries.prepareServe(spark, sf)
    spark.catalog.clearCache()
    val counts = jobStages {
      for (name <- Seq("x12s_ann_serve", "x85s_ivfpq_serve",
          "x87s_csls_serve", "x96s_negatives_serve",
          "x99s_coarse_route_serve")) {
        SparkEntry.queries(name)(spark, sf) // build the plan, no action
      }
    }.filter(_.contains("count at"))
    assert(counts.isEmpty,
      s"serve-plan construction ran ${counts.size} count() jobs")
    spark.catalog.clearCache()
  }

  test("building a self-contained IVF row's plan launches no Spark job") {
    // training, assignment and routing are all lazy plan fragments, so
    // every job belongs to the consumer's action
    val jobs = Seq("x10_ann_ivf_assign", "x12_ann_ivf_search",
        "x41_embed_dedup_clusters", "x85_ivfpq_search",
        "x99_ivf_coarse_route").map { name =>
      val stages = jobStages(SparkEntry.queries(name)(spark, sf))
      spark.catalog.clearCache()
      name -> stages
    }.filter(_._2.nonEmpty)
    assert(jobs.isEmpty, s"plan construction ran jobs: $jobs")
  }

  test("the zero vector routes to the lowest centroid id (the NaN-free " +
      "cosine contract)") {
    import spark.implicits._
    val e = operators.SimilarityQueries.quantizedCached(spark, sf)
    val cent = operators.SimilarityQueries.trainedCentroids(e)
    // a dead (all-zero) vector: sparkCos defines its cosine as 0 against
    // every centroid, so the argmax tie-break must pick the LOWEST c_id
    val dead = Seq((999999L, Seq.fill(64)(0L), 0L))
      .toDF("vec_id", "qe", "qn")
    val minCid = cent.agg(
      org.apache.spark.sql.functions.min("c_id")).head().getLong(0)
    val bucket = operators.SimilarityQueries.assignedBuckets(dead, cent)
      .select("bucket").head().getLong(0)
    spark.catalog.clearCache()
    assert(bucket == minCid, s"router picked $bucket, expected $minCid")
  }

  test("x99s: the coarse router layer is a persisted artifact — the " +
    "serve row runs zero compute jobs at plan construction and " +
    "its rows equal the declared x99's") {
    operators.SimilarityQueries.prepareServe(spark, sf)
    spark.catalog.clearCache()
    // the artifact exists beside the fine index in the versioned root
    val coarseDir = new java.io.File(
      operators.SimilarityQueries.serveRoot(sf) + "/coarse/centroids")
    assert(coarseDir.isDirectory, coarseDir.toString)
    // zero jobs at construction: no training folds, no counts, and no
    // schema-inference jobs either (artifact schemas come from the
    // parquet footers, read on the driver by Tables.parquet)
    val jobs =
      jobStages(SparkEntry.queries("x99s_coarse_route_serve")(spark, sf))
    assert(jobs.isEmpty, s"x99s plan construction ran jobs: $jobs")
    // identical rows to the declared x99 (build-time coarse training is
    // deterministic in the fine table, so persisting it changes nothing)
    def rows(name: String) = SparkEntry.queries(name)(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val served = rows("x99s_coarse_route_serve")
    spark.catalog.clearCache()
    assert(served == rows("x99_ivf_coarse_route"),
      "x99s drifted from the declared x99")
    spark.catalog.clearCache()
  }

  test("st17: streaming assignment state against frozen centroids " +
    "equals the per-bucket rollup of the declared x10 assignment") {
    // independent recomputation: micro-round x10's centroid_cos in the
    // JVM and fold the count/sum/min monoids per bucket
    val want = SparkEntry.queries("x10_ann_ivf_assign")(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("bucket"),
        math.floor(r.getAs[Double]("centroid_cos") * 1000000.0 + 0.5)
          .toLong))
      .groupBy(_._1).map { case (b, xs) =>
        val cs = xs.map(_._2)
        (b, cs.length.toLong, cs.sum, cs.min)
      }.toSet
    spark.catalog.clearCache()
    val got = SparkEntry.queries("st17_stream_ivf_assign")(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("n_vecs"),
        r.getAs[Long]("sum_cos_micro"), r.getAs[Long]("min_cos_micro")))
      .toSet
    assert(got == want)
  }
}
