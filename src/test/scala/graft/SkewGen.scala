package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Test-scope generator for the SKEW STRESS dataset (BASELINE.md's
  * "skew stress" section): a documents/embeddings pair whose hot keys
  * are ≥ 100× the median bucket, so the uncapped LSH/Jaccard/near-dup
  * rows exhibit their known quadratic hot-bucket blowup while the
  * declared capped twins (x06c bandCap, x08c dfCap, x11c bucketCap)
  * hold their bounds. Deterministic (seeded md5 text, integer
  * embeddings), written once to the target dir in the sf* layout the
  * registry reads.
  *
  * Usage: sbt "Test/runMain graft.SkewGen /tmp/skewdata"
  *
  * Shape:
  *   - documents: `BaseDocs` unique docs (distinct md5-derived token
  *     streams — near-zero cross-collisions) plus `HotDocs` docs that
  *     all share ONE boilerplate body with a tiny per-doc suffix — every
  *     5-gram shingle of the shared body lands `HotDocs` docs in the
  *     same posting/band bucket (≈ 300× the singleton median).
  *   - embeddings: `BaseVecs` spread vectors (distinct md5 directions)
  *     plus `HotVecs` copies of one direction with a small per-vector
  *     jitter — one IVF bucket ends up ≥ 100× the median occupancy.
  */
object SkewGen {

  val BaseDocs = 20000
  val HotDocs = 8000
  val BaseVecs = 8000
  val HotVecs = 24000
  val Dims = 32

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/skewdata")
    val spark = HarnessSession.build()
    write(spark, out)
    spark.stop()
    println(s"[skewgen] wrote $out")
  }

  /** Idempotent build (also callable from specs). */
  def write(spark: SparkSession, out: String): Unit = {
    // unique docs: 40 md5-derived pseudo-words each — shingle sets are
    // effectively disjoint across docs, so every posting list is tiny
    val base = spark.range(BaseDocs.toLong)
      .withColumn("words", expr(
        """transform(sequence(1, 40),
          |  i -> substr(md5(concat('skew|', id, '|', i)), 1, 7))"""
          .stripMargin))
    // hot docs: one shared 60-word boilerplate + 2 distinguishing words
    val boiler = (1 to 60)
      .map(i => s"'b$i'").mkString("array(", ", ", ")")
    val hot = spark.range(HotDocs.toLong)
      .withColumn("words", expr(
        s"""concat($boiler,
           |  array(substr(md5(concat('hot|', id)), 1, 7),
           |        substr(md5(concat('hot2|', id)), 1, 7)))"""
          .stripMargin))
    base.select(col("id"), array_join(col("words"), " ").as("text"))
      .unionByName(hot.select((col("id") + BaseDocs).as("id"),
        array_join(col("words"), " ").as("text")))
      .select(col("id").as("doc_id"),
        col("text"),
        lit("en").as("lang"),
        // two sources so source-keyed rows keep >1 group
        when(col("id") % 2 === 0, "web").otherwise("books").as("source"),
        length(col("text")).cast("long").as("n_chars"))
      .repartition(8)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    // spread vectors: md5-derived integer coordinates in [-50, 50]
    val spreadVec = expr(
      s"""transform(sequence(1, $Dims), i -> CAST(
         |  CAST(conv(substr(md5(concat('v|', id, '|', i)), 1, 6), 16, 10)
         |    AS BIGINT) % 101 - 50 AS FLOAT))""".stripMargin)
    // hot vectors: EXACT duplicates of one direction (the embedding
    // shape of exact-dup documents) — k-means cannot split a
    // zero-variance cloud into distinct buckets (collapsed centroids
    // tie-break to one id), so ALL of them land in ONE IVF bucket
    val hotVec = expr(
      s"""transform(sequence(1, $Dims),
         |  i -> CAST(CASE WHEN i <= 4 THEN 40 ELSE 1 END AS FLOAT))"""
        .stripMargin)
    spark.range(BaseVecs.toLong)
      .select(col("id").as("vec_id"), spreadVec.as("embedding"))
      .unionByName(spark.range(HotVecs.toLong)
        .select((col("id") + BaseVecs).as("vec_id"), hotVec.as("embedding")))
      .select(col("vec_id"), col("embedding"),
        (col("vec_id") % 10).cast("int").as("label"))
      .repartition(8)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
  }
}
