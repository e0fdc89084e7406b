package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Generative pin for x70: over arbitrary corpora — tiny vocab
  * (worst-case shared shingles), near-dup plants, length spread hitting
  * the <3-token whole-text-shingle branch — the prefix+length-filtered
  * join must equal the brute-force all-pairs Jaccard ≥ 1/2 result
  * EXACTLY (filters are pruning rules, never semantics).
  */
class PrefixJaccardPropSpec extends SparkSpec {

  private val word: Gen[String] =
    Gen.oneOf("a", "b", "c", "d", "e", "f", "g", "h")

  private val doc: Gen[List[String]] = for {
    n <- Gen.frequency(1 -> Gen.const(1), 1 -> Gen.const(2),
      2 -> Gen.const(3), 8 -> Gen.chooseNum(4, 24))
    ws <- Gen.listOfN(n, word)
  } yield ws

  test("x70 equals brute-force all-pairs on arbitrary corpora") {
    GraftExtensions.install(spark)
    import spark.implicits._
    // fixed seeds: every run checks the same corpora
    for (k <- Seq(1L, 2L, 3L)) {
      val base = Gen.listOfN(30, doc).pureApply(Gen.Parameters.default,
        org.scalacheck.rng.Seed(k))
      // plant near-dups: copies of some docs with the last token changed,
      // and one exact duplicate, so a qualifying pair always exists
      val planted = base.take(6).map(ws => ws.dropRight(1) :+ "zz") :+
        base.head
      val all = (base ++ planted).zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
      val d = java.nio.file.Files.createTempDirectory("x70prop").toString
      all.map { case (id, t) => (id, t, "en", "synthetic", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$d/documents.parquet")
      val t = Tables.documents(spark, d)
        .withColumn("sh", expr("shingles3(text)"))
        .select(col("doc_id"), col("sh"))
      val brute = t.as("a").join(t.as("b"),
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          size(array_intersect(col("a.sh"), col("b.sh"))).cast("bigint")
            .as("inter"),
          size(col("a.sh")).cast("bigint").as("sa"),
          size(col("b.sh")).cast("bigint").as("sb"))
        .filter(col("inter") * 2 >= col("sa") + col("sb") - col("inter"))
        .select(col("doc_a"), col("doc_b"),
          (col("inter").cast("double") /
            (col("sa") + col("sb") - col("inter"))).as("jaccard"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
      val got = operators.DedupQueries.prefixJaccard(spark, d)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
      assert(got == brute, s"seed $k")
      // the planted exact duplicate must appear (non-vacuous corpus)
      assert(brute.nonEmpty, s"seed $k: no qualifying pairs")
      spark.catalog.clearCache()
    }
  }
}
