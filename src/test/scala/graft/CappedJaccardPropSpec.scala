package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Generative pin for x08c's one-aggregation capped path: over seeded
  * corpora where the df cap bites — tiny vocabulary, so shingles recur
  * in more than `cap` documents of a block — with NULL `lang` rows,
  * NULL and spread `n_chars` (so blocks split and NULL blocks exist)
  * and documents shorter than 3 words (whole-text shingle), the engine
  * must equal the posting-list spelling it replaced, kept below as the
  * reference: df aggregation, `left_anti` against the hot set, posting
  * self-join, size joins. Same pairs, bit-identical jaccard.
  */
class CappedJaccardPropSpec extends SparkSpec {

  private val word: Gen[String] = Gen.oneOf("a", "b", "c", "d", "e")

  private val row: Gen[(String, Option[String], Option[Long])] = for {
    n <- Gen.frequency(1 -> Gen.const(1), 1 -> Gen.const(2),
      6 -> Gen.chooseNum(3, 9))
    ws <- Gen.listOfN(n, word)
    lang <- Gen.frequency(4 -> Gen.const(Some("en")),
      2 -> Gen.const(Some("de")), 1 -> Gen.const(None))
    chars <- Gen.frequency(4 -> Gen.const(Some(30L)),
      2 -> Gen.const(Some(250L)), 1 -> Gen.const(None))
  } yield (ws.mkString(" "), lang, chars)

  /** The pre-aggregation x08c spelling. */
  private def reference(d: String, cap: Int): DataFrame = {
    val docs = Tables.documents(spark, d)
      .withColumn("sh", expr("shingles3(text)"))
      .select(col("doc_id"), col("lang"),
        expr("n_chars div 200").as("bkt"), col("sh"))
    val sizes = docs.select(col("doc_id"), size(col("sh")).as("sz"))
    val full = docs.select(col("doc_id"), col("lang"), col("bkt"),
      explode(col("sh")).as("shingle"))
    val hot = full.groupBy(col("shingle"), col("lang"), col("bkt"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > cap)
      .select("shingle", "lang", "bkt")
    val posting = full.join(hot, Seq("shingle", "lang", "bkt"), "left_anti")
    posting.as("a").join(posting.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.lang") === col("b.lang") &&
          col("a.bkt") === col("b.bkt") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (col("sa.sz") + col("sb.sz") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= 0.05d)
  }

  private def rows(df: DataFrame): Map[(Long, Long), Double] =
    df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap

  test("x08c's capped aggregation equals the posting self-join spelling") {
    GraftExtensions.install(spark)
    import spark.implicits._
    var bites = 0
    // fixed seeds: every run checks the same corpora
    for (k <- Seq(1L, 2L, 3L); cap <- Seq(2, 3)) {
      val corpus = Gen.listOfN(40, row).pureApply(Gen.Parameters.default,
        org.scalacheck.rng.Seed(k))
      val d = java.nio.file.Files.createTempDirectory("x08cprop").toString
      corpus.zipWithIndex
        .map { case ((t, lang, chars), i) =>
          (i.toLong, t, lang, "synthetic", chars) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$d/documents.parquet")
      val got = operators.DedupQueries.ngramJaccard(spark, d, Some(cap))
      def types(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)
      assert(types(got) == types(reference(d, cap)), s"seed $k cap $cap")
      val want = rows(reference(d, cap))
      assert(rows(got) == want, s"seed $k cap $cap")
      assert(want.nonEmpty, s"seed $k cap $cap: no pairs")
      if (want != rows(reference(d, Int.MaxValue))) bites += 1
      spark.catalog.clearCache()
    }
    assert(bites > 0, "the cap never changed the result")
  }
}
