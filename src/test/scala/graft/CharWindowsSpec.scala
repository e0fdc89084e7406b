package graft

import org.apache.spark.sql.functions._

/** The native `char_windows(text, L)` (graft.functions.CharWindows)
  * must equal the built-in spelling it replaces in x100 —
  * `transform(sequence(1, length(text) − L + 1), i -> substring(text, i, L))`,
  * guarded to the empty array below L characters, where `sequence`
  * would count down — on the real corpus and on the character-counting
  * edge cases: BMP non-ASCII, supplementary-plane code points (one
  * character to `length`/`substring`, two UTF-16 units to the JVM),
  * text of exactly L, shorter, empty and NULL.
  */
class CharWindowsSpec extends SparkSpec {

  private def ref(len: Int) = expr(
    s"""CASE WHEN length(text) >= $len
         THEN transform(sequence(1, length(text) - ${len - 1}),
           i -> substring(text, i, $len))
         ELSE CAST(array() AS ARRAY<STRING>) END""")

  test("matches the built-in spelling on the sf0.001 corpus") {
    GraftExtensions.install(spark)
    val L = operators.DedupQueries.ExactSubstrLen
    val docs = Tables.documents(spark, sf)
      .select(ref(L).as("ref"), expr(s"char_windows(text, $L)").as("fast"))
    assert(docs.filter(col("ref") =!= col("fast")).count() == 0L)
    assert(docs.filter(size(col("fast")) > 0).count() > 0L)
  }

  test("edge cases: non-ASCII, supplementary plane, exactly L, short, " +
      "empty, NULL") {
    GraftExtensions.install(spark)
    import spark.implicits._
    val cases = Seq[(String, Int)](
      "abcdef" -> 3,                 // ASCII
      "héllo wörld ñ" -> 4,          // BMP, 2-byte UTF-8
      "日本語のテキストです" -> 3,        // BMP, 3-byte UTF-8
      "a𝔘b𝔘𝔘c" -> 2,                 // supplementary plane, 4-byte UTF-8
      "𝔘" -> 1,                      // one supplementary code point
      "𝔘𝔘" -> 2,                     // exactly L, all supplementary
      "abc" -> 3,                    // exactly L
      "ab" -> 3,                     // shorter than L
      "" -> 1,                       // empty
      "abcdef" -> 1)                 // L = 1: every character
    cases.foreach { case (t, len) =>
      val r = Seq(t).toDF("text")
        .select(ref(len).as("ref"), expr(s"char_windows(text, $len)"))
        .collect()(0)
      assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"text=[$t] len=$len ref=${r.getSeq[String](0)} " +
          s"fast=${r.getSeq[String](1)}")
    }
    val sup = Seq("a𝔘b").toDF("text")
      .select(expr("char_windows(text, 2)")).collect()(0).getSeq[String](0)
    assert(sup == Seq("a𝔘", "𝔘b"))
    assert(Seq("𝔘").toDF("text").select(expr("length(text)"))
      .collect()(0).getInt(0) == 1)
    val nul = Seq(Option.empty[String]).toDF("text")
      .select(expr("char_windows(text, 3)")).collect()(0)
    assert(nul.isNullAt(0))
  }

  test("a non-literal or non-positive length is rejected") {
    GraftExtensions.install(spark)
    import spark.implicits._
    val df = Seq("abc").toDF("text")
    intercept[Exception](df.select(expr("char_windows(text, length(text))"))
      .collect())
    intercept[Exception](df.select(expr("char_windows(text, 0)")).collect())
  }
}
