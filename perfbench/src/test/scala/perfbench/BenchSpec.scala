package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", 2L)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  test("digest ignores row order and partitioning") {
    import spark.implicits._
    val rows = (1 to 200).map(i => (i.toLong, s"r$i", i * 0.5, Map(i -> i)))
    val a = rows.toDF("id", "s", "x", "m")
    val b = scala.util.Random.shuffle(rows).toDF("id", "s", "x", "m")
      .repartition(7).orderBy(desc("s"))
    assert(Digest.of(a) == Digest.of(b))
    assert(Digest.of(a).startsWith("200:"))
  }

  test("digest sees a changed value, a lost row and a duplicated row") {
    import spark.implicits._
    val a = (1 to 50).map(i => (i, s"v$i")).toDF("k", "v")
    val changed = a.withColumn("v",
      when(col("k") === 7, lit("other")).otherwise(col("v")))
    val lost = a.filter(col("k") =!= 7)
    val doubled = a.union(a.filter(col("k") === 7))
    Seq(changed, lost, doubled).foreach(d => assert(Digest.of(d) != Digest.of(a)))
  }

  test("digest of an empty frame is 0:0") {
    assert(Digest.of(spark.range(0).toDF("id")) == "0:0")
  }

  test("a percentile is reported only with 10 samples beyond it") {
    assert(Stats.samplesNeeded(90) == 100)
    assert(Stats.samplesNeeded(50) == 20)
    val xs = (1 to 99).map(_.toDouble)
    assert(Stats.percentile(xs, 90).isEmpty)
    assert(Stats.percentile(xs :+ 100.0, 90).contains(90.0))
    assert(Stats.percentile((1 to 19).map(_.toDouble), 50).isEmpty)
    assert(Stats.percentile((1 to 20).map(_.toDouble), 50).contains(10.0))
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  private def runner(expected: Map[String, String]) = new Runner(spark,
    "unused", Files.createTempDirectory("perfbench-spec").toFile,
    expected.get, recording = false)

  private def frameOp(name: String) =
    Op(name, _ => Digest.of(spark.range(10).toDF("id")))

  test("an op passes when its digest matches and nothing is left cached") {
    val r = runner(Map("ok" -> Digest.of(spark.range(10).toDF("id"))))
    assert(r.run(frameOp("ok"), 0).ok)
    assert((r.attempted, r.failed) == (1, 0))
  }

  test("an op that throws, mismatches or leaves RDDs cached fails") {
    val good = Digest.of(spark.range(10).toDF("id"))
    val r = runner(Map("throws" -> good, "mismatch" -> "10:0",
      "leaks" -> good, "unknown" -> good))
    val throws = r.run(Op("throws", _ => sys.error("boom")), 0)
    assert(!throws.ok && throws.error.contains("boom"))
    assert(!r.run(frameOp("mismatch"), 0).ok)
    val leaks = r.run(Op("leaks", { _ =>
      spark.sparkContext.parallelize(1 to 10).cache().count()
      good
    }), 0)
    assert(!leaks.ok && leaks.rddsLeft == 1)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(!r.run(frameOp("not-expected"), 0).ok)
    assert((r.attempted, r.failed) == (4, 4))
  }
}
