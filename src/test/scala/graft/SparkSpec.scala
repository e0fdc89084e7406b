package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared test session: `local[4]` with the harness confs. The session
  * is `getOrCreate`d, so every suite in the JVM shares it, and the first
  * one fixes the static confs for all of them.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = HarnessSession.build(4)

  val sf: String = "/root/testdata/sf0.001"
}
