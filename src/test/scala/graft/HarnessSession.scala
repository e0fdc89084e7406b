package graft

import org.apache.spark.sql.SparkSession

/** The ONE definition of the measurement harness's session config, so
  * the measured-clean configuration (registry-sized codegen cache,
  * artifact isolation off; Bench.scala's scaladoc carries the r11
  * forensics for both) cannot drift between the specs and the probe.
  * Callers: `SparkSpec` (the specs' shared `local[4]` session), `Probe`
  * (one session per run, one per row in `scale` mode), `ScaleGen` and
  * `SkewGen`.
  *
  * Three builders keep their own session, each for a reason:
  *   - `Bench` and `Verify`: the driver contract, not edited; Bench's
  *     confs are also env-overridable for A/B forensics, which this
  *     deliberately is not.
  *   - `CacheEvictionSpec`: its squeezed executor memory is the test.
  */
object HarnessSession {

  def build(cpus: Int = 32): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", 8192)
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The 20 GiB line under which large-multiplier cells re-measure the
    * harness's own old-gen pressure instead of the algorithm
    * (SCALE.md round 11: the super-linear share moved with memory at
    * constant code). Callers warn-and-proceed; the documented launch
    * config is SPARK_DRIVER_MEM=24g.
    */
  def smallHeap: Boolean =
    Runtime.getRuntime.maxMemory < 20L * 1024 * 1024 * 1024
}
