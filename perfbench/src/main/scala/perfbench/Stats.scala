package perfbench

/** Order statistics used by the reports. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** One pass's wall time, estimated as the sum over ops of each op's
    * median latency (the repo's `Bench` rule): one slow sample of one op
    * does not move it, as it would a single pass's wall time.
    */
  def passSeconds(ops: Seq[OpResult]): Double =
    ops.groupBy(_.name).values.map(rs => median(rs.map(_.wallMs))).sum / 1000.0

  /** Smallest sample count for which the nearest-rank `p`-th percentile
    * has at least `beyond` samples above it.
    */
  def samplesNeeded(p: Double, beyond: Int = 10): Int =
    Iterator.from(1).find(n => n - rank(p, n) >= beyond).get

  /** Nearest-rank percentile, or None when fewer than `beyond` samples
    * lie above the reported one: a p90 over 20 samples would be the
    * second-largest value, not a percentile.
    */
  def percentile(xs: Seq[Double], p: Double,
      beyond: Int = 10): Option[Double] = {
    val n = xs.length
    if (n == 0 || n - rank(p, n) < beyond) None
    else Some(xs.sorted.apply(rank(p, n) - 1))
  }

  /** 1-based nearest rank of the `p`-th percentile among `n` samples. */
  private def rank(p: Double, n: Int): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)
}
