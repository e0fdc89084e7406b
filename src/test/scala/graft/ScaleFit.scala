package graft

/** Scaling exponents from per-size min wall times, for `Probe scale`.
  * Sizes are multipliers `m` of one generated distribution ([[ScaleGen]])
  * and `t` the matching times, both ascending in `m`. [[beta]] picks the
  * estimator by the number of sizes:
  *
  *   - 2: the doubling exponent `log(t2/t1) / log(m2/m1)` — end to end,
  *     so biased down by fixed costs unless both sizes are large;
  *   - 3: [[marginalBeta]], the exponent of the VARIABLE term under
  *     t(m) = c + k·m^β (the fixed cost c cancels in the differences).
  *     For multipliers 1/4/10 the slope ratio reads 2.0 at β = 1 and 5.6
  *     at β = 2 — the number that says whether a row survives 100×;
  *   - 4+: the least-squares [[fitBeta]], whose residual degrees of
  *     freedom the 3-point differencing lacks, plus the jackknife
  *     [[betaSpread]] across leave-out triples.
  */
object ScaleFit {

  def beta(m: Seq[Double], t: Seq[Double]): Double = m.length match {
    case 2 => math.log(t(1) / t(0)) / math.log(m(1) / m(0))
    case 3 => marginalBeta(m, t)
    case _ => fitBeta(m, t)._1
  }

  /** Fit t(m) = c + k·m^β over N ≥ 3 points by grid-refined least
    * squares: for a fixed β the (c, k) minimizers are the ordinary
    * 2-variable normal equations over x = m^β, so the scan is linear
    * in the grid. Returns (β, k, rmse); β = NaN when the best fit
    * wants k ≤ 0 (times don't grow — variable term below noise).
    * With 4+ points the fit has residual degrees of freedom, which is
    * what separates a real super-linear term from one noisy cell —
    * the r10 records flipped x96/x41/x71/x46 between records because
    * 3 points + differencing have zero dof.
    */
  def fitBeta(m: Seq[Double], t: Seq[Double]): (Double, Double, Double) = {
    require(m.length >= 3 && m.length == t.length)
    def solve(b: Double): (Double, Double, Double) = { // (sse, c, k)
      val x = m.map(math.pow(_, b))
      val n = x.length.toDouble
      val sx = x.sum; val sxx = x.map(v => v * v).sum
      val st = t.sum
      val sxt = x.zip(t).map { case (a, c) => a * c }.sum
      val det = n * sxx - sx * sx
      if (math.abs(det) < 1e-12) return (Double.MaxValue, 0, 0)
      val k = (n * sxt - sx * st) / det
      val c = (st - k * sx) / n
      val sse = t.zip(x).map { case (tv, xv) =>
        val e = tv - (c + k * xv); e * e }.sum
      (sse, c, k)
    }
    var best = (Double.MaxValue, 0.0, 0.0, 0.0) // (sse, beta, c, k)
    var b = 0.05
    while (b <= 4.0 + 1e-9) {
      val (sse, c, k) = solve(b)
      if (sse < best._1) best = (sse, b, c, k)
      b += 0.005
    }
    val rmse = math.sqrt(best._1 / m.length)
    if (best._4 <= 0) (Double.NaN, best._4, rmse)
    else (best._2, best._4, rmse)
  }

  /** Jackknife spread for 4+ sizes: the 3-point [[marginalBeta]] on
    * every leave-rest-out triple. Agreement across triples is the
    * confidence statement; a triple at the noise floor contributes
    * NaN and is dropped.
    */
  def betaSpread(m: Seq[Double], t: Seq[Double]): Seq[Double] =
    m.indices.combinations(3).map { idx =>
      marginalBeta(idx.map(m), idx.map(t))
    }.filter(b => !b.isNaN).toSeq

  /** Solve (t3-t2)/(t2-t1) = (m3^b - m2^b)/(m2^b - m1^b) for b by
    * bisection on [0.05, 4]; NaN when the differences are non-positive
    * (noise floor — variable term too small to measure).
    */
  def marginalBeta(m: Seq[Double], t: Seq[Double]): Double = {
    require(m.length == 3 && t.length == 3)
    val want = (t(2) - t(1)) / (t(1) - t(0))
    if (!want.isFinite || t(1) - t(0) <= 0 || t(2) - t(1) <= 0)
      return Double.NaN
    def ratio(b: Double) =
      (math.pow(m(2), b) - math.pow(m(1), b)) /
        (math.pow(m(1), b) - math.pow(m(0), b))
    var lo = 0.05
    var hi = 4.0
    if (want <= ratio(lo)) return lo
    if (want >= ratio(hi)) return hi
    var i = 0
    while (i < 60) {
      val mid = (lo + hi) / 2
      if (ratio(mid) < want) lo = mid else hi = mid
      i += 1
    }
    (lo + hi) / 2
  }
}
