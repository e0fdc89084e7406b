package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pure-math pins for ScaleFit's N-point scaling-exponent fit (no
  * Spark session): the least-squares (β, k) recovery under
  * t = c + k·m^β, the jackknife spread, and the noise-floor NaN
  * contract. These guard the r11 re-fit of the noisy rows (x96, x41,
  * x71, x46) at a 4th scale point — a fitter bug would silently
  * reclassify rows between linear and super-linear.
  */
class BetaFitSpec extends AnyFunSuite {

  private val m4 = Seq(1.0, 4.0, 10.0, 20.0)

  test("exact synthetic curves recover beta within the grid step") {
    for (beta <- Seq(0.5, 1.0, 1.5, 2.0); c <- Seq(0.0, 2.0)) {
      val t = m4.map(m => c + 0.3 * math.pow(m, beta))
      val (b, k, rmse) = ScaleFit.fitBeta(m4, t)
      assert(math.abs(b - beta) <= 0.01, s"beta=$beta got $b")
      assert(math.abs(k - 0.3) <= 0.01, s"beta=$beta got k=$k")
      assert(rmse < 0.05, s"beta=$beta rmse=$rmse")
    }
  }

  test("jackknife triples agree on clean data and bracket the fit") {
    val t = m4.map(m => 1.5 + 0.2 * math.pow(m, 1.3))
    val sp = ScaleFit.betaSpread(m4, t)
    assert(sp.size == 4, s"expected 4 finite triples, got $sp")
    assert(sp.min >= 1.25 && sp.max <= 1.35, s"spread $sp")
  }

  test("non-growing times hit the noise-floor contract: beta = NaN") {
    val flat = Seq(2.0, 2.01, 1.99, 2.0)
    val (b, _, _) = ScaleFit.fitBeta(m4, flat)
    assert(b.isNaN || b <= 0.06, s"flat data produced beta=$b")
    val shrinking = Seq(3.0, 2.5, 2.2, 2.0)
    val (b2, _, _) = ScaleFit.fitBeta(m4, shrinking)
    assert(b2.isNaN, s"shrinking data produced beta=$b2")
  }

  test("a single noisy cell moves the 4-point fit less than the " +
      "3-point differencing (the reason for the 4th size)") {
    val clean = m4.map(m => 1.0 + 0.25 * math.pow(m, 1.0))
    // +20% on the middle cell — the shape that flipped x41/x71/x46
    // between r10 records
    val noisy = clean.updated(2, clean(2) * 1.2)
    val (b4, _, _) = ScaleFit.fitBeta(m4, noisy)
    val b3 = ScaleFit.marginalBeta(
      Seq(m4(0), m4(2), m4(3)), Seq(noisy(0), noisy(2), noisy(3)))
    assert(math.abs(b4 - 1.0) < math.abs(b3 - 1.0),
      s"4-point $b4 should sit closer to 1.0 than 3-point $b3")
  }
}
