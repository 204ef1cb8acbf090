package perfbench

/** Summary arithmetic shared by every workload. Quartiles follow Python's
  * `statistics.quantiles(xs, n=4)` (the default "exclusive" method), so a
  * spread computed here matches one computed over the printed values. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** (q1, q2, q3) as `statistics.quantiles(xs, n=4)` gives them. One value
    * has no spread: it is returned as all three quartiles. */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.nonEmpty, "quartiles of no values")
    val s = xs.sorted.toVector
    if (s.length == 1) return (s(0), s(0), s(0))
    val m = s.length + 1
    def q(i: Int): Double = {
      val j = math.max(1, math.min(s.length - 1, i * m / 4))
      val delta = i * m - j * 4
      (s(j - 1) * (4 - delta) + s(j) * delta) / 4.0
    }
    (q(1), q(2), q(3))
  }

  /** Linear-interpolated percentile, p in [0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no values")
    val s = xs.sorted.toVector
    val pos = p / 100.0 * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.length - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive values")
    math.exp(xs.map(math.log).sum / xs.length)
  }
}
