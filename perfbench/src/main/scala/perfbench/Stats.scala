package perfbench

/** Order statistics used for every reported timing. */
object Stats {

  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample; the
    * same definition as numpy's default and Python's `statistics.quantiles`
    * with method="inclusive". */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Quantile, or None for an empty sample (a latency over zero correct
    * records does not exist; it is not zero). */
  def quantileOpt(xs: Seq[Double], q: Double): Option[Double] =
    if (xs.isEmpty) None else Some(quantile(xs, q))
}
