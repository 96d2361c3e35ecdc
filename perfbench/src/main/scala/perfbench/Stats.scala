package perfbench

/** Percentile arithmetic shared by every workload. */
object Stats {

  /** Linear-interpolation quantile (the `numpy.percentile` default), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest percentile that still has at least `beyond` samples above
    * it: with n samples that is the value at rank n - beyond (1-based), i.e.
    * quantile (n - beyond - 1) / (n - 1). Below 2 * beyond + 1 samples that
    * rank falls under the median, so small samples report the maximum
    * instead. Returns (percentile, value). */
  def tail(xs: Seq[Double], beyond: Int = 10): (Double, Double) = {
    require(xs.nonEmpty, "tail of an empty sample")
    val n = xs.size
    if (n < 2 * beyond + 1) (100.0, xs.max)
    else {
      val q = (n - beyond - 1).toDouble / (n - 1)
      (100.0 * q, quantile(xs, q))
    }
  }
}
