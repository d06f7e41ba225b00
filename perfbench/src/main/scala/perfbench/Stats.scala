package perfbench

/** Order statistics used for every reported figure. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linearly interpolated quantile (numpy's default, "linear"). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest whole percentile that still has at least `minBeyond`
    * samples above its nearest-rank position: (percentile, value,
    * samples beyond). Samples of ten or fewer fall back to the median. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): (Int, Double, Int) = {
    require(xs.nonEmpty, "tail of an empty sample")
    val s = xs.sorted
    val n = s.size
    val p = if (n <= minBeyond) 50 else 100 * (n - minBeyond) / n
    val rank = math.max(1, math.ceil(p * n / 100.0).toInt)
    (p, s(rank - 1), n - rank)
  }
}
