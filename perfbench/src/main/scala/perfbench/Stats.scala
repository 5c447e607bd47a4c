package perfbench

/** Order statistics for timing samples. */
object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest quantile that still has at least ten samples beyond it,
    * 1 - 10/n. Below twenty samples no quantile above the median has ten
    * samples beyond it, so the tail falls back to the median. */
  def tailQuantile(n: Int): Double = math.max(0.5, 1.0 - 10.0 / n)

  def tail(xs: Seq[Double]): Double = quantile(xs, tailQuantile(xs.size))
}
