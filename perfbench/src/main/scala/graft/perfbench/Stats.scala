package graft.perfbench

/** Order statistics with the reporting rule the benchmark follows: a
  * percentile is reported only when at least ten samples lie beyond it.
  */
object Stats {
  val MinBeyond = 10

  /** Samples strictly above the p-th quantile position of n samples. */
  def beyond(n: Int, p: Double): Int = math.floor(n * (1.0 - p) + 1e-9).toInt

  def supported(n: Int, p: Double): Boolean = beyond(n, p) >= MinBeyond

  /** Linear-interpolated quantile of `xs` (0 <= p <= 1), no sample rule. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
