package perfbench

/** Order statistics for the reported timings. */
object Stats {

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the same rule as numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** A tail figure: the highest percentile that still has at least 10
    * samples above it, its value, and the sample count. Below 20 samples that
    * percentile would not lie above the median; the maximum is reported then,
    * and the returned percentile says so (100). */
  final case class Tail(percentile: Int, value: Double, n: Int)

  def tail(xs: Seq[Double]): Tail = {
    val n = xs.size
    require(n > 0, "tail of no samples")
    if (n < 20) Tail(100, xs.max, n)
    else {
      // samples strictly above the p-quantile: n - ceil(p * n) >= 10
      val p = ((n - 10).toDouble / n * 100).floor.toInt
      Tail(p, quantile(xs, p / 100.0), n)
    }
  }
}
