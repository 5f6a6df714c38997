package perfbench

object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least a share `q`
    * of the samples at or below it.
    */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(rank(s.size, q) - 1)
  }

  /** Samples that lie above the nearest-rank `q` percentile of `n`. */
  def samplesBeyond(n: Int, q: Double): Int = n - rank(n, q)

  /** A percentile is reported only with at least ten samples beyond it. */
  def reportable(n: Int, q: Double): Boolean = samplesBeyond(n, q) >= 10

  private def rank(n: Int, q: Double): Int =
    math.max(1, math.ceil(q * n - 1e-9).toInt)
}
