package perfbench

/** Order statistics used for every reported timing. */
object Stats {

  /** Linear-interpolated quantile (q in [0,1]) of an unsorted sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.length)
  }

  /** The tail a sample supports: the highest whole percentile p such
    * that at least `beyond` samples lie strictly above the p-th order
    * statistic. Returns (p, value) or None when the sample has no more
    * than `beyond` elements. The value is the order statistic at rank
    * n - beyond - 1 (0-based), so exactly `beyond` samples sit above
    * it in rank, and p = floor(100 * (n - beyond) / n). */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Int, Double)] =
    if (xs.length <= beyond) None
    else {
      val s = xs.sorted
      val n = s.length
      val p = math.floor(100.0 * (n - beyond) / n).toInt
      Some((p, s(n - beyond - 1)))
    }
}
