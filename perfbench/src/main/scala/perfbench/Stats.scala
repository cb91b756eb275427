package perfbench

/** Summary statistics for the per-unit timings of one run. */
object Stats {

  /** Percentile `q` in [0, 1] by linear interpolation between the two
    * closest ranks (R-7, the NumPy and spreadsheet default): rank
    * h = (n - 1) q over the sorted sample. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(q >= 0.0 && q <= 1.0, s"percentile rank out of [0, 1]: $q")
    val s = xs.sorted.toArray
    val h = (s.length - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.ceil(h).toInt
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.length
}
