package graftbench

/** Order statistics used by every workload. */
object Stats {

  /** Linear-interpolated percentile `p` in [0, 100] of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = (s.length - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /**
   * The highest percentile of the ladder that leaves at least ten samples
   * beyond it, for a sample of `n`; None when `n` is too small for any.
   */
  def tailPercentile(n: Int): Option[Double] =
    Seq(99.9, 99.0, 95.0, 90.0).find(p => n * (100 - p) / 100 >= 10 - 1e-9)
}
