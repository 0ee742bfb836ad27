package perfbench

/** Order statistics the report uses. Percentiles are nearest-rank on
  * the sorted sample, so they are always a value that was measured. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), s"geomean needs positive samples: $xs")
    math.exp(xs.map(math.log).sum / xs.length)
  }

  /** Nearest-rank percentile p (0 < p < 100). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt
    s(math.min(math.max(rank, 1), s.length) - 1)
  }

  /** The highest of p50, p90, p99, p99.9 that still has at least ten
    * samples above it, or None when even p50 does not. */
  private val TailLadder = Seq(99.9, 99.0, 90.0, 50.0)
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    TailLadder.find(p => xs.length - math.ceil(p / 100.0 * xs.length) >= 10)
      .map(p => (p, percentile(xs, p)))
}
