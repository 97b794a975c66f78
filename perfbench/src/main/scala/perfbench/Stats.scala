package perfbench

/** Order statistics and means the benchmark reports. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The geometric mean: the typical operation wall of a run whose
    * operations differ in size, each weighing the same whatever its size. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geometric mean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.length)
  }

  /** The tail percentile: p90 by nearest rank, or, when a run has more
    * samples, the highest order statistic that still has at least ten
    * samples beyond it: the (n-10)-th of n sorted samples (1-based). With
    * 120 samples that is the 110th, about p91.7. */
  def tail(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    s(math.max(math.ceil(0.9 * n).toInt - 1, n - 11))
  }
}
