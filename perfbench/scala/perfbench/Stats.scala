package perfbench

/** Order statistics the report uses. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail sample: the highest order statistic with at least
    * `beyond` samples above it, i.e. rank n-1-beyond of the ascending
    * sort. Returns (value, percentile that rank sits at, samples
    * beyond it). With n <= beyond samples no rank qualifies; the
    * maximum is returned with the true (smaller) count beyond it, 0,
    * so the report can say so.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): (Double, Double, Int) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    if (n > beyond) {
      val rank = n - 1 - beyond
      (s(rank), 100.0 * (rank + 1) / n, beyond)
    } else (s(n - 1), 100.0, 0)
  }
}
