package perfbench

/** Summary statistics the benchmark reports. Pure functions, unit-tested. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The highest percentile that still has at least `beyond` samples
    * above it: with n sorted samples, the value at 0-based index
    * `n - 1 - beyond` has exactly `beyond` samples after it, and it is
    * the `100 * (n - beyond) / n`-th percentile by the nearest-rank rule.
    * None when there are not more than `beyond` samples.
    *
    * @return (percentile in %, value)
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] = {
    val n = xs.length
    if (n <= beyond) None
    else {
      val i = n - 1 - beyond
      Some((100.0 * (i + 1) / n, xs.sorted.apply(i)))
    }
  }

  /** [[tail]] when it lies above the median, which takes more than
    * 20 samples; from fewer, the percentile with 10 samples beyond it
    * would sit at or below the median.
    */
  def upperTail(xs: Seq[Double]): Option[(Double, Double)] =
    tail(xs).filter(_._1 > 50.0)

  /** Total length covered by the union of half-open intervals
    * `[start, end)`, each first clipped to `[from, to)`.
    */
  def unionLength(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Driver time of a call: its wall time minus the time in which at
    * least one of its Spark jobs was running.
    */
  def driverTime(callStart: Long, callEnd: Long, jobs: Seq[(Long, Long)]): Long =
    (callEnd - callStart) - unionLength(jobs, callStart, callEnd)
}
