package perfbench

/** The benchmark's arithmetic: medians, the supported tail, and self time
  * as a span minus the part of it its children cover.
  */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The highest percentile that has at least `beyond` samples above it,
    * as (percentile, value): with n sorted samples that is the sample at
    * 0-based rank n - beyond - 1, the 100·(n − beyond)/n-th percentile.
    * None when the sample is too small to support any tail.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] = {
    val n = xs.length
    if (n <= beyond) None
    else Some((100.0 * (n - beyond) / n, xs.sorted.apply(n - beyond - 1)))
  }

  /** Length of the union of the intervals, each clipped to [lo, hi). */
  def covered(lo: Long, hi: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0L
    var curS = 0L
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

  /** A span's self time: its duration minus the union of its children's
    * intervals (children may overlap each other and may stick out of it).
    */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - covered(start, end, children)
}
