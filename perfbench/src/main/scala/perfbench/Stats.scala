package perfbench

/** Order statistics for latency samples. Percentiles are nearest-rank on the
  * sorted sample, so every reported value is one that was measured.
  */
object Stats {

  /** Nearest-rank percentile (`p` in (0, 100]) of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p > 0 && p <= 100, s"percentile $p outside (0, 100]")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Number of samples strictly above the nearest-rank `p`th percentile. */
  def beyond(n: Int, p: Double): Int = n - math.max(1, math.ceil(p / 100.0 * n).toInt)

  /** The tail percentiles tried, highest first. */
  val tailCandidates: Seq[Double] = Seq(99, 95, 90, 75)

  /** The highest percentile of [[tailCandidates]] with at least ten samples
    * beyond it; the median when no candidate has that many. Returns the
    * percentile chosen and its value.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = tailCandidates.find(beyond(xs.size, _) >= 10).getOrElse(50.0)
    (p, percentile(xs, p))
  }

  /** Length of the union of `[start, end)` intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
