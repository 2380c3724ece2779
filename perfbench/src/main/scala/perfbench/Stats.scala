package perfbench

/** Order statistics and span arithmetic used by every workload. */
object Stats {

  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The tail of a sample: the highest percentile that still has at
    * least `beyond` samples above it, i.e. the value at rank
    * n - beyond (1-based) of the sorted sample. Returns the quantile
    * and its level in percent. In a sample of 2 * `beyond` or fewer
    * values that percentile is at or below the median, so the tail is
    * the maximum instead (level 100): a run with few operations reports
    * its slowest one. */
  def tail(xs: Seq[Double], beyond: Int = 10): (Double, Double) = {
    require(xs.nonEmpty, "tail of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n <= 2 * beyond) (s.last, 100.0)
    else (s(n - beyond - 1), 100.0 * (n - beyond) / n)
  }

  /** Length of the union of half-open intervals [start, end). */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of a span: its duration minus the part of its interval
    * its children cover (children clipped to the parent, overlapping
    * children counted once). */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - unionLength(children.map { case (s, e) =>
      (math.max(s, start), math.min(e, end))
    })
}
