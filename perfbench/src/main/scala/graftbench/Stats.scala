package graftbench

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Quartiles as Python's `statistics.quantiles(xs, n=4)` gives them
    * (the default "exclusive" method); needs at least two values. */
  def quartiles(xs: Seq[Double]): (Double, Double) = {
    val v = xs.sorted.toIndexedSeq
    def at(p: Double): Double = {
      val m = v.size + 1
      val j = math.max(1, math.min(m - 1, math.floor(p * m).toInt))
      val delta = p * m - j
      v(j - 1) + delta * (v(math.min(j, v.size - 1)) - v(j - 1))
    }
    (at(0.25), at(0.75))
  }

  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val v = xs.sorted.toIndexedSeq
    val pos = p * (v.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, v.size - 1)
    v(lo) + (pos - lo) * (v(hi) - v(lo))
  }

  /** Inter-quartile range as a share of the median (0 below two values). */
  def spread(xs: Seq[Double]): Double =
    if (xs.size < 2) 0.0
    else { val (q1, q3) = quartiles(xs); (q3 - q1) / median(xs) }

  /** Length of the union of closed intervals. */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    for ((s, e) <- intervals.sortBy(_._1)) {
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
