package perfbench

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Length of the union of `intervals`, each clipped to [from, to]. */
  def covered(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var end = from
    var sum = 0L
    intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }.filter(i => i._1 < i._2).sorted.foreach {
      case (a, b) =>
        if (b > end) { sum += b - math.max(a, end); end = b }
    }
    sum
  }
}
