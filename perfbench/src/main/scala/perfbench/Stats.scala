package perfbench

/** Order statistics and interval arithmetic used by every workload. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail a sample set can support: the highest whole percentile `p`
    * whose nearest-rank value (rank `ceil(p·n/100)`) still has at least
    * `beyond` samples ranked after it. With `n ≤ beyond` no percentile
    * qualifies and the result is None. */
  final case class Tail(percentile: Int, value: Double, samples: Int)

  def tail(xs: Seq[Double], beyond: Int = 10): Option[Tail] = {
    val n = xs.size
    if (n <= beyond) None
    else {
      val s = xs.sorted
      val p = (0 to 100).reverseIterator
        .find(p => math.max(1, math.ceil(p * n / 100.0).toInt) <= n - beyond).get
      val rank = math.max(1, math.ceil(p * n / 100.0).toInt)
      Some(Tail(p, s(rank - 1), n))
    }
  }

  /** Total length covered by the union of closed intervals (start, end);
    * overlapping and nested intervals count once. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    for ((s, e) <- intervals.filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (s > curEnd) {
        if (curEnd > curStart) covered += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) covered += curEnd - curStart
    covered
  }

  /** Length of `window` not covered by any of `intervals` (each clipped to
    * the window first): the driver gap when the intervals are Spark jobs. */
  def gap(window: (Long, Long), intervals: Seq[(Long, Long)]): Long = {
    val (ws, we) = window
    val clipped = intervals.map { case (s, e) => (math.max(s, ws), math.min(e, we)) }
    (we - ws) - unionLength(clipped)
  }
}
