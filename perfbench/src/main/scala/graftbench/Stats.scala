package graftbench

/** Pure summary statistics of the benchmark's samples. */
object Stats {
  /** Linear-interpolated percentile, p in [0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The tail: the highest whole percentile that has at least ten samples
    * strictly above its rank, with that percentile and the sample count.
    * None when there are too few samples for any percentile above the
    * median to qualify. */
  final case class Tail(value: Double, pct: Int, samples: Int)

  def tail(xs: Seq[Double]): Option[Tail] = {
    val n = xs.size
    // samples beyond the p-th percentile: those ranked above ceil(p/100 * n)
    def beyond(p: Int): Int = n - math.ceil(p / 100.0 * n).toInt
    (99 to 50 by -1).find(p => beyond(p) >= 10).map(p => Tail(percentile(xs, p), p, n))
  }

  /** Total length of the union of half-open intervals [start, end). */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    for ((s, e) <- intervals.filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s
        curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Length of `span` not covered by any of `children` (self time). */
  def uncovered(span: (Long, Long), children: Seq[(Long, Long)]): Long = {
    val (s, e) = span
    val clipped = children.map { case (cs, ce) => (math.max(cs, s), math.min(ce, e)) }
    (e - s) - unionLength(clipped)
  }
}
