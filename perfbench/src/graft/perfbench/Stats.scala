package graft.perfbench

/** The benchmark's own arithmetic, kept pure so [[SelfTest]] can pin it. */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least `p`
    * percent of the samples at or below it. Selection, not
    * interpolation, so every reported value is a time that was measured.
    * NaN for no samples.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(p > 0 && p <= 100, s"percentile $p outside (0, 100]")
    if (xs.isEmpty) Double.NaN
    else {
      val sorted = xs.sorted
      val rank = math.ceil(p / 100.0 * sorted.size).toInt
      sorted(math.max(rank, 1) - 1)
    }
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The highest percentile with at least `beyond` samples above it, for
    * `n` samples: 100·(1 − beyond/n), floored to a whole percent; 50 when
    * the sample is too small to support any tail above the median.
    */
  def tailPercentile(n: Int, beyond: Int = 10): Int =
    if (n <= 2 * beyond) 50 else math.floor(100.0 * (n - beyond) / n).toInt

  /** Length of the union of half-open intervals `[start, end)`. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    for ((s, e) <- intervals.filter(i => i._2 > i._1).sortBy(_._1)) {
      if (s > curEnd) {
        if (curEnd > curStart) covered += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) covered += curEnd - curStart
    covered
  }

  /** Intervals clipped to `[lo, hi)`; the parts outside are dropped. */
  def clip(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter(i => i._2 > i._1)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}
