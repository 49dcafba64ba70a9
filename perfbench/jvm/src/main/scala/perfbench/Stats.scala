package perfbench

/** Order statistics and interval arithmetic behind every number the
  * benchmark reports. Pure; unit tested in StatsSpec.
  */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`
    * percent of the samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p outside (0, 100]")
    val s = xs.sorted
    s(math.ceil(p / 100 * s.size).toInt.max(1) - 1)
  }

  /** The highest of `candidates` that still has at least `minBeyond`
    * samples strictly above its rank, with its value. None when even
    * the lowest candidate has too few samples beyond it.
    */
  def tailPercentile(
      xs: Seq[Double],
      candidates: Seq[Double] = Seq(50, 75, 90, 95, 99, 99.9),
      minBeyond: Int = 10): Option[(Double, Double)] =
    candidates.sorted.reverseIterator
      .find(p => xs.size - math.ceil(p / 100 * xs.size).toInt >= minBeyond)
      .map(p => p -> percentile(xs, p))

  /** Total length covered by a set of half-open intervals, overlaps
    * counted once.
    */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach {
      case (s, e) =>
        if (s > curEnd) {
          total += curEnd - curStart
          curStart = s
          curEnd = e
        } else if (e > curEnd) curEnd = e
    }
    total + (curEnd - curStart)
  }

  /** A span's self time: its duration minus the part of it that its
    * children cover. Children are clipped to the parent first, so a
    * child that starts early or ends late cannot make self time
    * negative.
    */
  def selfTime(parent: (Long, Long), children: Seq[(Long, Long)]): Long = {
    val (ps, pe) = parent
    val clipped = children.map { case (s, e) => (s.max(ps), e.min(pe)) }
    (pe - ps) - unionLength(clipped)
  }
}
