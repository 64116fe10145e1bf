package graftbench

/** The benchmark's own arithmetic: every reported number goes through here,
  * so the tests in `StatsSpec` pin what each metric means.
  */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** A tail latency: the sample value, the percentile it sits at, and the
    * number of samples it was taken from.
    */
  final case class Tail(value: Double, percentile: Double, samples: Int)

  /** The highest percentile that still has at least `beyond` samples above
    * it: by nearest rank, the sample with exactly `beyond` larger samples.
    * Undefined (None) unless that sample lies above the median, which takes
    * at least `2 * beyond + 2` samples: with fewer, it is not a tail.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[Tail] = {
    val n = xs.size
    if (n < 2 * beyond + 2) None
    else {
      val s = xs.sorted
      Some(Tail(s(n - beyond - 1), 100.0 * (n - beyond) / n, n))
    }
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Total length covered by a set of [start, end) intervals. */
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

  /** A span's self time: its duration minus the part of it that its child
    * spans cover (children clipped to the parent; overlaps counted once).
    */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - unionLength(children.map { case (s, e) =>
      (math.max(s, start), math.min(e, end)) })

  /** Rows the dedup kept per row it was given (1.0 = nothing collapsed). */
  def dedupRatio(rowsIn: Long, rowsOut: Long): Double = {
    require(rowsIn > 0 && rowsOut >= 0 && rowsOut <= rowsIn, s"dedup ratio of $rowsOut/$rowsIn")
    rowsOut.toDouble / rowsIn
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
