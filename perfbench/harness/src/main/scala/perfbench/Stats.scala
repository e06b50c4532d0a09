package perfbench

/** The harness's own arithmetic, kept pure so it is unit-tested
  * (StatsSpec) apart from anything it measures. */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least `p`
    * percent of the samples at or below it. NaN on no samples. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(p >= 0 && p <= 100, s"percentile $p")
    if (xs.isEmpty) Double.NaN
    else {
      val sorted = xs.sorted
      val rank = math.ceil(p / 100.0 * sorted.size).toInt
      sorted(math.max(rank, 1) - 1)
    }
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Total length covered by a set of possibly overlapping half-open
    * intervals `[start, end)`. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    for ((s, e) <- intervals.filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (s > curEnd) {
        if (curEnd > curStart) covered += curEnd - curStart
        curStart = s
        curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) covered += curEnd - curStart
    covered
  }

  /** A span's self time: its duration minus the part of its interval
    * that its children cover (children clipped to the parent, overlaps
    * between children counted once). */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
    (end - start) - unionLength(clipped)
  }

  /** When each line first reached an observer that sees only some of
    * them (a 1-slot latest-wins subscriber): the time of the first
    * observation of that line or of any later one. `seen` holds
    * (time, line) observations; lines never covered are absent. */
  def firstCovered(seen: Seq[(Long, Int)], lines: Seq[Int]): Map[Int, Long] = {
    val byTime = seen.sortBy(_._1)
    val times = byTime.map(_._1).toArray
    val reach = byTime.map(_._2).scanLeft(Int.MinValue)(math.max).tail.toArray
    lines.flatMap { l =>
      // first index whose running maximum reaches l (reach is non-decreasing)
      var (lo, hi) = (0, reach.length)
      while (lo < hi) { val mid = (lo + hi) >>> 1; if (reach(mid) >= l) hi = mid else lo = mid + 1 }
      if (lo < reach.length) Some(l -> times(lo)) else None
    }.toMap
  }

  /** Open-loop schedule: line `i` is due at `startNanos + i * period`
    * whatever happened to earlier lines, so a stalled append charges
    * its wait to every line queued behind it. */
  final case class Schedule(startNanos: Long, ratePerSec: Double) {
    require(ratePerSec > 0, s"rate $ratePerSec")
    private val periodNanos = 1e9 / ratePerSec
    def due(i: Long): Long = startNanos + math.round(i * periodNanos)
    /** Lines `[0, n)` are due at or before `now`. */
    def dueBy(now: Long): Long =
      if (now < startNanos) 0L
      else math.floor((now - startNanos) / periodNanos).toLong + 1
  }

  /** Per-line lateness in ms for lines appended in bursts: `appends`
    * holds (lines appended so far, append time) after each write. */
  def appendLagMs(schedule: Schedule, appends: Seq[(Long, Long)]): Seq[Double] = {
    var done = 0L
    appends.flatMap { case (upTo, at) =>
      val lags = (done until upTo).map(i => (at - schedule.due(i)) / 1e6)
      done = upTo
      lags
    }
  }
}
