package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  import Stats._

  test("nearest-rank percentile picks an actual sample") {
    val xs = Seq(15.0, 20, 35, 40, 50)
    assert(percentile(xs, 5) == 15)
    assert(percentile(xs, 30) == 20)
    assert(percentile(xs, 40) == 20)
    assert(percentile(xs, 50) == 35)
    assert(percentile(xs, 100) == 50)
    assert(percentile(xs, 0) == 15)
    assert(median(Seq(3.0, 1, 2, 4)) == 2) // rank ceil(0.5 * 4) = 2
    assert(percentile(Seq(7.0), 90) == 7)
    assert(percentile(Nil, 50).isNaN)
  }

  test("p90 of ten samples is the ninth, of eleven the tenth") {
    val ten = (1 to 10).map(_.toDouble)
    assert(percentile(ten, 90) == 9)
    assert(percentile(ten :+ 11.0, 90) == 10)
  }

  test("union of job intervals counts overlap once and skips gaps") {
    assert(unionLength(Nil) == 0)
    assert(unionLength(Seq((0L, 10L))) == 10)
    assert(unionLength(Seq((0L, 10L), (5L, 15L))) == 15)
    assert(unionLength(Seq((0L, 10L), (20L, 30L))) == 20)
    assert(unionLength(Seq((20L, 30L), (0L, 10L), (2L, 4L))) == 20)
    assert(unionLength(Seq((0L, 10L), (10L, 20L))) == 20) // touching
    assert(unionLength(Seq((5L, 5L), (7L, 3L))) == 0) // empty and inverted
    // driver-only time of a 100 ms pass whose jobs cover 40 ms of it
    assert(100 - unionLength(Seq((10L, 30L), (20L, 40L), (70L, 80L))) == 60)
  }

  test("self time subtracts the children's covered part of the parent") {
    assert(selfTime(0, 100, Nil) == 100)
    assert(selfTime(0, 100, Seq((10L, 20L), (50L, 70L))) == 70)
    assert(selfTime(0, 100, Seq((10L, 40L), (30L, 60L))) == 50) // overlapping children
    assert(selfTime(0, 100, Seq((-50L, 20L), (90L, 200L))) == 70) // clipped to the parent
    assert(selfTime(0, 100, Seq((0L, 100L))) == 0)
  }

  test("open-loop schedule: due times do not move when appends stall") {
    val s = Schedule(startNanos = 1000000000L, ratePerSec = 100) // one line per 10 ms
    assert(s.due(0) == 1000000000L)
    assert(s.due(5) == 1050000000L)
    assert(s.dueBy(999999999L) == 0)
    assert(s.dueBy(1000000000L) == 1)
    assert(s.dueBy(1049999999L) == 5)
    assert(s.dueBy(1050000000L) == 6)
  }

  test("a stalled append charges its wait to every line queued behind it") {
    val s = Schedule(0L, 100) // due at 0, 10, 20, ... ms
    val ms = 1000000L
    // lines 0-1 appended on time; the writer then stalls until 65 ms
    // and appends lines 2-6 (due 20..60 ms) in one write
    val lags = appendLagMs(s, Seq((1L, 0L), (2L, 10 * ms), (7L, 65 * ms)))
    assert(lags == Seq(0.0, 0.0, 45.0, 35.0, 25.0, 15.0, 5.0))
    // with a closed-loop clock (timing from the actual send) the same
    // stall would read as zero lag for every line
    assert(percentile(lags, 99) == 45.0)
  }

  test("a line is covered by the first observation of it or of any later line") {
    // frames of lines 3, 9 and 7 read at 100, 200 and 300
    val seen = Seq((200L, 9), (100L, 3), (300L, 7))
    val got = firstCovered(seen, Seq(1, 3, 4, 8, 9, 10))
    assert(got == Map(1 -> 100L, 3 -> 100L, 4 -> 200L, 8 -> 200L, 9 -> 200L))
    assert(firstCovered(Nil, Seq(1)).isEmpty)
  }
}
