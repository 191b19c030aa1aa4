package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("tail percentile keeps at least 10 samples beyond it") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    // 11 samples: only the smallest has 10 beyond it
    assert(Stats.tail((1 to 11).map(_.toDouble)).contains((100.0 / 11, 1.0)))
    // 1000 samples: p99, the 990th value, with exactly 10 above
    val xs = scala.util.Random.shuffle((1 to 1000).map(_.toDouble))
    val (pct, v) = Stats.tail(xs).get
    assert(pct == 99.0 && v == 990.0)
    assert(xs.count(_ > v) == 10)
    // a custom count beyond
    assert(Stats.tail((1 to 100).map(_.toDouble), beyond = 5).contains((95.0, 95.0)))
  }

  test("an upper tail needs more than 20 samples") {
    assert(Stats.upperTail((1 to 20).map(_.toDouble)).isEmpty)
    assert(Stats.upperTail((1 to 21).map(_.toDouble)).contains((100.0 * 11 / 21, 11.0)))
  }

  test("union of intervals merges overlaps and clips to the window") {
    assert(Stats.unionLength(Nil, 0, 100) == 0)
    assert(Stats.unionLength(Seq((10L, 20L), (15L, 30L), (40L, 50L)), 0, 100) == 30)
    // nested and touching intervals count once
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L), (10L, 12L)), 0, 100) == 12)
    // clipped at both ends; an interval outside the window adds nothing
    assert(Stats.unionLength(Seq((-5L, 5L), (95L, 120L), (200L, 300L)), 0, 100) == 10)
  }

  test("driver time is wall time minus the union of the call's job intervals") {
    // call 0..100; jobs 10..40 and 30..60 overlap -> 50 busy, 50 driver
    assert(Stats.driverTime(0, 100, Seq((10L, 40L), (30L, 60L))) == 50)
    // a job that outlives the call counts only inside the call
    assert(Stats.driverTime(0, 100, Seq((90L, 150L))) == 90)
    assert(Stats.driverTime(0, 100, Nil) == 100)
  }
}
