package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("tail: the highest percentile with at least ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    val t = Stats.tail(xs).get
    assert(t.pct == 90 && t.samples == 100)
    assert(xs.count(_ > t.value) >= 10)
    // one more sample does not yet buy p91: 101 - ceil(91.91) = 9 beyond
    assert(Stats.tail((1 to 101).map(_.toDouble)).get.pct == 90)
    assert(Stats.tail((1 to 1000).map(_.toDouble)).get.pct == 99)
  }

  test("tail: none below twenty samples, the median at exactly twenty") {
    assert(Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
    assert(Stats.tail((1 to 20).map(_.toDouble)).get.pct == 50)
  }

  test("percentile interpolates between ranks") {
    assert(Stats.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5)
    assert(Stats.percentile(Seq(5.0), 90) == 5.0)
  }

  test("interval union counts overlaps once") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20)
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L))) == 10) // nested
    assert(Stats.unionLength(Seq((10L, 20L), (0L, 10L))) == 20) // touching, unsorted
    assert(Stats.unionLength(Seq((5L, 5L))) == 0)
    assert(Stats.unionLength(Nil) == 0)
  }

  test("self time is the span minus the union of its clipped children") {
    // children overlap each other and one starts before the span
    assert(Stats.uncovered((0L, 100L), Seq((-10L, 20L), (10L, 30L), (50L, 60L))) == 60)
    assert(Stats.uncovered((0L, 100L), Nil) == 100)
  }
}
