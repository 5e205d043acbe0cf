package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("quartiles match Python's statistics.quantiles(xs, n=4)") {
    // expected values printed by CPython 3.11's statistics.quantiles
    assert(Stats.quartiles((1 to 10).map(_.toDouble)) == ((2.75, 5.5, 8.25)))
    assert(Stats.quartiles(Seq(3.5, 1.0, 2.0)) == ((1.0, 2.0, 3.5)))
    assert(Stats.quartiles(Seq(5.0, 1.0, 4.0, 2.0, 3.0)) == ((1.5, 3.0, 4.5)))
    assert(Stats.quartiles(Seq(10.0, 10.5)) == ((9.875, 10.25, 10.625)))
  }

  test("spread is the interquartile distance over the median") {
    assert(math.abs(Stats.spread((1 to 10).map(_.toDouble)) - 5.5 / 5.5) < 1e-12)
  }

  test("self time subtracts the union of child intervals, clipped to the span") {
    assert(Stats.selfTime(0, 100, Nil) == 100)
    assert(Stats.selfTime(0, 100, Seq((10L, 30L), (50L, 60L))) == 70)
    // overlapping children count once
    assert(Stats.selfTime(0, 100, Seq((10L, 40L), (30L, 60L))) == 50)
    // a child reaching outside its parent only covers the overlap
    assert(Stats.selfTime(20, 100, Seq((0L, 30L), (90L, 120L))) == 60)
    // nested grandchildren are not children
    assert(Stats.coveredLength(Seq((10L, 20L), (20L, 30L)), 0, 100) == 20)
  }
}
