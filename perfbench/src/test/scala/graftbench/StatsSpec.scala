package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts, in any order") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
  }

  test("tail is the highest percentile with at least 10 samples beyond it") {
    val hundred = (1 to 100).map(_.toDouble).reverse
    assert(Stats.tail(hundred).contains(Stats.Tail(90.0, 90.0, 100)))
    val twentyTwo = (1 to 22).map(_.toDouble)
    assert(Stats.tail(twentyTwo).contains(Stats.Tail(12.0, 100.0 * 12 / 22, 22)))
    assert(Stats.tail(twentyTwo).get.value > Stats.median(twentyTwo))
    // exactly 10 samples beyond the reported one, none of them ignored
    val xs = (1 to 37).map(i => i * 1.5)
    val t = Stats.tail(xs).get
    assert(xs.count(_ > t.value) == 10)
    // with fewer samples the rank with 10 beyond it is at or below the median
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    assert(Stats.tail((1 to 16).map(_.toDouble)).isEmpty)
    assert(Stats.tail((1 to 21).map(_.toDouble)).isEmpty)
  }

  test("span self time subtracts the children's union, clipped to the span") {
    assert(Stats.selfTime(0, 100, Nil) == 100)
    assert(Stats.selfTime(0, 100, Seq((10L, 30L), (50L, 60L))) == 70)
    // overlapping children count once
    assert(Stats.selfTime(0, 100, Seq((10L, 40L), (30L, 50L))) == 60)
    // a child running past the span counts only inside it
    assert(Stats.selfTime(0, 100, Seq((90L, 150L), (-20L, 5L))) == 85)
    assert(Stats.unionLength(Seq((5L, 5L), (1L, 3L), (2L, 4L))) == 3)
  }

  test("dedup ratio is rows kept per row given") {
    assert(Stats.dedupRatio(1000, 750) == 0.75)
    assert(Stats.dedupRatio(5, 5) == 1.0)
    assertThrows[IllegalArgumentException](Stats.dedupRatio(0, 0))
    assertThrows[IllegalArgumentException](Stats.dedupRatio(10, 11))
  }

  test("geometric mean") {
    assert(math.abs(Stats.geomean(Seq(1.0, 4.0, 16.0)) - 4.0) < 1e-12)
    assertThrows[IllegalArgumentException](Stats.geomean(Seq(1.0, 0.0)))
  }
}
