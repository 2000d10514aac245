package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentiles") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 5.0)
    assert(Stats.percentile(xs, 90) == 9.0)
    assert(Stats.percentile(xs, 100) == 10.0)
    assert(Stats.percentile(Seq(3.0), 90) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.0)
    assert(Stats.mean(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("the tail is the highest percentile with at least 10 samples beyond it") {
    assert(Stats.beyond(100, 90) == 10)
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(199).contains(90.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(99).contains(75.0))
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(19).isEmpty)
  }

  test("self time subtracts the union of the children, clipped to the span") {
    assert(Stats.selfTime(0, 100, Nil) == 100)
    assert(Stats.selfTime(0, 100, Seq((10L, 20L), (30L, 50L))) == 70)
    // overlapping children count once
    assert(Stats.selfTime(0, 100, Seq((10L, 40L), (20L, 50L), (45L, 60L))) == 50)
    // a child nested in another adds nothing
    assert(Stats.selfTime(0, 100, Seq((10L, 90L), (20L, 30L))) == 20)
    // the parts of children outside the span count not at all
    assert(Stats.selfTime(0, 100, Seq((-50L, 10L), (90L, 200L), (300L, 400L))) == 80)
    assert(Stats.selfTime(0, 100, Seq((-10L, 110L))) == 0)
    assert(Stats.covered(0, 100, Seq((60L, 70L), (10L, 20L))) == 20)
  }
}
