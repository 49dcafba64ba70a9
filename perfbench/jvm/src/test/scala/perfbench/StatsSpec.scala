package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("nearest-rank percentile") {
    val xs = (1 to 20).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 10.0)
    assert(Stats.percentile(xs, 90) == 18.0)
    assert(Stats.percentile(xs, 100) == 20.0)
    assert(Stats.percentile(xs, 1) == 1.0)
  }

  test("tail percentile keeps at least ten samples beyond it") {
    // 20 samples: p50 has 10 beyond, p75 only 5
    assert(Stats.tailPercentile((1 to 20).map(_.toDouble)) == Some(50.0 -> 10.0))
    // 100 samples: p90 has exactly 10 beyond, p95 only 5
    assert(Stats.tailPercentile((1 to 100).map(_.toDouble)) == Some(90.0 -> 90.0))
    // too few samples for any candidate
    assert(Stats.tailPercentile((1 to 15).map(_.toDouble)).isEmpty)
  }

  test("union length counts overlaps once") {
    assert(Stats.unionLength(Nil) == 0)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20)
    assert(Stats.unionLength(Seq((20L, 25L), (0L, 10L), (2L, 3L))) == 15)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 6L))) == 0)
  }

  test("self time subtracts the union of clipped children") {
    assert(Stats.selfTime((0L, 100L), Nil) == 100)
    assert(Stats.selfTime((0L, 100L), Seq((10L, 30L), (20L, 40L))) == 70)
    // children reaching outside the parent only count inside it
    assert(Stats.selfTime((0L, 100L), Seq((-50L, 10L), (90L, 200L))) == 80)
    assert(Stats.selfTime((0L, 100L), Seq((0L, 100L), (50L, 60L))) == 0)
  }
}
