package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("nearest-rank percentile") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 0.5) == 50.0)
    assert(Stats.percentile(xs, 0.9) == 90.0)
    assert(Stats.percentile(xs, 0.99) == 99.0)
    assert(Stats.percentile(Seq(7.0), 0.9) == 7.0)
  }

  test("a percentile is reported only with at least 10 samples beyond it") {
    assert(Stats.beyond(100, 0.9) == 10)
    assert(Stats.beyond(99, 0.9) == 9)
    assert(Stats.highestReportable(19).isEmpty)
    assert(Stats.highestReportable(20).contains(0.5))
    assert(Stats.highestReportable(99).contains(0.5))
    assert(Stats.highestReportable(100).contains(0.9))
    assert(Stats.highestReportable(199).contains(0.9))
    assert(Stats.highestReportable(200).contains(0.95))
    assert(Stats.highestReportable(1000).contains(0.99))
    for (n <- 1 to 2000; p <- Stats.highestReportable(n))
      assert(Stats.beyond(n, p) >= Stats.MinBeyond, s"n=$n p=$p")
  }

  test("union length counts overlapping intervals once") {
    assert(Stats.unionLength(Nil) == 0L)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L))) == 15L)
    assert(Stats.unionLength(Seq((20L, 30L), (0L, 10L))) == 20L)
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L), (10L, 12L))) == 12L)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 6L))) == 0L)
  }
}
