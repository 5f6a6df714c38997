package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("a percentile is reportable only with ten samples beyond it") {
    assert(Stats.samplesBeyond(100, 0.9) == 10)
    assert(Stats.reportable(100, 0.9))
    assert(Stats.samplesBeyond(99, 0.9) == 9)
    assert(!Stats.reportable(99, 0.9))
    assert(Stats.reportable(20, 0.5))
    assert(!Stats.reportable(19, 0.5))
  }

  test("nearest-rank percentile and median") {
    val xs = (1 to 100).map(_.toDouble).reverse
    assert(Stats.percentile(xs, 0.9) == 90.0)
    assert(Stats.percentile(xs, 0.5) == 50.0)
    assert(Stats.percentile(Seq(3.0), 0.9) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }
}
