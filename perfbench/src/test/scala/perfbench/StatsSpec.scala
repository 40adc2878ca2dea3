package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def samples(n: Int) = (1 to n).map(_.toDouble)

  test("a percentile is reported only with at least 10 samples beyond it") {
    assert(Stats.samplesNeeded(0.5) == 20)
    assert(Stats.samplesNeeded(0.9) == 100)
    assert(Stats.percentile(samples(19), 0.5).isEmpty)
    assert(Stats.percentile(samples(20), 0.5).contains(10.0))
    assert(Stats.percentile(samples(99), 0.9).isEmpty)
    val p90 = Stats.percentile(samples(100), 0.9)
    assert(p90.contains(90.0))
    assert(samples(100).count(_ > p90.get) == 10)
  }

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }
}
