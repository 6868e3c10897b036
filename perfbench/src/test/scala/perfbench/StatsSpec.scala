package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail keeps at least ten samples beyond the percentile it reports") {
    val xs = (1 to 1000).map(_.toDouble)
    val t = Stats.tail(xs).get
    assert(t.percentile == 0.99 && t.value == 990.0 && t.beyond == 10 && t.samples == 1000)
  }

  test("tail lowers the percentile when the sample is too small for p99") {
    val t = Stats.tail((1 to 500).map(_.toDouble)).get
    assert(t.percentile == 0.98 && t.value == 490.0 && t.beyond == 10)
    val u = Stats.tail((1 to 11).map(_.toDouble)).get
    assert(u.value == 1.0 && u.beyond == 10)
  }

  test("tail refuses samples with ten or fewer values") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    assert(Stats.tail(Nil).isEmpty)
  }

  test("quantiles interpolate between ranks") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.quantile(Seq(0.0, 10.0), 0.25) == 2.5)
  }
}
