package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("tail needs more than ten samples") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    assert(Stats.tail(Seq.empty).isEmpty)
  }

  test("tail leaves exactly ten samples beyond it") {
    for (n <- Seq(11, 12, 20, 37, 100, 1000)) {
      val xs = scala.util.Random.shuffle((1 to n).map(_.toDouble))
      val Some((p, v)) = Stats.tail(xs)
      assert(xs.count(_ > v) == 10, s"n=$n")
      assert(p == math.floor(100.0 * (n - 10) / n).toInt, s"n=$n")
    }
  }

  test("tail of 100 samples is the 90th percentile, of 1000 the 99th") {
    assert(Stats.tail((1 to 100).map(_.toDouble)) == Some((90, 90.0)))
    assert(Stats.tail((1 to 1000).map(_.toDouble)) == Some((99, 990.0)))
  }

  test("quantiles interpolate; geomean weighs ratios evenly") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.quantile(Seq(0.0, 10.0), 0.9) == 9.0)
    assert(math.abs(Stats.geomean(Seq(1.0, 100.0)) - 10.0) < 1e-9)
  }
}
