package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median and percentile on one sample") {
    assert(Stats.median(Seq(3.0)) == 3.0)
    Seq(0.0, 0.5, 0.95, 0.99, 1.0).foreach(q => assert(Stats.percentile(Seq(3.0), q) == 3.0))
  }

  test("median and percentile on two samples") {
    assert(Stats.median(Seq(4.0, 2.0)) == 3.0)
    assert(Stats.percentile(Seq(4.0, 2.0), 0.5) == 2.0)
    assert(Stats.percentile(Seq(4.0, 2.0), 0.95) == 4.0)
  }

  test("median and percentile on N samples") {
    val xs = (1 to 100).map(_.toDouble).reverse
    assert(Stats.median(xs) == 50.5)
    assert(Stats.median(xs :+ 101.0) == 51.0)
    assert(Stats.percentile(xs, 0.5) == 50.0)
    assert(Stats.percentile(xs, 0.95) == 95.0)
    assert(Stats.percentile(xs, 0.99) == 99.0)
    assert(Stats.percentile(xs, 1.0) == 100.0)
    assert(Stats.beyond(100, 0.95) == 5 && Stats.beyond(1000, 0.99) == 10)
  }

  test("the tail percentile keeps ten samples beyond it") {
    assert(Stats.tailQuantile(1) == 0.9 && Stats.tailQuantile(29) == 0.9)
    assert(Stats.tailQuantile(30) == 0.66 && Stats.tailQuantile(100) == 0.9)
    assert(Stats.tailQuantile(100000) == 0.99)
    Seq(30, 57, 100, 1000, 5000).foreach(n => assert(Stats.beyond(n, Stats.tailQuantile(n)) >= 10, n))
  }

  test("geometric mean") {
    assert(math.abs(Stats.geoMean(Seq(1.0, 4.0, 16.0)) - 4.0) < 1e-12 && Stats.geoMean(Seq(2.5)) == 2.5)
  }

  test("empty input is NaN, not an exception") {
    assert(Stats.median(Nil).isNaN && Stats.percentile(Nil, 0.5).isNaN)
  }
}
