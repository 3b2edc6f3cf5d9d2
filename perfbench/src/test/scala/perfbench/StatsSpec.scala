package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentiles") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 0.5) == 50.0)
    assert(Stats.percentile(xs, 0.99) == 99.0)
    assert(Stats.percentile(xs, 1.0) == 100.0)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 0.5) == 2.0)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("p99 is reported as measured only with ten samples beyond it") {
    assert(Stats.beyond(1000, 0.99) == 10)
    assert(Stats.beyond(999, 0.99) == 9)
    assert(Stats.beyond(100, 0.99) == 1)
    assert(Stats.beyond(20, 0.5) == 10)
    assert(Stats.dist((1 to 1000).map(_.toDouble)).p99Measured)
    assert(!Stats.dist((1 to 999).map(_.toDouble)).p99Measured)
  }

  test("a distribution carries its sample count and the samples beyond p99") {
    val d = Stats.dist((1 to 2000).map(_.toDouble))
    assert(d.n == 2000 && d.p50 == 1000.0 && d.p99 == 1980.0 && d.p99Beyond == 20)
    val f = d.fields("x").toMap
    assert(f("x_samples") == 2000 && f("x_p99_samples_beyond") == 20 && f("x_p99_measured") == true)
    assert(Stats.dist(Seq.empty).n == 0)
  }
}
