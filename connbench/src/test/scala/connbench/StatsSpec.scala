package connbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("the tail is the eleventh largest sample, with its percentile") {
    val xs = scala.util.Random.shuffle((1 to 100).map(_.toDouble))
    assert(Stats.tail(xs) == (90.0, 90.0))
    val ys = (1 to 40).map(_.toDouble)
    assert(Stats.tail(ys) == (75.0, 30.0))
    assert(Stats.tail(ys)._2 == Stats.percentile(ys, 75.0))
  }

  test("exactly ten samples lie beyond the tail at every sample size from 20") {
    (20 to 500).foreach { n =>
      val xs = (1 to n).map(_.toDouble)
      val (p, v) = Stats.tail(xs)
      assert(xs.count(_ > v) == 10, s"n=$n")
      assert(math.abs(p - 100.0 * (n - 10) / n) < 1e-9)
    }
  }

  test("fewer than twenty samples report the median as the tail") {
    assert(Stats.tail((1 to 19).map(_.toDouble)) == (50.0, 10.0))
    assert(Stats.tail(Seq(7.0)) == (50.0, 7.0))
    assert(Stats.tail((1 to 20).map(_.toDouble)) == (50.0, 10.0))
  }

  test("nearest-rank percentiles") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 99.9) == 100.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }
}
