package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("a percentile with fewer than 10 samples beyond it is refused") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.samplesBeyond(100, 90.0) == 10)
    assert(math.abs(Stats.percentile(xs, 90.0) - 90.1) < 1e-9)
    intercept[IllegalArgumentException](Stats.percentile(xs, 95.0))
    intercept[IllegalArgumentException](Stats.percentile((1 to 19).map(_.toDouble), 50.0))
  }

  test("the tail is the highest percentile with 10 samples beyond it") {
    assert(Stats.tail((1 to 1000).map(_.toDouble)).map(_._1).contains(99.0))
    assert(Stats.tail((1 to 100).map(_.toDouble)).map(_._1).contains(90.0))
    assert(Stats.tail((1 to 40).map(_.toDouble)).map(_._1).contains(75.0))
    assert(Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
  }
}
