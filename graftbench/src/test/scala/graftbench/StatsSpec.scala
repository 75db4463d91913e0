package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def xs(n: Int): Seq[Double] = (1 to n).map(_.toDouble)

  test("a percentile with fewer than ten samples beyond it is refused") {
    assert(Stats.percentile(xs(99), 90).isLeft) // rank 90, nine beyond
    assert(Stats.percentile(xs(19), 50).isLeft) // rank 10, nine beyond
    assert(Stats.percentile(xs(5), 50).isLeft)
    assert(Stats.percentile(Nil, 50).isLeft)
  }

  test("a percentile with ten samples beyond it is the nearest-rank value") {
    assert(Stats.percentile(xs(100), 90) == Right(90.0))
    assert(Stats.percentile(xs(20), 50) == Right(10.0))
    assert(Stats.percentile(xs(200).reverse, 95) == Right(190.0))
  }

  test("highestSupported picks the highest percentile the sample allows") {
    assert(Stats.highestSupported(xs(100)).map(_._1).contains(90.0))
    assert(Stats.highestSupported(xs(1000)).map(_._1).contains(99.0))
    assert(Stats.highestSupported(xs(12)).isEmpty)
  }

  test("median of odd and even sets") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("geoMean weighs relative changes alike") {
    assert(math.abs(Stats.geoMean(Seq(1.0, 100.0)) - 10.0) < 1e-9)
    assert(math.abs(Stats.geoMean(Seq(2.0, 100.0)) / Stats.geoMean(Seq(1.0, 100.0)) -
      Stats.geoMean(Seq(1.0, 200.0)) / Stats.geoMean(Seq(1.0, 100.0))) < 1e-9)
    assert(math.abs(Stats.geoMean(Seq(5.0)) - 5.0) < 1e-9)
  }
}
