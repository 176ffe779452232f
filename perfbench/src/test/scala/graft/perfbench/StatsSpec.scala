package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("percentile interpolates linearly between order statistics") {
    val xs = Seq(5.0, 1.0, 4.0, 2.0, 3.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 5.0)
    assert(Stats.percentile(xs, 50) == 3.0)
    assert(math.abs(Stats.percentile(xs, 80) - 4.2) < 1e-12)
    // statistics.quantiles([1, 2, 3, 4], n=4, method="inclusive") == [1.75, 2.5, 3.25]
    val ys = Seq(1.0, 2.0, 3.0, 4.0)
    assert(Stats.percentile(ys, 25) == 1.75)
    assert(Stats.median(ys) == 2.5)
    assert(Stats.percentile(ys, 75) == 3.25)
  }

  test("percentile of one sample is that sample; empty samples are refused") {
    assert(Stats.percentile(Seq(7.5), 80) == 7.5)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
    assertThrows[IllegalArgumentException](Stats.percentile(Seq(1.0), 101))
  }

  test("json numbers keep every digit and strings are escaped") {
    assert(Json.num(1.2034567891) == "1.2034567891")
    assert(Json.num(3.0) == "3")
    assert(Json.num(Double.NaN) == "null")
    assert(Json.str("a\"b\\c\n") == "\"a\\\"b\\\\c\\n\"")
  }
}
