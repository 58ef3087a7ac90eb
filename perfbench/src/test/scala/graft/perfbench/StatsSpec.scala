package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("median of odd and even samples, independent of input order") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
    assert(Stats.median(Nil).isNaN)
  }

  test("percentiles interpolate linearly between ranks") {
    val xs = (1 to 101).map(_.toDouble)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 101.0)
    assert(Stats.percentile(xs, 99) == 100.0)
    assert(Stats.percentile(Seq(0.0, 10.0), 25) == 2.5)
    assertThrows[IllegalArgumentException](Stats.percentile(xs, 101))
  }

  test("metric names follow [A-Za-z0-9_.-]+, start with a letter or digit, at most 64 long") {
    Seq("setup_s", "server.pull_ms_p99", "nn.fwdbwd_ms", "a-b.c_d", "9lives")
      .foreach(n => assert(Stats.validName(n), n))
    Seq("", "_lead", ".lead", "has space", "slash/name", "pct%", "x" * 65)
      .foreach(n => assert(!Stats.validName(n), n))
  }
}
