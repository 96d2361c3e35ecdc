package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("quantile interpolates linearly between ranks") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.quantile(xs, 0.0) == 1.0)
    assert(Stats.quantile(xs, 1.0) == 4.0)
    assert(Stats.median(xs) == 2.5)
    assert(math.abs(Stats.quantile(xs, 0.25) - 1.75) < 1e-12)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("tail is the highest percentile with ten samples beyond it") {
    val xs = (1 to 488).map(_.toDouble)
    val (pct, v) = Stats.tail(xs)
    // rank 478 of 488 leaves exactly ten samples above it
    assert(v == 478.0)
    assert(xs.count(_ > v) == 10)
    assert(math.abs(pct - 100.0 * 477 / 487) < 1e-9)
    val (p21, v21) = Stats.tail((1 to 21).map(_.toDouble))
    assert(v21 == 11.0 && p21 == 50.0)
  }

  test("samples too small for a tail report their maximum") {
    assert(Stats.tail(Seq(3.0, 9.0, 1.0)) == ((100.0, 9.0)))
    assert(Stats.tail((1 to 20).map(_.toDouble))._2 == 20.0)
  }
}
