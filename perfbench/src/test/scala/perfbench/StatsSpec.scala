package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def samples(n: Int): Seq[Double] = (1 to n).map(_.toDouble).reverse

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("tail is p90 once ten samples lie beyond it") {
    val (q, v) = Stats.tail(samples(100))
    assert(q == 0.9)
    assert(v == 90.0)
    assert(samples(100).count(_ > v) == 10)
  }

  test("with fewer samples the tail drops to the highest percentile with ten beyond it") {
    val (q, v) = Stats.tail(samples(50))
    assert(q == 0.8)
    assert(samples(50).count(_ > v) == 10)
    Seq(23, 37, 64, 99).foreach { n =>
      val (qn, vn) = Stats.tail(samples(n))
      assert(qn < 0.9)
      assert(samples(n).count(_ > vn) >= 10, s"n=$n q=$qn")
    }
  }

  test("too few samples for any tail fall back to the median") {
    val xs = samples(15)
    assert(Stats.tail(xs) == ((0.5, Stats.median(xs))))
  }
}
