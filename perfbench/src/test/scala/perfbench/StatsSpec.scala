package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  private def samples(n: Int): Seq[Double] = (1 to n).map(_.toDouble).reverse

  test("tail picks the highest ladder percentile with ten samples beyond it") {
    assert(Stats.tail(samples(19)).isEmpty)
    assert(Stats.tail(samples(20)).contains(Stats.Tail(50.0, 10.0, 20, 10)))
    assert(Stats.tail(samples(39)).map(_.pct).contains(50.0))
    assert(Stats.tail(samples(40)).contains(Stats.Tail(75.0, 30.0, 40, 10)))
    assert(Stats.tail(samples(100)).contains(Stats.Tail(90.0, 90.0, 100, 10)))
    assert(Stats.tail(samples(200)).contains(Stats.Tail(95.0, 190.0, 200, 10)))
    assert(Stats.tail(samples(1000)).contains(Stats.Tail(99.0, 990.0, 1000, 10)))
    assert(Stats.tail(samples(10000)).contains(Stats.Tail(99.9, 9990.0, 10000, 10)))
  }

  test("tail never reports a percentile with fewer than ten samples beyond it") {
    (1 to 300).foreach { n =>
      Stats.tail(samples(n)).foreach(t => assert(t.beyond >= Stats.MinBeyond, s"n=$n"))
    }
  }

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("unionLength counts overlapping intervals once") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L), (24L, 24L))) == 20L)
    assert(Stats.unionLength(Nil) == 0L)
  }
}
