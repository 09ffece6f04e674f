package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def ramp(n: Int) = (1 to n).map(_.toDouble)

  test("the tail is the highest percentile with at least 10 samples beyond it") {
    val cases = Seq(40 -> 75.0, 99 -> 75.0,
      100 -> 90.0, 199 -> 90.0, 200 -> 95.0, 1000 -> 99.0, 10000 -> 99.9)
    for ((n, p) <- cases) {
      val t = Stats.tail(ramp(n)).get
      assert(t.percentile == p, s"n=$n")
      assert(t.beyond >= 10, s"n=$n")
      assert(ramp(n).count(_ > t.value) == t.beyond, s"n=$n")
    }
    assert(Stats.tail(ramp(40)).get == Stats.Tail(75, 30, 10))
    assert(Stats.tail(ramp(100)).get == Stats.Tail(90, 90, 10))
  }

  test("too few samples give no tail") {
    assert(Stats.tail(ramp(39)).isEmpty)
    assert(Stats.tail(Nil).isEmpty)
  }

  test("median and interval union") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 12L), (20L, 25L))) == 17)
    assert(Stats.unionLength(Nil) == 0)
  }
}
