package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("a tail is never reported with fewer than ten samples beyond it") {
    val rnd = new scala.util.Random(7)
    (0 to 300).foreach { n =>
      val xs = Seq.fill(n)(rnd.nextDouble())
      Stats.tail(xs) match {
        case None => assert(n <= Stats.TailBeyond)
        case Some(t) =>
          assert(n > Stats.TailBeyond)
          assert(xs.count(_ > t.value) == Stats.TailBeyond)
          assert(t.samples == n)
          assert(math.abs(t.percentile - 100.0 * (n - 10) / n) < 1e-9)
      }
    }
  }

  test("the tail is the eleventh largest sample") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs).contains(Stats.Tail(90.0, 90.0, 100)))
    assert(Stats.tail((1 to 11).map(_.toDouble)).map(_.value).contains(1.0))
  }

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("self time subtracts the children's union, clipped to the span") {
    assert(Stats.selfTime((0, 10), Nil) == 10)
    assert(Stats.selfTime((0, 10), Seq((2, 4), (6, 7))) == 7)
    // Overlapping children count once.
    assert(Stats.selfTime((0, 10), Seq((2, 6), (4, 8))) == 4)
    // Children reaching outside the span only count inside it.
    assert(Stats.selfTime((0, 10), Seq((-5, 3), (9, 20))) == 6)
    // A child covering the whole span leaves nothing.
    assert(Stats.selfTime((0, 10), Seq((0, 10), (1, 2))) == 0)
    // Empty or reversed intervals cover nothing.
    assert(Stats.selfTime((0, 10), Seq((5, 5), (7, 6))) == 10)
  }
}
