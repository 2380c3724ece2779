package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail is the highest percentile with at least ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    val (v, level) = Stats.tail(xs)
    assert(v == 90.0) // 91..100 lie beyond it
    assert(xs.count(_ > v) == 10)
    assert(level == 90.0)
    // shuffled input, same answer
    assert(Stats.tail(scala.util.Random.shuffle(xs))._1 == 90.0)
    // twenty-one samples: the eleventh has exactly ten beyond it
    assert(Stats.tail((1 to 21).map(_.toDouble)) == (11.0, 100.0 * 11 / 21))
  }

  test("a sample of twenty or fewer values reports its maximum as the tail") {
    assert(Stats.tail(Seq(3.0, 9.0, 1.0)) == (9.0, 100.0))
    assert(Stats.tail((1 to 20).map(_.toDouble)) == (20.0, 100.0))
  }

  test("median interpolates between the middle values") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(5.0)) == 5.0)
  }

  test("self time subtracts the union of child intervals, clipped to the parent") {
    // parent [0, 100); children overlap each other and one sticks out
    val kids = Seq((10L, 30L), (20L, 40L), (90L, 120L))
    assert(Stats.unionLength(kids) == 60) // [10,40) + [90,120)
    assert(Stats.selfTime(0, 100, kids) == 100 - 30 - 10)
    assert(Stats.selfTime(0, 100, Nil) == 100)
    // children covering the whole parent leave no self time
    assert(Stats.selfTime(0, 100, Seq((0L, 60L), (50L, 100L))) == 0)
  }
}
