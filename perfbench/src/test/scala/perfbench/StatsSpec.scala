package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("interval union counts overlapping and nested intervals once") {
    assert(Stats.unionLength(Nil) == 0L)
    assert(Stats.unionLength(Seq((0L, 10L), (20L, 25L))) == 15L)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L))) == 15L)  // overlapping
    assert(Stats.unionLength(Seq((0L, 30L), (5L, 10L), (12L, 20L))) == 30L)  // nested
    assert(Stats.unionLength(Seq((12L, 20L), (0L, 30L), (40L, 45L), (44L, 50L))) == 40L)
    assert(Stats.unionLength(Seq((0L, 10L), (10L, 20L))) == 20L)  // touching
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 3L))) == 0L)  // empty and inverted
  }

  test("driver gap is the window not covered by any job, jobs clipped to it") {
    assert(Stats.gap((0L, 100L), Nil) == 100L)
    assert(Stats.gap((0L, 100L), Seq((10L, 30L), (20L, 40L), (25L, 35L))) == 70L)
    assert(Stats.gap((0L, 100L), Seq((-50L, 10L), (90L, 200L))) == 80L)
    assert(Stats.gap((0L, 100L), Seq((200L, 300L))) == 100L)
  }

  test("tail is the highest percentile with at least ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    val t = Stats.tail(xs).get
    assert(t.percentile == 90 && t.value == 90.0 && t.samples == 100)
    // 20 samples: only the median leaves ten above it
    val t20 = Stats.tail((1 to 20).map(_.toDouble)).get
    assert(t20.percentile == 50 && t20.value == 10.0)
    // 11 samples: nearest rank 1 is the only rank with ten beyond it
    assert(Stats.tail((1 to 11).map(_.toDouble)).get.value == 1.0)
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    // order of the input does not matter
    assert(Stats.tail(xs.reverse) == Stats.tail(xs))
  }

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }
}
