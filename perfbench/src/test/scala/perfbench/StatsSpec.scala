package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  private def xs(n: Int) = (1 to n).map(_.toDouble)

  test("percentile reports its value, sample count and samples beyond") {
    val p = Stats.percentile(xs(40), 0.75).toOption.get
    assert(p.value == 30.0)
    assert(p.samples == 40)
    assert(p.beyond == 10)
    assert(Stats.percentile(xs(20), 0.5).toOption.get == Stats.Pct(10.0, 20, 10))
  }

  test("percentile refuses fewer than ten samples beyond it") {
    val refused = Stats.percentile(xs(39), 0.75)
    assert(refused.isLeft)
    assert(refused.left.toOption.get.contains("needs 10"))
    assert(Stats.percentile(xs(19), 0.5).isLeft)
    assert(Stats.percentile(Nil, 0.5).isLeft)
  }

  test("minSamples is the smallest count percentile accepts") {
    assert(Stats.minSamples(0.5) == 20)
    assert(Stats.minSamples(0.75) == 40)
    Seq(0.5, 0.75, 0.9).foreach { q =>
      assert(Stats.percentile(xs(Stats.minSamples(q)), q).isRight)
      assert(Stats.percentile(xs(Stats.minSamples(q) - 1), q).isLeft)
    }
  }

  test("percentile does not depend on sample order") {
    val shuffled = new scala.util.Random(7).shuffle(xs(40))
    assert(Stats.percentile(shuffled, 0.75) == Stats.percentile(xs(40), 0.75))
  }

  test("summary gives the median, the count and the highest supported tail") {
    val few = Stats.summary(xs(10))
    assert(few.median == 5.5 && few.samples == 10 && few.tail.isEmpty)
    val some = Stats.summary(xs(40))
    assert(some.tail.map(_._1).contains(0.75))
    assert(some.tail.map(_._2.value).contains(30.0))
    assert(Stats.summary(xs(100)).tail.map(_._1).contains(0.9))
    assert(Stats.summary(xs(1000)).tail.map(_._1).contains(0.99))
  }

  test("median of a run's repeats") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
  }
}
