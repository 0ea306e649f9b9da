package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def ramp(n: Int) = (1 to n).map(_.toDouble)

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("nearest-rank percentile") {
    assert(Stats.percentile(ramp(100), 90) == 90.0)
    assert(Stats.percentile(ramp(10), 50) == 5.0)
    assert(Stats.percentile(ramp(3), 99) == 3.0)
  }

  test("tail is the highest percentile with at least ten samples beyond it") {
    // 100 samples: exactly 10 lie beyond p90, 5 beyond p95
    assert(Stats.tail(ramp(100)) == Some((90.0, 90.0)))
    // 99 samples: p90 has 9 beyond, so p75 (24 beyond) is the tail
    assert(Stats.tail(ramp(99)) == Some((75.0, 75.0)))
    // 1000 samples: p99 has exactly 10 beyond
    assert(Stats.tail(ramp(1000)) == Some((99.0, 990.0)))
    assert(Stats.tail(ramp(20)) == Some((50.0, 10.0)))
    // 19 samples: even the median has only 9 beyond it
    assert(Stats.tail(ramp(19)).isEmpty)
    assert(Stats.tail(Nil).isEmpty)
  }
}
