package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private def span(id: Long, parent: Long, start: Long, end: Long) =
    Span(id, parent, 0L, s"s$id", 1L, start, end)

  test("union length counts overlapping intervals once") {
    assert(Tracer.covers(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L)
    assert(Tracer.covers(Seq((20L, 30L), (0L, 10L), (10L, 20L))) == 30L)
    assert(Tracer.covers(Seq((5L, 5L), (7L, 3L))) == 0L)
    assert(Tracer.covers(Nil) == 0L)
  }

  test("self time is duration minus the children's covered interval") {
    val spans = Seq(
      span(1, 0, 0, 100),
      span(2, 1, 10, 30), span(3, 1, 20, 50), // overlap: cover 10..50
      span(4, 1, 90, 120), // clipped to the parent: covers 90..100
      span(5, 2, 12, 18))
    val self = Tracer.selfTimes(spans)
    assert(self == Map(1L -> 50L, 2L -> 14L, 3L -> 30L, 4L -> 30L, 5L -> 6L))
  }

  test("coverage is the lanes' layer-span time over lanes x wall time") {
    val spans = Seq(
      span(1, 0, 0, 100), span(2, 1, 0, 40), span(3, 2, 5, 35),
      span(4, 1, 60, 100), // lane s1: 80 of [0, 100) inside layer spans
      span(5, 0, 10, 70), span(6, 5, 20, 30), // lane s5: 10
      span(7, 0, 0, 100), span(8, 7, 0, 100)) // s7 is not a measured lane
    // nested spans: the covered time is the self time below each root
    val self = Tracer.selfTimes(spans)
    assert(Seq(2L, 3L, 4L).map(self).sum == 80L)
    assert(Tracer.coverage(spans, Set("s1", "s5"), 0L, 100L) == 90.0 / 200)
    // clipped to the window [50, 100): s1 covers 40, s5 nothing
    assert(Tracer.coverage(spans, Set("s1", "s5"), 50L, 100L) == 40.0 / 100)
    assert(Tracer.coverage(spans, Set("s7"), 0L, 100L) == 1.0)
    // a lane that recorded no root span counts as uncovered
    assert(Tracer.coverage(spans, Set("s7", "missing"), 0L, 100L) == 0.5)
  }
}
