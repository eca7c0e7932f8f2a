package reconbench

import org.scalatest.funsuite.AnyFunSuite

class IntervalsSpec extends AnyFunSuite {

  test("union counts overlapping and nested intervals once") {
    assert(Intervals.unionLength(Seq((0L, 10L), (5L, 15L), (6L, 7L), (20L, 30L))) == 25L)
    assert(Intervals.unionLength(Seq((3L, 3L))) == 0L)
    assert(Intervals.unionLength(Nil) == 0L)
  }

  test("summing overlapping job walls overstates; the union does not") {
    val jobs = Seq((0L, 60L), (10L, 70L), (20L, 80L))
    val summed = jobs.map { case (s, e) => e - s }.sum
    val wall = 100L
    assert(summed > wall)
    assert(Intervals.unionLength(Intervals.clip(jobs, 0L, wall)) <= wall)
  }

  test("self times of a span tree add up to the root's duration") {
    val spans = Seq(
      Span(1, "Harness.batch", 0, 0, 0, 100),
      Span(2, "Sources.typedScan", 1, 0, 5, 20),
      Span(3, "Reconciler.iterate", 1, 0, 20, 60),
      Span(4, "Sinks.summary", 1, 0, 60, 95),
      Span(5, "Sinks.inner", 4, 0, 70, 80))
    val self = Intervals.selfTimes(spans)
    assert(self(1) == 100 - 90)
    assert(self(4) == 35 - 10)
    assert(self.values.sum == 100)
  }
}
