package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  import Stats._

  test("percentile is reported only with at least 10 samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(percentile(xs, 0.5).contains(50.0))
    assert(percentile(xs, 0.9).contains(90.0)) // 10 samples beyond
    assert(percentile(xs.take(99), 0.9).isEmpty) // rank 90 of 99: 9 beyond
    assert(percentile(xs, 0.99).isEmpty)
    assert(percentile((1 to 1000).map(_.toDouble), 0.99).contains(990.0))
    assert(percentile(xs.take(19), 0.5).isEmpty)
    assert(percentile(xs.take(20), 0.5).contains(10.0))
  }

  test("percentile does not depend on sample order") {
    val xs = scala.util.Random.shuffle((1 to 200).map(_.toDouble))
    assert(percentile(xs, 0.9).contains(180.0))
  }

  test("median of odd and even sample counts") {
    assert(median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("error rate is failed over attempted") {
    assert(errorRate(0, 120) == 0.0)
    assert(errorRate(3, 120) == 0.025)
    assertThrows[IllegalArgumentException](errorRate(0, 0))
  }

  test("event latency is one sample per stamp, to the end of its last committing batch") {
    val rows = Seq((4L, 1000L), (4L, 1200L), (5L, 1200L), (5L, 1400L))
    val ends = Map(4L -> 1500L, 5L -> 2100L)
    // the 1200 stamp's rows span batches 4 and 5: the event is in once batch 5 commits
    assert(eventLatencies(rows, ends) == Seq(500.0, 900.0, 700.0))
    assertThrows[IllegalArgumentException](eventLatencies(Seq((6L, 0L)), ends))
  }

  test("self time subtracts the union of overlapping children once") {
    val spans = Seq(
      Span(1, 0, "query", 0, 100),
      Span(2, 1, "build", 10, 40),
      Span(3, 1, "write", 30, 90), // overlaps build on [30, 40)
      Span(4, 3, "job", 35, 80),
      Span(5, 3, "job", 50, 95)) // sticks out of its parent: clipped at 90
    val self = selfTimes(spans)
    assert(self(1) == 100 - 80) // children cover [10, 90)
    assert(self(2) == 30)
    assert(self(3) == 60 - 55) // jobs cover [35, 90) within [30, 90)
    assert(self(4) == 45 && self(5) == 45)
    assert(selfTimeByName(spans)("job") == 90)
  }

  test("covered length merges touching and nested intervals") {
    assert(coveredNs(Seq((0L, 10L), (10L, 20L), (2L, 5L)), 0, 100) == 20)
    assert(coveredNs(Seq((0L, 10L), (50L, 60L)), 5, 55) == 10)
    assert(coveredNs(Nil, 0, 10) == 0)
  }

  test("jobs attribute to the span in their local properties, stages to their job") {
    val a = new Attribution
    val props = new java.util.Properties()
    props.setProperty(Attribution.SpanKey, "42")
    a.onJobStart(7, Seq(11, 12), Attribution.spanOf(props))
    a.onJobStart(8, Seq(12, 13), Attribution.spanOf(props))
    a.onJobStart(9, Seq(14), Attribution.spanOf(new java.util.Properties()))
    assert(a.spanOfJob(7).contains(42L) && a.spanOfJob(8).contains(42L))
    assert(a.jobOfStage(12).contains(7)) // a shared stage stays with its first job
    assert(a.spanOfStage(13).contains(42L))
    assert(a.spanOfJob(9).isEmpty && a.spanOfStage(14).isEmpty)
    assert(Attribution.spanOf(null).isEmpty)
  }
}
