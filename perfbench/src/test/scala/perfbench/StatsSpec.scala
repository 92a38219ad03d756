package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentiles") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 95) == 95.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 50) == 2.0)
    assert(Stats.median(Seq(5.0)) == 5.0)
  }

  test("the tail percentile is the highest one with at least 10 samples beyond it") {
    assert(Stats.beyond(200, 95) == 10)
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(199).contains(90.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(19).isEmpty)
  }

  test("union length of overlapping intervals") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20L)
    assert(Stats.unionLength(Seq((3L, 3L), (4L, 2L))) == 0L)
    assert(Stats.unionLength(Nil) == 0L)
  }

  test("self time and unattributed share of a span tree") {
    val spans = Seq(
      Span(1, 1, 0, "statement", "op", 0, 100),
      Span(1, 2, 1, "bql.plan", "bql", 0, 40),
      Span(1, 3, 2, "catalyst.analysis", "catalyst", 10, 20),
      Span(1, 4, 1, "exec.materialize", "exec", 40, 95))
    val self = Trace.selfTimes(spans)
    assert(self(1) == 5 && self(2) == 30 && self(3) == 10 && self(4) == 55)
    assert(Trace.selfByLayer(spans) == Map("op" -> 5L, "bql" -> 30L, "catalyst" -> 10L, "exec" -> 55L))
    assert(Trace.unattributedPct(spans, 100, countGaps = true) == 5.0)
    // 20 ns of the phase ran outside every operation
    assert(Trace.unattributedPct(spans, 120, countGaps = true) == 100.0 * 25 / 120)
  }

  test("a structural span of layer op counts its uncovered time as unattributed") {
    // a landed file: 30 ns queued, then a batch whose phases cover 50 of its 70 ns
    val spans = Seq(
      Span(1, 1, 0, "file", "op", 0, 100),
      Span(1, 2, 1, "streaming.queue_wait", "streaming", 0, 30),
      Span(1, 3, 1, "batch", "op", 30, 100),
      Span(1, 4, 3, "streaming.addBatch", "streaming", 30, 70),
      Span(1, 5, 3, "streaming.commitOffsets", "streaming", 80, 90))
    assert(Trace.selfByLayer(spans) == Map("op" -> 20L, "streaming" -> 80L))
    assert(Trace.unattributedPct(spans, 100, countGaps = false) == 20.0)
  }
}
