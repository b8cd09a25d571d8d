package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("quantile interpolates linearly between order statistics") {
    assert(Stats.quantile(Seq(4.0, 1.0, 3.0, 2.0), 0.5) == 2.5)
    assert(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0.9) == 4.6)
    assert(Stats.quantile(Seq.empty, 0.5).isNaN)
  }

  test("batchOf maps a byte offset to the first batch whose end passes it") {
    // batch 2 is empty: it ends where batch 1 ended
    val ends = IndexedSeq(100L, 250L, 250L, 400L)
    assert(Stats.batchOf(ends, 0) == 0)
    assert(Stats.batchOf(ends, 99) == 0)
    assert(Stats.batchOf(ends, 100) == 1)
    assert(Stats.batchOf(ends, 249) == 1)
    assert(Stats.batchOf(ends, 250) == 3)
    assert(Stats.batchOf(ends, 399) == 3)
    assert(Stats.batchOf(ends, 400) == -1) // not committed yet
    assert(Stats.batchOf(IndexedSeq.empty, 0) == -1)
  }

  test("tail reads the given percentile and counts the samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    val t = Stats.tail(xs, 0.9)
    assert(t.percentile == 0.9)
    assert(math.abs(t.value - 90.1) < 1e-9)
    assert(t.beyond == 10 && t.samples == 100)
    // a fixed percentile stays put when the sample count moves
    val t60 = Stats.tail((1 to 60).map(_.toDouble), 0.9)
    assert(t60.percentile == 0.9 && t60.beyond == 6)
  }

  test("tail counts samples that share a micro-batch once") {
    // 200 events in 40 batches of 5: 40 independent samples
    val values = (0 until 200).map(i => (i / 5) * 10.0 + i % 5)
    val groups = (0 until 200).map(i => (i / 5).toLong)
    val t = Stats.tail(values, groups, 0.75)
    assert(t.samples == 40 && t.percentile == 0.75)
    assert(t.beyond == 10)
  }

  test("drainRate is the backlog over the time to its last commit") {
    assert(Stats.drainRate(30000, 1000.0, 4000.0) == 10000.0)
    assertThrows[IllegalArgumentException](Stats.drainRate(1, 5.0, 5.0))
  }

  test("closingEvent finds the first event at or past window end + watermark") {
    // running max of event time in production order
    val runningMax = IndexedSeq(0L, 5L, 5L, 9L, 12L)
    assert(Stats.closingEvent(runningMax, windowEndMs = 3, watermarkMs = 2) == 1)
    assert(Stats.closingEvent(runningMax, windowEndMs = 4, watermarkMs = 2) == 3)
    assert(Stats.closingEvent(runningMax, windowEndMs = 10, watermarkMs = 2) == 4)
    assert(Stats.closingEvent(runningMax, windowEndMs = 11, watermarkMs = 2) == -1)
  }

  test("unionLength merges overlaps and clips to the span") {
    val iv = Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0))
    assert(Stats.unionLength(iv, 0.0, 10.0) == 4.0)
    assert(Stats.unionLength(iv, 1.0, 5.5) == 2.5)
    assert(Stats.unionLength(Seq.empty, 0.0, 1.0) == 0.0)
  }
}
