package perfbench

/** The benchmark's own arithmetic, kept pure so `StatsSpec` can pin it. */
object Stats {

  /** Linear-interpolated quantile (the R-7 / numpy default) of `xs`,
    * `p` in [0, 1]. NaN on an empty sample.
    */
  def quantile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val h = (s.length - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.ceil(h).toInt
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** A tail figure: the percentile chosen, its value, and how many
    * independent samples lie beyond it.
    */
  final case class Tail(percentile: Double, value: Double, beyond: Int,
      samples: Int)

  /** The tail at percentile `p` of `values`. A workload fixes `p` as a
    * constant, so the estimator stays put when a change to the program
    * yields more or fewer samples. Samples sharing a `group` (events that
    * committed in one micro-batch) are one independent sample; `beyond`
    * counts the groups above the value.
    */
  def tail(values: Seq[Double], groups: Seq[Long], p: Double): Tail = {
    require(values.length == groups.length, "one group per value")
    val v = quantile(values, p)
    val beyond = values.zip(groups).collect { case (x, g) if x > v => g }.distinct.length
    Tail(p, v, beyond, groups.distinct.length)
  }

  /** [[tail]] where every sample is its own group. */
  def tail(values: Seq[Double], p: Double): Tail =
    tail(values, values.indices.map(_.toLong), p)

  /** The micro-batch that committed the byte at `offset`: the first batch
    * whose end offset is past it. `endOffsets` are the committed end
    * offsets in batch order (non-decreasing; line-aligned exclusive ends).
    * -1 when no batch has reached the offset yet.
    */
  def batchOf(endOffsets: IndexedSeq[Long], offset: Long): Int = {
    var lo = 0
    var hi = endOffsets.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (endOffsets(mid) > offset) hi = mid else lo = mid + 1
    }
    if (lo == endOffsets.length) -1 else lo
  }

  /** Capacity from a drained backlog: events per second between the
    * append and the commit of its last byte.
    */
  def drainRate(events: Long, appendedAtMs: Double,
      drainedAtMs: Double): Double = {
    require(drainedAtMs > appendedAtMs, "drain must end after it starts")
    events * 1000.0 / (drainedAtMs - appendedAtMs)
  }

  /** Index of the first produced event that makes a window ending at
    * `windowEndMs` closable: its event time reaches window end +
    * watermark delay. `runningMaxEventMs` is the running maximum of
    * event time in production order (non-decreasing). -1 if none does.
    */
  def closingEvent(runningMaxEventMs: IndexedSeq[Long], windowEndMs: Long,
      watermarkMs: Long): Int = {
    val target = windowEndMs + watermarkMs
    var lo = 0
    var hi = runningMaxEventMs.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (runningMaxEventMs(mid) >= target) hi = mid else lo = mid + 1
    }
    if (lo == runningMaxEventMs.length) -1 else lo
  }

  /** Total length of the union of intervals, each clipped to
    * [`from`, `to`] — the part of a span its children cover.
    */
  def unionLength(intervals: Seq[(Double, Double)], from: Double,
      to: Double): Double = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) total += curB - curA
    total
  }
}
