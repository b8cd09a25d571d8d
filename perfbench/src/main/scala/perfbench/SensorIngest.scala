package perfbench

import java.io.{ByteArrayOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model.Schemas
import graft.ops.WindowedAgg
import graft.streaming.{Pipeline, Sources, TxnSink}

/** `sensor_ingest`: an open-loop producer appends JSON readings to a log
  * file that `Sources.fileTail` → `parseJson` → `dropIncomplete` →
  * `Pipeline.startDual` ingests into the raw parquet sink and the
  * watermarked 5-minute aggregate sink. Phase 1 appends at a fixed
  * rate; phase 2 appends a fixed backlog at once and times its drain.
  */
object SensorIngest {
  val Sensors = 1000
  /** Phase 1's rate: about a fifth of the dual sink's drain capacity on
    * the reference host (~10 000 readings/s), where the per-micro-batch
    * engine floor, not queueing, sets latency.
    */
  val RatePerS = 2000
  /** Event time runs this many times faster than wall time, so 5-minute
    * windows close every half second and each run sees many closings.
    */
  val TimeScale = 600.0
  val WatermarkMs: Long = 10 * 60 * 1000L
  val WindowMs: Long = 5 * 60 * 1000L
  val EpochMs = 1704067200000L // 2024-01-01 UTC
  val WarmupEvents = 4000
  val BacklogEvents = 20000
  val LateShare = 0.05
  val TooLateShare = 0.01
  /** How far before everything produced earlier a too-late reading lands.
    * The engine filters late rows against the watermark of the batch
    * before; when that batch was a whole backlog (BacklogEvents at
    * TimeScale span 100 minutes of event time), that watermark trails the
    * newest reading by nearly two hours, so an hour back is not enough.
    */
  val TooLateBackMs: Long = 6 * 3600 * 1000L
  /** The producer is behind its schedule past this lag (p99): a
    * sixteenth of the ~0.8 s raw-sink latency it feeds.
    */
  val MaxLagP99Ms = 50.0
  val CommitTimeoutMs = 60000L
  /** The tails' percentile. An untraced run's phase 1 spans ~30 raw
    * batches and ~15 aggregate batches that emit a window on the
    * reference host, so about 8 and 4 of them lie beyond it.
    */
  val TailP = 0.75

  /** Readings in production order, their wire lines, and what the
    * producer observed writing them.
    */
  final class Events(seed: Long) {
    private val rng = new SplittableRandom(seed)
    private val locations = Schemas.sensorDimRows.map(_.location).toArray
    private val baseTemp = Array.tabulate(Sensors)(i => 15.0 + (i % 17))
    val sensor = ArrayBuffer[Int]()
    val eventMs = ArrayBuffer[Long]()
    val temp = ArrayBuffer[Double]()
    val hum = ArrayBuffer[Double]()
    val press = ArrayBuffer[Double]()
    val kind = ArrayBuffer[Byte]()
    val line = ArrayBuffer[Array[Byte]]()
    private var schedMs = 0.0
    private var maxEventMs = Long.MinValue
    private var tooLateTurn = 0

    def size: Int = sensor.length

    private def round2(x: Double) = math.round(x * 100.0) / 100.0
    def sensorId(s: Int): String = f"S$s%04d"
    def location(s: Int): String = locations(s % locations.length)

    /** Append `n` readings on the nominal schedule. Late ones fall back
      * inside the watermark; too-late ones (only when `tooLate`) land
      * [[TooLateBackMs]] or more before everything produced before this
      * call, so the watermark has certainly passed their window.
      * Too-late readings take sensors in turn: no two in one micro-batch
      * share an aggregation key, so the engine drops exactly one row for
      * each.
      */
    def generate(n: Int, tooLate: Boolean): Range = {
      val from = size
      val anchor = maxEventMs
      (0 until n).foreach { _ =>
        schedMs += 1000.0 / RatePerS
        val now = EpochMs + (schedMs * TimeScale).toLong
        val r = rng.nextDouble()
        val (k, s, t) =
          if (tooLate && r < TooLateShare) {
            tooLateTurn = (tooLateTurn + 1) % Sensors
            (2, tooLateTurn, anchor - TooLateBackMs - rng.nextLong(1800000L))
          } else if (r < TooLateShare + LateShare)
            (1, rng.nextInt(Sensors), now - 30000L - rng.nextLong(510000L))
          else (0, rng.nextInt(Sensors), now)
        if (k != 2) maxEventMs = math.max(maxEventMs, t)
        val tc = round2(baseTemp(s) + rng.nextDouble() * 6.0 - 3.0)
        val hu = round2(30.0 + rng.nextDouble() * 50.0)
        val pr = round2(980.0 + rng.nextDouble() * 40.0)
        sensor += s; eventMs += t; temp += tc; hum += hu; press += pr
        kind += k.toByte
        line += (s"""{"sensor_id":"${sensorId(s)}","location":"${location(s)}",""" +
          s""""timestamp":"${java.time.Instant.ofEpochMilli(t)}",""" +
          s""""temperature":$tc,"humidity":$hu,"pressure":$pr}""" + "\n")
          .getBytes(StandardCharsets.UTF_8)
      }
      from until size
    }

    // filled in by the producer, sized once generation is done
    var offset: Array[Long] = _
    var dueMs: Array[Double] = _
    var writtenMs: Array[Double] = _
    def sealForProduction(): Unit = {
      offset = new Array[Long](size)
      dueMs = new Array[Double](size)
      writtenMs = new Array[Double](size)
    }

    def tooLateIn(r: Range): Int = r.count(i => kind(i) == 2)

    /** The readings in `r`, flagged `__too_late` where produced so. */
    def toDF(spark: SparkSession, r: Seq[Int]): DataFrame = {
      val rows = r.map(i => Row(sensorId(sensor(i)), location(sensor(i)),
        new java.sql.Timestamp(eventMs(i)), temp(i), hum(i), press(i), kind(i) == 2))
      spark.createDataFrame(rows.asJava, Schemas.sensorReading.add("__too_late", "boolean"))
    }
  }

  /** The open-loop producer: appends each line when it falls due and
    * stamps its due time, write time and byte offset.
    */
  final class Producer(file: File, ev: Events, tracer: Tracer) {
    private val out = new FileOutputStream(file, true)
    var bytes = 0L

    private def write(from: Int, to: Int, dueOf: Int => Double): Unit = {
      val buf = new ByteArrayOutputStream(64 * 1024)
      var k = from
      while (k < to) { ev.offset(k) = bytes + buf.size; buf.write(ev.line(k)); k += 1 }
      tracer.span("gen", "gen.append") { buf.writeTo(out); out.flush() }
      val w = Clock.nowMs()
      k = from
      while (k < to) { ev.dueMs(k) = dueOf(k); ev.writtenMs(k) = w; k += 1 }
      bytes += buf.size
    }

    /** Append `r` at [[RatePerS]], each line when due. */
    def openLoop(r: Range): Unit = {
      val startNs = System.nanoTime()
      val nsPer = 1e9 / RatePerS
      def dueNs(k: Int) = startNs + ((k - r.start + 1) * nsPer).toLong
      var i = r.start
      while (i < r.end) {
        val now = System.nanoTime()
        var j = i
        while (j < r.end && dueNs(j) <= now) j += 1
        if (j > i) { write(i, j, k => Clock.msOf(dueNs(k))); i = j }
        else LockSupport.parkNanos(dueNs(i) - now)
      }
    }

    /** Append `r` in one write; every line is due at once. */
    def backlog(r: Range): Double = {
      val at = Clock.nowMs()
      write(r.start, r.end, _ => at)
      at
    }

    def close(): Unit = out.close()
  }

  /** One pipeline instance: its own log, sinks and checkpoints. */
  final class Rig(spark: SparkSession, root: File, val ev: Events,
      val log: ProgressLog, tracer: Tracer) {
    root.mkdirs()
    private val logFile = new File(root, "readings.jsonl")
    logFile.createNewFile()
    val outDir = new File(root, "out").getAbsolutePath
    val queries: Seq[StreamingQuery] = Pipeline.startDual(
      Sources.dropIncomplete(Sources.parseJson(
        Sources.fileTail(spark, logFile.getAbsolutePath, "earliest"))),
      outDir, new File(root, "ckpt").getAbsolutePath)
    val Seq(raw, agg) = queries
    val producer = new Producer(logFile, ev, tracer)

    private def committed(q: StreamingQuery): Long =
      Option(q.lastProgress).flatMap(p => p.sources.headOption)
        .map(s => s.endOffset.trim.toLong).getOrElse(0L)

    /** Wait until both queries have run a batch and committed every
      * produced byte and, when `watermarkMs` is given, the aggregate has
      * applied it. Stopping only after this never interrupts a batch.
      */
    def awaitCommitted(watermarkMs: Option[Long] = None): Boolean = {
      val deadline = System.nanoTime() + CommitTimeoutMs * 1000000L
      def done = queries.forall(q => q.lastProgress != null && committed(q) >= producer.bytes) &&
        watermarkMs.forall(w => Option(agg.lastProgress)
          .flatMap(p => Option(p.eventTime.get("watermark")))
          .exists(s => java.time.Instant.parse(s).toEpochMilli >= w))
      while (!done && queries.forall(_.isActive) && System.nanoTime() < deadline)
        Thread.sleep(2)
      done
    }

    def stop(): Unit = {
      queries.foreach(_.stop())
      producer.close()
      queries.foreach(q => log.awaitCaughtUp(q, 10000))
    }
  }

  /** What one measured window produced. */
  final case class Measured(phase1: Range, backlog: Range, backlogAtMs: Double,
      startMs: Double, endMs: Double, traced: Boolean)

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val res = new Result
    val log = new ProgressLog
    spark.streams.addListener(log)
    val phase1Events = (ctx.windowSeconds * RatePerS).toInt

    // the readings, generated once: the benchmark's input, not the
    // program's set-up
    val ev = new Events(ctx.seed)
    val warm = (ev.generate(WarmupEvents, tooLate = false),
      ev.generate(BacklogEvents, tooLate = false))
    val plan = ctx.windows.map { _ =>
      (ev.generate(phase1Events, tooLate = true),
        ev.generate(BacklogEvents, tooLate = true))
    }
    ev.sealForProduction()

    // set-up: start both queries, through their first batch (repeated);
    // then the warm-up ingest on the last instance
    var rig: Rig = null
    (1 to ctx.setupReps).foreach { rep =>
      if (rig != null) rig.stop()
      ctx.timeSetup {
        rig = new Rig(spark, new File(ctx.work, s"ingest-$rep"), ev, log, ctx.tracer)
        if (!rig.awaitCommitted()) res.problem(s"set-up $rep: queries never started")
      }
    }
    ctx.timeWarmup {
      rig.producer.openLoop(warm._1)
      if (!rig.awaitCommitted()) res.problem("warm-up never committed")
      rig.producer.backlog(warm._2)
      if (!rig.awaitCommitted()) res.problem("warm-up backlog never drained")
    }
    ctx.mark("setup")

    // measure: per window, phase 1 at the fixed rate, then the backlog
    val measured = plan.zip(ctx.windows).map { case ((p1, bl), traced) =>
      ctx.tracer.enabledFor(traced) {
        val start = Clock.nowMs()
        rig.producer.openLoop(p1)
        if (!rig.awaitCommitted()) res.problem("phase 1 never committed")
        ctx.mark("phase1")
        val at = rig.producer.backlog(bl)
        if (!rig.awaitCommitted()) res.problem("backlog never drained")
        ctx.mark("backlog")
        Measured(p1, bl, at, start, Clock.nowMs(), traced)
      }
    }

    // clean stop: every byte committed and the final watermark applied
    val all = 0 until ev.size
    val maxEvent = all.filter(i => ev.kind(i) != 2).map(ev.eventMs(_)).max
    val finalWm = maxEvent - WatermarkMs
    if (!rig.awaitCommitted(Some(finalWm)))
      res.problem("aggregate never reached the final watermark")
    rig.stop()
    ctx.mark("stop")
    spark.streams.removeListener(log)
    log.errors.forEach(e => res.problem(e))

    val rawB = log.batches(rig.raw)
    val aggB = log.batches(rig.agg)
    val emitted = emittedWindows(ev, aggB)

    checkOutputs(ctx, rig, finalWm, aggB, res)
    ctx.mark("checks")

    // latencies pooled over the untraced windows, the drain rate their median
    val untraced = measured.filterNot(_.traced).map(windowSamples(ev, _, rawB, aggB, emitted))
    val rawLat = untraced.flatMap(_.rawLat)
    val aggLat = untraced.flatMap(_.aggLat)
    val rawP50 = Stats.median(rawLat)
    val aggP50 = Stats.median(aggLat)
    val rawTail = res.tail("ingest_raw_tail_ms",
      Stats.tail(rawLat, untraced.flatMap(_.rawGroup), TailP))
    val aggTail = res.tail("ingest_agg_tail_ms",
      Stats.tail(aggLat, untraced.flatMap(_.aggGroup), TailP))
    val drainEps = Stats.median(untraced.map(_.drainEps))
    ctx.samples("raw_p50_ms_by_window") = untraced.map(u => Stats.median(u.rawLat))
    ctx.samples("agg_p50_ms_by_window") = untraced.map(u => Stats.median(u.aggLat))
    ctx.samples("drain_eps_by_window") = untraced.map(_.drainEps)
    res.named("ingest_raw_p50_ms") = (rawP50, "ms")
    res.named("ingest_raw_tail_ms") = (rawTail, "ms")
    res.named("ingest_agg_p50_ms") = (aggP50, "ms")
    res.named("ingest_agg_tail_ms") = (aggTail, "ms")
    res.named("ingest_drain_eps") = (drainEps, "1/s")
    res.e2e("latency_p50_ms") = (rawP50, "ms")
    res.e2e("latency_tail_ms") = (rawTail, "ms")
    res.e2e("latency2_p50_ms") = (aggP50, "ms")
    res.e2e("latency2_tail_ms") = (aggTail, "ms")
    res.e2e("throughput_per_s") = (drainEps, "1/s")

    // open-loop honesty: the producer must have kept its schedule in
    // every window; the figures are each window's worst
    val lags = measured.map { w =>
      val lag = w.phase1.map(i => ev.writtenMs(i) - ev.dueMs(i))
      val p99 = Stats.quantile(lag, 0.99)
      if (p99 > MaxLagP99Ms)
        res.problem(f"invalid run: producer lag p99 $p99%.1f ms > $MaxLagP99Ms ms")
      (w.traced, p99, lag.max)
    }
    lags.groupBy(_._1).foreach { case (traced, ls) =>
      val tag = if (traced) ".traced" else ""
      res.named(s"gen.lag_p99_ms$tag") = (ls.map(_._2).max, "ms")
      res.named(s"gen.lag_max_ms$tag") = (ls.map(_._3).max, "ms")
    }

    measured.find(_.traced).foreach { w =>
      val tracedP50 = Stats.median(windowSamples(ev, w, rawB, aggB, emitted).rawLat)
      layerMetrics(ctx, rig, ev, w, rawB, aggB, res)
      res.layer("trace_overhead_pct") =
        (ctx.overheadPct(tracedP50, untraced.map(u => Stats.median(u.rawLat))), "%")
      res.named("trace.traced_ingest_raw_p50_ms") = (tracedP50, "ms")
    }
    res
  }

  /** One window's latency samples (with the batch that committed each)
    * and its drain rate.
    */
  final case class WindowSamples(rawLat: Seq[Double], rawGroup: Seq[Long],
      aggLat: Seq[Double], aggGroup: Seq[Long], drainEps: Double)

  /** (window end ms, agg batch that emitted it): append mode emits a
    * window in the first batch whose watermark has reached its end.
    */
  private def emittedWindows(ev: Events, aggB: IndexedSeq[Batch]): Map[Long, Long] = {
    val ends = ev.eventMs.indices.filter(ev.kind(_) != 2)
      .map(i => Math.floorDiv(ev.eventMs(i), WindowMs) * WindowMs + WindowMs).distinct
    val wms = aggB.map(_.watermarkMs.getOrElse(Long.MinValue))
    ends.flatMap { end =>
      val k = wms.indexWhere(_ >= end)
      if (k < 0) None else Some(end -> aggB(k).id)
    }.toMap
  }

  private def windowSamples(ev: Events, w: Measured, rawB: IndexedSeq[Batch],
      aggB: IndexedSeq[Batch], emitted: Map[Long, Long]): WindowSamples = {
    val ends = rawB.map(_.endOffset)
    // raw: commit of the batch holding the event's first byte minus due
    val (rawLat, rawGroup) = w.phase1.flatMap { i =>
      val b = Stats.batchOf(ends, ev.offset(i))
      if (b < 0) None else Some((rawB(b).endMs - ev.dueMs(i), rawB(b).id))
    }.unzip
    // agg: commit of the window's row minus due time of the first
    // reading that made the window closable
    val runningMax = ev.eventMs.indices.scanLeft(Long.MinValue) { (m, i) =>
      if (ev.kind(i) == 2) m else math.max(m, ev.eventMs(i)) }.tail.toIndexedSeq
    val aggCommit = aggB.map(b => b.id -> b.endMs).toMap
    val (aggLat, aggGroup) = emitted.toSeq.flatMap { case (end, batch) =>
      val c = Stats.closingEvent(runningMax, end, WatermarkMs)
      if (c < w.phase1.start || c >= w.phase1.end) None
      else aggCommit.get(batch).map(t => (t - ev.dueMs(c), batch))
    }.unzip
    // drained: both queries committed the backlog's last byte
    val lastByte = ev.offset(w.backlog.end - 1)
    val drained = Seq(rawB, aggB).map { bs =>
      val b = Stats.batchOf(bs.map(_.endOffset), lastByte)
      if (b < 0) Double.NaN else bs(b).endMs
    }.max
    WindowSamples(rawLat, rawGroup, aggLat, aggGroup,
      if (drained.isNaN) Double.NaN
      else Stats.drainRate(w.backlog.length, w.backlogAtMs, drained))
  }

  private def checkOutputs(ctx: Ctx, rig: Rig, finalWm: Long,
      aggB: IndexedSeq[Batch], res: Result): Unit = {
    val spark = ctx.spark
    val ev = rig.ev
    val all = 0 until ev.size
    val expected = ev.toDF(spark, all).cache()
    val kept = expected.filter(!col("__too_late")).drop("__too_late")
    // raw sink: every produced reading, once
    val raw = spark.read.parquet(s"${rig.outDir}/raw")
    val cols = Schemas.sensorReading.fieldNames.toSeq
    val (rawN, rawH) = Checks.countAndHash(raw, cols)
    val (expN, expH) = Checks.countAndHash(expected, cols)
    val rawBad = if (rawN == expN && rawH == expH) 0L
      else Checks.symmetricDiff(expected.drop("__too_late"), raw)
    res.check("raw sink rows", expN, rawBad)
    ctx.mark("check.raw")
    // agg sink: the batch rollup of every reading the watermark admitted
    val want = WindowedAgg.sensorRollup(kept)
      .filter(col("window_end") <= new java.sql.Timestamp(finalWm))
    val got = TxnSink.committedRead(spark, s"${rig.outDir}/agg")
    val (aggN, aggBad) = Checks.compareKeyed(want, got,
      Seq("sensor_id", "window_start", "window_end"),
      Schemas.sensorAggregate.fieldNames.drop(3).toSeq)
    res.check("agg sink windows", aggN, aggBad)
    // the engine dropped exactly the readings produced too late
    val tooLate = ev.tooLateIn(all)
    val dropped = aggB.map(_.droppedByWatermark).sum
    res.check("rows dropped by watermark", tooLate,
      math.abs(dropped - tooLate))
    res.named("gen.events") = (ev.size.toDouble, "count")
    res.named("gen.too_late") = (tooLate.toDouble, "count")
    res.named("agg.rows_dropped_by_watermark") = (dropped.toDouble, "count")
    expected.unpersist()
  }

  private def p50(xs: Seq[Long]): Double = Stats.median(xs.map(_.toDouble))

  private val PhaseOrder = Seq("latestOffset", "getBatch", "queryPlanning",
    "addBatch", "walCommit", "commitOffsets")
  private val PhaseLayer = Map("latestOffset" -> "source", "getBatch" -> "source")

  /** Spans of one micro-batch, rebuilt from its progress event: the
    * engine's phases in their execution order.
    */
  private def batchSpans(tracer: Tracer, q: String, b: Batch): Seq[Span] = {
    val op = s"$q.${b.id}"
    val root = Span(tracer.nextId(), 0, op, "engine", s"$q.batch", b.startMs, b.endMs)
    var t = b.startMs
    val kids = PhaseOrder.flatMap { ph =>
      b.phases.get(ph).map { d =>
        val s = Span(tracer.nextId(), root.id, op, PhaseLayer.getOrElse(ph, "engine"),
          s"$q.$ph", t, t + d)
        t += d
        s
      }
    }
    root +: kids
  }

  private def layerMetrics(ctx: Ctx, rig: Rig, ev: Events, w: Measured,
      rawB: IndexedSeq[Batch], aggB: IndexedSeq[Batch], res: Result): Unit = {
    def inWindow(bs: IndexedSeq[Batch]) =
      bs.filter(b => b.startMs >= w.startMs && b.endMs <= w.endMs + 1)
    val rw = inWindow(rawB)
    val aw = inWindow(aggB)
    // source: bytes produced but not yet committed, at each raw commit
    val written = w.phase1.map(i => (ev.writtenMs(i), ev.offset(i) + ev.line(i).length))
    val backlog = rw.map { b =>
      written.filter(_._1 <= b.endMs).map(_._2).maxOption.getOrElse(0L) - b.endOffset }
    res.named("source.backlog_bytes_max") = (backlog.maxOption.getOrElse(0L).toDouble, "bytes")
    res.named("source.latest_offset_ms") = (p50((rw ++ aw).map(_.phases.getOrElse("latestOffset", 0L))), "ms")
    res.named("source.get_batch_ms") = (p50((rw ++ aw).map(_.phases.getOrElse("getBatch", 0L))), "ms")
    Seq("raw" -> rw, "agg" -> aw).foreach { case (q, bs) =>
      def ph(k: String) = p50(bs.map(_.phases.getOrElse(k, 0L)))
      res.named(s"$q.batches") = (bs.length.toDouble, "count")
      res.named(s"$q.rows_per_batch_p50") = (p50(bs.map(_.rows)), "count")
      res.named(s"$q.trigger_ms_p50") = (ph("triggerExecution"), "ms")
      res.named(s"$q.query_planning_ms_p50") = (ph("queryPlanning"), "ms")
      res.named(s"$q.add_batch_ms_p50") = (ph("addBatch"), "ms")
      res.named(s"$q.wal_commit_ms_p50") = (ph("walCommit"), "ms")
      res.named(s"$q.commit_offsets_ms_p50") = (ph("commitOffsets"), "ms")
    }
    res.named("agg.state_rows") = (aw.lastOption.map(_.stateRows).getOrElse(0L).toDouble, "count")
    res.named("agg.state_memory_bytes") = (aw.lastOption.map(_.stateMemoryBytes).getOrElse(0L).toDouble, "bytes")
    res.named("agg.state_commit_ms_p50") = (p50(aw.map(_.stateCommitMs)), "ms")
    // sinks, counted on disk after the run
    val rawFiles = Option(new File(s"${rig.outDir}/raw").listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.startsWith("part-"))
    res.named("sink.raw_files") = (rawFiles.length.toDouble, "count")
    res.named("sink.raw_bytes") = (rawFiles.map(_.length).sum.toDouble, "bytes")
    res.named("sink.agg_files") = (TxnSink.committedFiles(ctx.spark, s"${rig.outDir}/agg").length.toDouble, "count")
    // batches as spans, jobs inside
    val spans = Seq("raw" -> rw, "agg" -> aw).flatMap { case (q, bs) =>
      bs.flatMap(b => batchSpans(ctx.tracer, q, b))
    }
    val queryOf = Map(rig.raw.id.toString -> "raw", rig.agg.id.toString -> "agg")
    Layers.report(ctx, res, spans, w.startMs, w.endMs,
      job => for (q <- job.queryId.flatMap(queryOf.get); b <- job.batchId) yield s"$q.$b",
      isOp = _.name.endsWith(".batch"),
      planningMs = (rw ++ aw).map(_.phases.getOrElse("queryPlanning", 0L)).sum.toDouble,
      bytesRead = Some((rw ++ aw).map(b => (b.endOffset - b.startOffset).toDouble).sum),
      filesRead = (rw ++ aw).count(_.rows > 0).toDouble)
  }
}
