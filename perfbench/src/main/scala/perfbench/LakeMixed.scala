package perfbench

import java.io.File
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.gen.Generator
import graft.model.Schemas
import graft.ops.{Rollups, WindowedAgg}
import graft.sources.{Layout, OccTable}

/** `lake_mixed`: one writer and one reader thread on one `graft-occ`
  * table — a 30-day base of 1-minute readings with per-file stats on
  * `timestamp`. The writer repeats append one hour → merge a correction
  * batch keyed on (`timestamp`, `sensor_id`) → `optimize` every 5th
  * cycle. The reader loops a dashboard read: the table's last hour,
  * stats-pruned, rolled up per sensor, then the reference dashboard's
  * last-day 5-minute rollup panel over a day-partitioned archive
  * (`Layout.writeByDay` / `Layout.scanDays`).
  */
object LakeMixed {
  val BaseDays = 30
  val BaseFiles = 30
  /** Days in the `Layout` archive the reader's panel reads one of. */
  val ArchiveDays = 7
  /** Writer cycles (and reads) of the warm-up: the JIT needs a few to
    * bring a cycle near its steady time.
    */
  val WarmupCycles = 4
  val Start = 1704067200L // 2024-01-01 UTC, Generator's default
  val HourS = 3600L
  val OptimizeEvery = 5
  val CorrectionMinutes = 12
  /** Hours of readings generated for the writer to append. */
  val MaxCycles = 120
  val StatsCols = Seq("timestamp")
  /** Merge keys, the stats column first: `merge` discovers candidate
    * files from the first key's per-file stats.
    */
  val Keys = Seq("timestamp", "sensor_id")
  /** Files under this size are compacted: appended hours, not base days. */
  val SmallFileBytes: Long = 64L << 10
  /** Tail percentiles. An untraced run makes ~23 reads on the reference
    * host, about 6 beyond the 75th percentile, and ~9 writer cycles;
    * one cycle in [[OptimizeEvery]] also compacts, and the 90th
    * percentile reads the compacting cycles.
    */
  val ReadTailP = 0.75
  val CycleTailP = 0.9

  private def micros(epochS: Long): Double = epochS * 1e6

  def base(spark: SparkSession, seed: Long): DataFrame =
    Generator.sensorReadings(spark, days = BaseDays, freqMinutes = 1, seed = seed)

  /** The writer's inputs, generated once and held on the driver, so a
    * verb's time is the table's work and not the generator's.
    */
  final class Inputs(spark: SparkSession, seed: Long) {
    private val firstHour = Start + BaseDays * 86400L
    private val lastDay = Start + (BaseDays - 1) * 86400L
    private def epochS(r: Row) = r.getTimestamp(2).getTime / 1000
    private val hours: Map[Long, Seq[Row]] =
      Generator.sensorReadings(spark, days = MaxCycles / 24, freqMinutes = 1, seed = seed,
        startEpochSec = firstHour).collect().toSeq.groupBy(r => (epochS(r) - firstHour) / HourS)
    private val lastDayRows: Seq[Row] =
      Generator.sensorReadings(spark, days = 1, freqMinutes = 1, seed = seed,
        startEpochSec = lastDay).collect().toSeq

    def hourStart(c: Int): Long = firstHour + c * HourS
    def hourRows(c: Int): Seq[Row] = hours(c.toLong)

    /** Cycle `c`'s corrections: every sensor at a few minutes of the
      * base's last day, temperature shifted by a cycle-dependent amount.
      */
    def correctionRows(c: Int): Seq[Row] = {
      val minutes = (0 until CorrectionMinutes).map(k => (c * 7 + k * 97) % 1440).toSet
      lastDayRows.filter(r => minutes(((epochS(r) - lastDay) / 60).toInt)).map { r =>
        val t = math.round((r.getDouble(3) + 0.25 * (c + 1)) * 100.0) / 100.0
        Row(r.get(0), r.get(1), r.get(2), t, r.get(4), r.get(5))
      }
    }

    def frame(rows: Seq[Row]): DataFrame =
      spark.createDataFrame(rows.asJava, Schemas.sensorReading)
  }

  final case class Op(kind: String, ms: Double, filesAdded: Int = 0,
      filesRemoved: Int = 0, retries: Long = 0,
      candidateRatio: Double = Double.NaN, filesRead: Long = 0,
      filesTotal: Long = 0, planningMs: Double = 0)

  /** One dashboard read: the table's last hour, then the archive panel. */
  final case class Read(ms: Double, hour: Op, panel: Op)

  private val archiveDay = java.time.LocalDate.of(2024, 1, 1) // Generator's default epoch
    .plusDays(ArchiveDays - 1L).toString

  private def planningMs(df: DataFrame): Double =
    df.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val res = new Result
    var dir: String = null
    var archive: String = null
    var panelRef: Seq[Seq[Any]] = null
    var in: Inputs = null
    var cycles = 0 // cycles committed so far
    val lastHourEnd = new AtomicLong(0)

    def commit(kind: String, c: Int)(verb: => Long): Op = {
      val before = OccTable.latestVersion(spark, dir).getOrElse(-1L)
      val t0 = Clock.nowMs()
      val v = tr.span("occ", s"lake.$kind", op = s"w$c.$kind")(verb)
      val ms = Clock.nowMs() - t0
      if (v <= before) Op(kind, ms) // nothing to commit
      else {
        val acts = OccTable.actionsBetween(spark, dir, v - 1, v).map(_._2)
        Op(kind, ms, acts.map(_.adds.length).sum, acts.map(_.removes.length).sum,
          retries = v - before - 1)
      }
    }

    /** One writer cycle; returns its verbs. */
    def cycle(c: Int): Seq[Op] = tr.span("bench", "cycle", op = s"w$c") {
      val ops = ArrayBuffer[Op]()
      ops += commit("append", c) {
        OccTable.append(in.frame(in.hourRows(c)), dir, statsColumns = StatsCols)
      }
      lastHourEnd.set(in.hourStart(c) + HourS)
      var ratio = Double.NaN
      ops += commit("merge", c) {
        val r = OccTable.merge(spark, dir, in.frame(in.correctionRows(c)), Keys,
          statsColumns = StatsCols)
        ratio = r.candidateFiles.toDouble / r.totalFiles
        r.version
      }.copy(candidateRatio = ratio)
      if ((c + 1) % OptimizeEvery == 0) ops += commit("optimize", c) {
        OccTable.optimize(spark, dir, smallFileBytes = SmallFileBytes,
          targetFileBytes = 4L << 20, statsColumns = StatsCols).version
      }
      ops.toSeq
    }

    /** The table's last committed hour, stats-pruned, rolled up. */
    def readHour(i: Int): Op = {
      val end = lastHourEnd.get()
      val t0 = Clock.nowMs()
      val (df, rows) = tr.span("bench", "lake.read", op = s"q$i") {
        val hour = tr.span("occ", "occ.readPruned")(OccTable.readPruned(
          spark, dir, "timestamp", micros(end - HourS), micros(end) - 1))
        tr.span("ops", "ops.groupMean") {
          val df = Rollups.groupMean(hour, "sensor_id", "temperature")
          (df, df.collect())
        }
      }
      val ms = Clock.nowMs() - t0
      // a whole hour: every sensor, one reading a minute
      val ok = rows.length == Schemas.sensorDimRows.length && rows.forall(_.getLong(2) == 60L)
      res.synchronized(res.check("lake read", 1, if (ok) 0 else 1))
      if (tr.enabled)
        Op("read", ms, filesRead = Layers.filesRead(df),
          filesTotal = OccTable.snapshot(spark, dir).files.length,
          planningMs = planningMs(df))
      else Op("read", ms)
    }

    /** The archive's last-day 5-minute rollup; the first result is the
      * reference every later one must equal.
      */
    def readPanel(i: Int): Op = {
      val t0 = Clock.nowMs()
      val (df, rows) = tr.span("bench", "dash.window_rollup_1d", op = s"p$i") {
        val day = tr.span("layout", "layout.scanDays")(
          Layout.scanDays(spark, archive, archiveDay, archiveDay))
        tr.span("ops", "ops.sensorRollup") {
          val df = WindowedAgg.sensorRollup(day)
          (df, df.collect())
        }
      }
      val ms = Clock.nowMs() - t0
      val got = Checks.canonical(rows)
      if (panelRef == null) panelRef = got
      else res.synchronized(res.check("archive panel", 1,
        if (Checks.sameRows(panelRef, got)) 0 else 1))
      if (tr.enabled)
        Op("panel", ms, filesRead = Layers.filesRead(df), planningMs = planningMs(df))
      else Op("panel", ms)
    }

    /** Both parts; the time is theirs without the result checks. */
    def read(i: Int): Read = {
      val hour = readHour(i)
      val panel = readPanel(i)
      Read(hour.ms + panel.ms, hour, panel)
    }

    // set-up: the base table and the archive (repeated); then the
    // writer's inputs and the warm-up cycles and reads
    (1 to ctx.setupReps).foreach { rep =>
      ctx.timeSetup {
        dir = new File(ctx.work, s"occ-$rep").getAbsolutePath
        OccTable.init(base(spark, ctx.seed).repartitionByRange(BaseFiles, col("timestamp")),
          dir, statsColumns = StatsCols)
        archive = new File(ctx.work, s"archive-$rep").getAbsolutePath
        Layout.writeByDay(Generator.sensorReadings(spark, days = ArchiveDays,
          freqMinutes = 1, seed = ctx.seed), "timestamp", archive)
      }
    }
    ctx.timeWarmup {
      in = new Inputs(spark, ctx.seed)
      (0 until WarmupCycles).foreach { c =>
        cycle(c).foreach(o => res.check(s"lake ${o.kind}", 1, 0))
        cycles += 1
        read(-1 - c)
      }
    }
    ctx.mark("setup")

    final case class Measured(writes: Seq[Op], cycleMs: Seq[Double], reads: Seq[Read],
        startMs: Double, endMs: Double)
    var readNo = 1
    def window(traced: Boolean, seconds: Double): Measured = tr.enabledFor(traced) {
      val start = Clock.nowMs()
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      val reads = ArrayBuffer[Read]()
      @volatile var writing = true
      val reader = new Thread(() => {
        while (writing) {
          try reads += read(readNo)
          catch { case e: Exception => res.synchronized(res.problem(s"lake read failed: $e")) }
          readNo += 1
        }
      }, "perfbench-lake-reader")
      reader.start()
      val writes = ArrayBuffer[Op]()
      val cycleMs = ArrayBuffer[Double]()
      try {
        while (System.nanoTime() < deadline && cycles < MaxCycles) {
          val t0 = Clock.nowMs()
          val ops = cycle(cycles)
          cycleMs += Clock.nowMs() - t0
          writes ++= ops
          ops.foreach(o => res.synchronized(res.check(s"lake ${o.kind}", 1, 0)))
          cycles += 1
        }
      } finally { writing = false; reader.join() }
      Measured(writes.toSeq, cycleMs.toSeq, reads.toSeq, start, Clock.nowMs())
    }
    val windows = ctx.windows.map(window(_, ctx.windowSeconds))
    val tracedW = windows.zip(ctx.windows).collectFirst { case (m, true) => m }
    val untraced = windows.zip(ctx.windows).collect { case (m, false) => m }
    if (cycles >= MaxCycles) res.problem(s"writer ran out of its $MaxCycles input hours")
    ctx.mark("measure")

    // the table equals base + appended hours with every merge applied
    val latest = (0 until cycles).flatMap(in.correctionRows)
      .map(r => (r.get(2), r.get(0)) -> r).toMap.values.toSeq // later cycles win
    val model = base(spark, ctx.seed)
      .unionByName(in.frame((0 until cycles).flatMap(in.hourRows)))
      .join(in.frame(latest).select(Keys.map(col): _*), Keys, "left_anti")
      .unionByName(in.frame(latest))
    val cols = Schemas.sensorReading.fieldNames.toSeq
    val table = OccTable.read(spark, dir)().select(cols.map(col): _*)
    val (n, h) = Checks.countAndHash(table, cols)
    val (mn, mh) = Checks.countAndHash(model, cols)
    if (n != mn || h != mh) res.problem("lake table differs from its model in " +
      s"${Checks.symmetricDiff(model.select(cols.map(col): _*), table)} rows")
    else res.check("lake table", 1, 0)
    ctx.mark("checks")

    // samples pooled over the untraced windows
    val cycleMs = untraced.flatMap(_.cycleMs)
    val commitMs = untraced.flatMap(_.writes.map(_.ms))
    val reads = untraced.flatMap(_.reads)
    val readMs = reads.map(_.ms)
    ctx.samples("cycle_ms") = cycleMs
    ctx.samples("read_ms") = readMs
    res.named("lake_commit_p50_ms") = (Stats.median(commitMs), "ms")
    res.named("lake_commit_tail_ms") =
      (res.tail("lake_commit_tail_ms", Stats.tail(commitMs, CycleTailP)), "ms")
    res.named("lake_cycle_p50_ms") = (Stats.median(cycleMs), "ms")
    res.named("lake_cycle_tail_ms") =
      (res.tail("lake_cycle_tail_ms", Stats.tail(cycleMs, CycleTailP)), "ms")
    res.named("lake_read_p50_ms") = (Stats.median(readMs), "ms")
    res.named("lake_read_tail_ms") =
      (res.tail("lake_read_tail_ms", Stats.tail(readMs, ReadTailP)), "ms")
    res.named("lake_read_hour_p50_ms") = (Stats.median(reads.map(_.hour.ms)), "ms")
    res.named("lake_read_panel_p50_ms") = (Stats.median(reads.map(_.panel.ms)), "ms")
    res.named("lake_commits_per_s") =
      (commitMs.length * 1000.0 / untraced.map(u => u.endMs - u.startMs).sum, "1/s")
    res.e2e("latency_p50_ms") = res.named("lake_cycle_p50_ms")
    res.e2e("latency_tail_ms") = res.named("lake_cycle_tail_ms")
    res.e2e("latency2_p50_ms") = res.named("lake_read_p50_ms")
    res.e2e("latency2_tail_ms") = res.named("lake_read_tail_ms")
    res.e2e("throughput_per_s") = res.named("lake_commits_per_s")

    tracedW.foreach { t =>
      val jobs = tr.allJobs.filter(j => j.startMs >= t.startMs && j.startMs <= t.endMs)
      t.writes.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, os) =>
        val js = jobs.filter(_.op.exists(_.endsWith(s".$k")))
        res.named(s"lake.$k.ms_p50") = (Stats.median(os.map(_.ms)), "ms")
        res.named(s"lake.$k.jobs") = (js.length.toDouble / os.length, "count")
        res.named(s"lake.$k.files_added") = (os.map(_.filesAdded).sum.toDouble / os.length, "count")
        res.named(s"lake.$k.files_removed") = (os.map(_.filesRemoved).sum.toDouble / os.length, "count")
        res.named(s"lake.$k.retries") = (os.map(_.retries).sum.toDouble, "count")
      }
      res.named("lake.merge.candidate_ratio") =
        (Stats.median(t.writes.filter(_.kind == "merge").map(_.candidateRatio)), "ratio")
      val hours = t.reads.map(_.hour)
      val panels = t.reads.map(_.panel)
      res.named("lake.read.ms_p50") = (Stats.median(hours.map(_.ms)), "ms")
      res.named("lake.read.files_read") = (Stats.median(hours.map(_.filesRead.toDouble)), "count")
      res.named("lake.read.files_total") = (Stats.median(hours.map(_.filesTotal.toDouble)), "count")
      res.named("lake.read.planning_ms_p50") = (Stats.median(hours.map(_.planningMs)), "ms")
      val panelJobs = jobs.filter(_.op.exists(_.startsWith("p")))
      res.named("dash.window_rollup_1d.ms_p50") = (Stats.median(panels.map(_.ms)), "ms")
      res.named("dash.window_rollup_1d.planning_ms") = (Stats.median(panels.map(_.planningMs)), "ms")
      res.named("dash.window_rollup_1d.jobs") = (panelJobs.length.toDouble / panels.length, "count")
      res.named("dash.window_rollup_1d.files_read") =
        (panels.map(_.filesRead).sum.toDouble / panels.length, "count")
      res.named("dash.window_rollup_1d.bytes_read") =
        (panelJobs.map(_.bytesRead).sum.toDouble / panels.length, "bytes")
      Layers.report(ctx, res, Seq.empty, t.startMs, t.endMs, _ => None,
        isOp = s => s.name.startsWith("lake.") || s.name.startsWith("dash."),
        planningMs = tr.windowPlanningMs,
        bytesRead = None,
        filesRead = (hours ++ panels).map(_.filesRead).sum.toDouble)
      // against the reads: a window holds dozens of them but a few cycles
      res.layer("trace_overhead_pct") = (ctx.overheadPct(Stats.median(t.reads.map(_.ms)),
        untraced.map(u => Stats.median(u.reads.map(_.ms)))), "%")
    }
    res.named("lake.files_active") = (OccTable.snapshot(spark, dir).files.length.toDouble, "count")
    res.named("lake.log_versions") = (OccTable.latestVersion(spark, dir).getOrElse(-1L) + 1.0, "count")
    res
  }
}
