package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Turns a traced stretch's spans and jobs into per-layer figures.
  *
  * The contract line of a traced run carries the same generic per-op
  * set for every workload (an op is a micro-batch, a dashboard panel, or
  * a lake verb or read); the workload-specific figures go to `named`.
  */
object Layers {

  /** Layers that are the benchmark's own code rather than the program's. */
  private val ClientLayers = Set("bench", "gen")

  /** Files the executed plan's file scans read. */
  def filesRead(df: DataFrame): Long = {
    def walk(p: SparkPlan): Seq[FileSourceScanExec] = {
      val self = p match { case s: FileSourceScanExec => Seq(s); case _ => Seq.empty }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case o => o.children ++ o.subqueries
      }
      self ++ kids.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).flatMap(_.metrics.get("numFiles")).map(_.value).sum
  }

  /** Self time per layer: each span's duration minus the part of it its
    * child spans cover, summed by layer.
    */
  def selfTime(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val cs = kids.getOrElse(s.id, Seq.empty).map(c => (c.startMs, c.endMs))
        s.durMs - Stats.unionLength(cs, s.startMs, s.endMs)
      }.sum
    }
  }

  /** Report the traced stretch [`fromMs`, `toMs`].
    *
    * @param extra      spans rebuilt outside the tracer (engine batches)
    * @param opOfJob    op of a job the tagging property does not name
    * @param isOp       which op-root spans count as ops
    * @param planningMs Catalyst planning time over the stretch
    * @param bytesRead  input bytes over the stretch (default: task input)
    * @param filesRead  files read over the stretch
    */
  def report(ctx: Ctx, res: Result, extra: Seq[Span], fromMs: Double,
      toMs: Double, opOfJob: JobRecord => Option[String],
      isOp: Span => Boolean, planningMs: Double,
      bytesRead: Option[Double], filesRead: Double): Unit = {
    val tr = ctx.tracer
    val spans0 = tr.allSpans.filter(s => s.startMs >= fromMs && s.startMs <= toMs) ++ extra
    val jobs = tr.allJobs.filter(j => j.startMs >= fromMs - 1 && j.startMs <= toMs && !j.endMs.isNaN)
    val byOp = spans0.groupBy(_.op)
    // a job is a child of the innermost span of its op that holds its start
    val jobSpans = jobs.flatMap { j =>
      j.op.orElse(opOfJob(j)).flatMap(byOp.get).flatMap { ss =>
        val holding = ss.filter(s => s.startMs <= j.startMs + 1 && s.endMs >= j.startMs - 1)
        holding.sortBy(_.startMs).lastOption
          .map(p => (j, Span(tr.nextId(), p.id, p.op, "jobs", s"job.${j.jobId}",
            j.startMs, math.max(j.startMs, j.endMs))))
      }
    }
    val spans = spans0 ++ jobSpans.map(_._2)
    val roots = spans.groupBy(_.op).values
      .flatMap(ss => ss.filter(s => !ss.exists(_.id == s.parent))).toSeq
    val ops = roots.filter(isOp)
    val n = math.max(1, ops.length).toDouble
    val jobsOf = jobSpans.groupBy(_._2.op).map { case (op, js) => op -> js.map(_._1) }

    def gap(s: Span): Double = s.durMs - Stats.unionLength(
      jobsOf.getOrElse(s.op, Seq.empty).map(j => (j.startMs, j.endMs)), s.startMs, s.endMs)
    def sched(kind: String, ss: Seq[Span]): Unit = {
      val js = ss.flatMap(s => jobsOf.getOrElse(s.op, Seq.empty))
      val k = math.max(1, ss.length).toDouble
      res.named(s"sched.$kind.ops") = (ss.length.toDouble, "count")
      res.named(s"sched.$kind.jobs") = (js.length / k, "count")
      res.named(s"sched.$kind.tasks") = (js.map(_.tasks).sum / k, "count")
      res.named(s"sched.$kind.task_busy_ms") = (js.map(_.taskBusyMs).sum / k, "ms")
      res.named(s"sched.$kind.shuffle_write_bytes") = (js.map(_.shuffleWriteBytes).sum / k, "bytes")
      res.named(s"sched.$kind.spill_bytes") = (js.map(_.spillBytes).sum / k, "bytes")
      res.named(s"sched.$kind.gc_ms") = (js.map(_.gcMs).sum / k, "ms")
      res.named(s"sched.$kind.driver_gap_ms") = (ss.map(gap).sum / k, "ms")
    }
    ops.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (kind, ss) => sched(kind, ss) }

    val opJobs = ops.flatMap(s => jobsOf.getOrElse(s.op, Seq.empty))
    val self = selfTime(spans)
    self.toSeq.sortBy(_._1).foreach { case (l, ms) => res.named(s"self_ms.$l") = (ms, "ms") }
    val client = self.filter(x => ClientLayers(x._1)).values.sum
    val jobTime = self.getOrElse("jobs", 0.0)
    val program = self.values.sum - client - jobTime

    res.layer("ops") = (ops.length.toDouble, "count")
    res.layer("op_ms_p50") = (Stats.median(ops.map(_.durMs)), "ms")
    res.layer("jobs_per_op") = (opJobs.length / n, "count")
    res.layer("tasks_per_op") = (opJobs.map(_.tasks).sum / n, "count")
    res.layer("task_busy_ms_per_op") = (opJobs.map(_.taskBusyMs).sum / n, "ms")
    res.layer("driver_gap_ms_per_op") = (ops.map(gap).sum / n, "ms")
    res.layer("planning_ms_per_op") = (planningMs / n, "ms")
    res.layer("gc_ms_per_op") = (tr.windowGcMs / n, "ms")
    res.layer("shuffle_write_bytes_per_op") = (opJobs.map(_.shuffleWriteBytes).sum / n, "bytes")
    res.layer("bytes_read_per_op") =
      (bytesRead.getOrElse(opJobs.map(_.bytesRead).sum.toDouble) / n, "bytes")
    res.layer("files_read_per_op") = (filesRead / n, "count")
    res.layer("self_ms_per_op.client") = (client / n, "ms")
    res.layer("self_ms_per_op.program") = (program / n, "ms")
    res.layer("self_ms_per_op.jobs") = (jobTime / n, "ms")
    ctx.traceSpans = spans
  }
}
