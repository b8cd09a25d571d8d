package graft.obs

import java.util.UUID

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusShim
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

/** The one telemetry collector: a `SparkListener` recording, for the span
  * of a [[Telemetry.window]], each Spark job with its tasks' metrics
  * folded in, and each streaming progress report (Structured Streaming's
  * per-trigger API contract; a `QueryProgressEvent` is a
  * `SparkListenerEvent`, so it reaches `onOtherEvent`). A task counts
  * toward the job that submitted its stage.
  */
final class Telemetry private () extends SparkListener {
  import Telemetry._

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageToJob = mutable.HashMap[Int, Int]()
  private val progress = mutable.ArrayBuffer[Progress]()
  private val executions = mutable.HashMap[Long, String]()

  /** What has been recorded so far; final once the window has closed. */
  def records: Records = synchronized {
    Records(jobs.values.toSeq, progress.toSeq)
  }

  /** A job is labelled by its description when a caller set one
    * (streaming sets it per micro-batch), else by the description of the
    * SQL execution that ran it — the call site of the action, `count at
    * Foo.scala:NN`, as the Spark UI's SQL tab shows it — else by its last
    * stage's name. The SQL execution comes before the stage name because
    * adaptive execution submits shuffle stages from a pool thread, whose
    * stack names no user frame.
    */
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) =
      Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val desc = prop("spark.job.description").filter(_.nonEmpty)
      .orElse(prop("spark.sql.execution.id")
        .flatMap(_.toLongOption).flatMap(executions.get))
      .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name))
      .getOrElse("")
    e.stageIds.foreach(stageToJob(_) = e.jobId)
    jobs(e.jobId) = Job(e.jobId, desc, e.time, stages = e.stageIds.size)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(ended = e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageToJob.get(e.stageId); j <- jobs.get(jid)) {
      val counted = j.copy(tasks = j.tasks + 1, maxTaskMs =
        math.max(j.maxTaskMs, Option(e.taskInfo).fold(0L)(_.duration)))
      jobs(jid) = Option(e.taskMetrics).fold(counted)(m => counted.copy(
        inputBytes = j.inputBytes + m.inputMetrics.bytesRead,
        shuffleRead = j.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        shuffleWrite = j.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        spill = j.spill + m.memoryBytesSpilled,
        peakMem = math.max(j.peakMem, m.peakExecutionMemory)))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      executions(x.executionId) = x.description
    }
    case q: QueryProgressEvent => synchronized {
      val p = q.progress
      progress += Progress(p.id, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.observedMetrics.asScala.toMap)
    }
    case _ =>
  }
}

object Telemetry {

  /** One Spark job: start and end (epoch ms), stage and task counts; its
    * tasks' input, shuffle and spill bytes summed, their peak execution
    * memory and duration maxed.
    */
  final case class Job(id: Int, desc: String, started: Long,
      ended: Long = 0L, stages: Int = 0, tasks: Int = 0,
      inputBytes: Long = 0L, shuffleRead: Long = 0L,
      shuffleWrite: Long = 0L, spill: Long = 0L, peakMem: Long = 0L,
      maxTaskMs: Long = 0L) {
    def ms: Long = (ended - started).max(0L)
  }

  /** One streaming progress report: query id, input rows, the engine's
    * per-phase `durationMs` and the `Dataset.observe` rows by name.
    */
  final case class Progress(queryId: UUID, numInputRows: Long,
      durationMs: Map[String, Long], observed: Map[String, Row])

  /** A window's records, with the sums and maxima callers read. */
  final case class Records(jobs: Seq[Job], progress: Seq[Progress]) {
    def shuffleWrite: Long = jobs.map(_.shuffleWrite).sum
    def spill: Long = jobs.map(_.spill).sum
    def peakTaskMem: Long = jobs.map(_.peakMem).maxOption.getOrElse(0L)
    def maxTaskMs: Long = jobs.map(_.maxTaskMs).maxOption.getOrElse(0L)
    /** The query's micro-batches that read input, in report order. */
    def productive(queryId: UUID): Seq[Progress] =
      progress.filter(p => p.queryId == queryId && p.numInputRows > 0)
  }

  /** The bus empties in milliseconds; only a stuck listener hits this. */
  private val DrainTimeoutMs = 60000L

  /** Drains the listener bus, attaches a fresh collector, runs `body`
    * (which may read the live collector), drains again and detaches, so
    * the records are exactly the body's: every earlier event has reached
    * its listeners before the attach, and every event the body posted
    * has reached the collector before its records are read. A body that
    * throws still detaches the collector.
    */
  def window[A](spark: SparkSession)(body: Telemetry => A): (A, Records) = {
    val sc = spark.sparkContext
    val t = new Telemetry
    ListenerBusShim.drain(sc, DrainTimeoutMs)
    sc.addSparkListener(t)
    try {
      val a = body(t)
      ListenerBusShim.drain(sc, DrainTimeoutMs)
      (a, t.records)
    } finally sc.removeSparkListener(t)
  }
}
