package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution: the
  * monotonic clock anchored once to the epoch, so it lines up with the
  * engine's progress timestamps (epoch ms) without `currentTimeMillis`
  * jitter.
  */
object Clock {
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble
  def nowMs(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
  def msOf(nanos: Long): Double = anchorMs + (nanos - anchorNs) / 1e6
}

/** One traced interval: `op` ties the spans of one batch, refresh or verb
  * together; `parent` is the span that caused it (0 for a root).
  */
final case class Span(id: Long, parent: Long, op: String, layer: String,
    name: String, startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** Per-job scheduler counts, summed over the job's tasks. */
final class JobRecord(val jobId: Int, val startMs: Double,
    val op: Option[String], val queryId: Option[String],
    val batchId: Option[Long]) {
  @volatile var endMs: Double = Double.NaN
  @volatile var tasks = 0L
  @volatile var taskBusyMs = 0L
  @volatile var gcMs = 0L
  @volatile var shuffleWriteBytes = 0L
  @volatile var spillBytes = 0L
  @volatile var bytesRead = 0L
}

/** In-memory span recorder plus a `SparkListener` that records jobs and
  * their tasks at the same boundaries. Disabled, every call is a plain
  * pass-through and no listener is registered, so untraced runs pay
  * nothing. The local property [[OpKey]] tags the jobs a benchmark
  * thread starts with the op it is running.
  */
final class Tracer(val requested: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRecord]()
  private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val current = new ThreadLocal[Long] { override def initialValue() = 0L }
  private val currentOp = new ThreadLocal[String] { override def initialValue() = "" }
  @volatile private var sc: SparkContext = _
  @volatile private var active = false
  @volatile private var listening = false
  /** JVM-wide GC time of the last traced stretch. */
  @volatile var windowGcMs = 0L
  /** Catalyst planning time (analysis, optimization, physical planning)
    * of every query that finished in the last traced stretch.
    */
  @volatile var windowPlanningMs = 0.0

  private def gcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  def enabled: Boolean = active

  /** Run `body` traced when `on` (the listener is registered the first
    * time), untraced otherwise.
    */
  def enabledFor[A](on: Boolean)(body: => A): A =
    if (!on) body
    else {
      require(requested && sc != null, "tracing needs install() first")
      if (!listening) { listen(sc); listening = true }
      val gc0 = gcMs()
      windowPlanningMs = 0.0
      active = true
      try body
      finally { active = false; windowGcMs = gcMs() - gc0 }
    }

  def nextId(): Long = ids.incrementAndGet()

  /** Run `body` as a span under the calling thread's current span. `op`
    * names the op it belongs to (default: the enclosing span's, or a new
    * one); jobs the thread starts inside are tagged with it.
    */
  def span[A](layer: String, name: String, op: String = "")(body: => A): A = {
    if (!enabled) return body
    val id = nextId()
    val parent = current.get()
    val outerOp = currentOp.get()
    val thisOp = if (op.nonEmpty) op else if (outerOp.nonEmpty) outerOp else s"$name#$id"
    current.set(id)
    currentOp.set(thisOp)
    if (sc != null) sc.setLocalProperty(Tracer.OpKey, thisOp)
    val start = Clock.nowMs()
    try body
    finally {
      spans.add(Span(id, parent, thisOp, layer, name, start, Clock.nowMs()))
      current.set(parent)
      currentOp.set(outerOp)
      if (sc != null) sc.setLocalProperty(Tracer.OpKey,
        if (outerOp.isEmpty) null else outerOp)
    }
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq
  def allJobs: Seq[JobRecord] = jobs.values().asScala.toSeq.sortBy(_.jobId)

  def install(session: SparkSession): Unit = if (requested) {
    sc = session.sparkContext
    session.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (active) synchronized {
          windowPlanningMs += qe.tracker.phases.values.map(_.durationMs).sum
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  private def listen(context: SparkContext): Unit =
    context.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
        val rec = new JobRecord(e.jobId, e.time.toDouble, prop(Tracer.OpKey),
          prop("sql.streaming.queryId"),
          prop("streaming.sql.batchId").map(_.toLong))
        jobs.put(e.jobId, rec)
        e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val job = Option(stageToJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
        val m = Option(e.taskMetrics)
        job.foreach { j =>
          j.synchronized {
            j.tasks += 1
            m.foreach { t =>
              j.taskBusyMs += t.executorRunTime
              j.gcMs += t.jvmGCTime
              j.shuffleWriteBytes += t.shuffleWriteMetrics.bytesWritten
              j.spillBytes += t.memoryBytesSpilled + t.diskBytesSpilled
              j.bytesRead += t.inputMetrics.bytesRead
            }
          }
        }
      }
    })

  /** Write every span, one JSON object a line. */
  def dump(path: java.nio.file.Path, spans: Seq[Span]): Unit = {
    val sb = new StringBuilder
    spans.sortBy(_.startMs).foreach { s =>
      sb.append(Json.obj(Seq(
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "layer" -> s.layer,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
      sb.append('\n')
    }
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Tracer {
  val OpKey = "perfbench.op"
}
