package perfbench

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

/** One executed micro-batch, as its progress event reports it. Commit
  * time is the trigger's start plus its whole execution: the batch's
  * sink output and offsets are durable by then.
  */
final case class Batch(id: Long, startMs: Double, endMs: Double,
    startOffset: Long, endOffset: Long, latestOffset: Long, rows: Long,
    phases: Map[String, Long], watermarkMs: Option[Long],
    stateRows: Long, stateMemoryBytes: Long, stateCommitMs: Long,
    droppedByWatermark: Long)

object Batch {
  private def offset(s: String): Long =
    if (s == null || s.isEmpty || s == "null") 0L else s.trim.toLong

  def of(p: StreamingQueryProgress): Batch = {
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val phases = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val src = p.sources.headOption
    val st = p.stateOperators.headOption
    Batch(p.batchId, start, start + phases.getOrElse("triggerExecution", 0L),
      src.map(s => offset(s.startOffset)).getOrElse(0L),
      src.map(s => offset(s.endOffset)).getOrElse(0L),
      src.map(s => offset(s.latestOffset)).getOrElse(0L),
      p.numInputRows,
      phases,
      Option(p.eventTime.get("watermark"))
        .map(w => java.time.Instant.parse(w).toEpochMilli),
      st.map(_.numRowsTotal).getOrElse(0L),
      st.map(_.memoryUsedBytes).getOrElse(0L),
      st.map(_.commitTimeMs).getOrElse(0L),
      st.map(_.numRowsDroppedByWatermark).getOrElse(0L))
  }
}

/** Collects every progress event and every query failure through the
  * engine's public listener API.
  */
final class ProgressLog extends StreamingQueryListener {
  private val progress =
    new ConcurrentHashMap[UUID, ConcurrentLinkedQueue[StreamingQueryProgress]]()
  val errors = new ConcurrentLinkedQueue[String]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.computeIfAbsent(e.progress.id, _ => new ConcurrentLinkedQueue())
      .add(e.progress)
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    e.exception.foreach(x => errors.add(s"query ${e.id} failed: $x"))

  /** Executed batches of `q` in id order (a batch that ran its sink
    * reports `addBatch`; idle polls do not).
    */
  def batches(q: StreamingQuery): IndexedSeq[Batch] =
    Option(progress.get(q.id)).map(_.asScala.toIndexedSeq).getOrElse(IndexedSeq.empty)
      .filter(_.durationMs.containsKey("addBatch"))
      .map(Batch.of)
      .groupBy(_.id).values.map(_.head).toIndexedSeq
      .sortBy(_.id)

  /** Block until this log holds the progress of `q`'s latest batch —
    * listener events arrive asynchronously.
    */
  def awaitCaughtUp(q: StreamingQuery, timeoutMs: Long): Boolean = {
    val last = Option(q.lastProgress).map(_.batchId).getOrElse(return true)
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    def seen = Option(progress.get(q.id)).exists(_.asScala.exists(_.batchId >= last))
    while (!seen && System.nanoTime() < deadline) Thread.sleep(2)
    seen
  }
}
