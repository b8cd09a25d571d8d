package graft.streaming

import java.nio.file.Files
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery,
  StreamingQueryListener, Trigger}
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Measures the steady-state envelope of the real dual-sink pipeline
  * (raw parquet append + watermarked windowed agg) under the deterministic
  * rate simulator — the measured counterpart of BASELINE.md's published
  * target ("micro-batch latency < 10 s at a sustained replay of
  * ≥ 300 msg/min", reference/README.md:253,256, Project Scale.md:52).
  *
  * Shared by [[graft.streaming.SteadyStateSpec]] (which asserts the
  * targets) and [[graft.StreamBench]] (which persists the numbers as a
  * per-round JSON artifact, the streaming analogue of `BENCH_r*.json`).
  * Every section runs through one measurement harness (`harness`).
  */
object SteadyState {

  final case class Envelope(
      rows: Long, elapsedSec: Double, msgPerMin: Double,
      rawBatches: Int, rawMedianMs: Long, rawMaxMs: Long,
      aggBatches: Int, aggMedianMs: Long, aggMaxMs: Long,
      aggWindowsFlushed: Long, rowsPerBatch: Int, advanceMsPerBatch: Long) {
    /** One diffable JSON line, targets included so the artifact is
      * self-describing.
      */
    def json: String =
      s"""{"metric":"stream_envelope","msg_per_min":${math.round(msgPerMin)},""" +
        s""""rows":$rows,"elapsed_sec":${math.round(elapsedSec * 10) / 10.0},""" +
        s""""raw_batches":$rawBatches,"raw_latency_ms":{"median":$rawMedianMs,"max":$rawMaxMs},""" +
        s""""agg_batches":$aggBatches,"agg_latency_ms":{"median":$aggMedianMs,"max":$aggMaxMs},""" +
        s""""agg_windows_flushed":$aggWindowsFlushed,""" +
        s""""sim":{"rows_per_batch":$rowsPerBatch,"advance_ms_per_batch":$advanceMsPerBatch},""" +
        s""""target":{"msg_per_min":300,"latency_ms":10000}}"""
  }

  def median(xs: Seq[Long]): Long = xs.sorted.apply(xs.length / 2)

  /** Envelope of one LLM-pipeline streaming path (band-index dedup or
    * curation gates) — a named JSON fragment merged into the
    * `STREAM_ENVELOPE.json` object next to the sensor dual-sink numbers,
    * so "streaming dedup at ingest" ships with a measured msg/min and
    * micro-batch latency, not just a green spec.
    */
  final case class DocEnvelope(kind: String, docs: Long, elapsedSec: Double,
      msgPerMin: Double, batches: Int, medianMs: Long, maxMs: Long,
      outRows: Long) {
    def json: String =
      s""""$kind":{"msg_per_min":${math.round(msgPerMin)},"docs":$docs,""" +
        s""""elapsed_sec":${math.round(elapsedSec * 10) / 10.0},"batches":$batches,""" +
        s""""latency_ms":{"median":$medianMs,"max":$maxMs},"out_rows":$outRows}"""
  }

  /** The productive micro-batches (`numInputRows > 0`) of one query, each
    * as (numInputRows, triggerExecution ms). Latency quantiles are over
    * these only: empty triggers cost ~nothing and would flatter the median.
    */
  private final case class Batches(samples: Seq[(Long, Long)]) {
    def count: Int = samples.length
    def rows: Long = samples.map(_._1).sum
    private def lat = samples.map(_._2)
    /** -1 when no batch was productive (the honest zero envelope) */
    def medianMs: Long = if (lat.isEmpty) -1 else median(lat)
    def maxMs: Long = if (lat.isEmpty) -1 else lat.max
  }

  private def docEnvelope(kind: String, docs: Long, elapsedSec: Double,
      b: Batches, outRows: Long): DocEnvelope =
    DocEnvelope(kind, docs, elapsedSec, docs / elapsedSec * 60, b.count,
      b.medianMs, b.maxMs, outRows)

  /** An external producer run beside the queries: `step(n)` for
    * n = 0, 1, … with `everyMs` between steps.
    */
  private final case class Feed(everyMs: Long, step: Long => Unit)

  /** The one measurement harness every section runs through:
    *  1. registers ONE listener recording each query's productive
    *     progress by query id — before any start, so the first
    *     micro-batch can't slip past, and accumulated rather than read
    *     back from the query's progress ring buffer, which keeps only
    *     the last 100 entries and would silently undercount long runs;
    *  2. runs `starts` in order — the LAST query gates the wait;
    *  3. runs `feed`, if any, on one producer thread;
    *  4. polls every 200 ms until the gating query has `minBatches`
    *     productive batches or `deadlineSec` elapses;
    *  5. captures elapsed BEFORE stop, so shutdown cost never dilutes
    *     msg/min;
    *  6. in one `finally` — a start that throws included — stops the
    *     feed, every query that started and the listener, then runs
    *     `cleanup`.
    * Returns elapsed seconds and each started query's batches, in
    * `starts` order.
    */
  private def harness(spark: SparkSession, minBatches: Int, deadlineSec: Int,
      starts: Seq[() => StreamingQuery], feed: Option[Feed] = None,
      cleanup: () => Unit = () => ()): (Double, Seq[Batches]) = {
    val productive =
      new ConcurrentHashMap[UUID, ConcurrentLinkedQueue[(Long, Long)]]()
    def of(id: UUID) = productive.computeIfAbsent(id,
      _ => new ConcurrentLinkedQueue[(Long, Long)]())
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0)
          of(e.progress.id).add((e.progress.numInputRows,
            e.progress.durationMs.get("triggerExecution").toLong))
    }
    val queries = ArrayBuffer.empty[StreamingQuery]
    @volatile var feeding = true
    val producer = feed.map(f => new Thread(() => {
      var n = 0L
      while (feeding) {
        f.step(n)
        n += 1
        Thread.sleep(f.everyMs)
      }
    }, "graft-envelope-feed"))
    var elapsedSec = 0.0
    spark.streams.addListener(listener)
    try {
      starts.foreach(start => queries += start())
      producer.foreach(_.start())
      val gate = of(queries.last.id)
      val t0 = System.nanoTime()
      val deadline = t0 + deadlineSec * 1000L * 1000 * 1000
      while (gate.size < minBatches && System.nanoTime() < deadline)
        Thread.sleep(200)
      elapsedSec = (System.nanoTime() - t0) / 1e9
    } finally {
      feeding = false
      producer.foreach(_.join(10000))
      queries.foreach(_.stop())
      spark.streams.removeListener(listener)
      cleanup()
    }
    (elapsedSec, queries.map(q => Batches(of(q.id).asScala.toSeq)).toSeq)
  }

  /** An append writer named after the section, on a fresh checkpoint,
    * triggered back to back.
    */
  private def writer(df: DataFrame, kind: String): DataStreamWriter[Row] =
    df.writeStream
      .queryName(s"graft_envelope_$kind")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory(s"graft_${kind}_ckpt").toString)
      .trigger(Trigger.ProcessingTime(0))

  /** Rows a parquet sink wrote; no sink dir = the query committed zero
    * batches before the deadline, reported as zero instead of throwing.
    */
  private def parquetRows(spark: SparkSession, dir: String): Long =
    if (new java.io.File(dir).exists()) spark.read.parquet(dir).count()
    else 0L

  /** One query from `stream` into a parquet sink through [[harness]]:
    * throughput counts INPUT rows (out rows differ per pipeline:
    * collisions for dedup, gated docs for curation, flushed windows),
    * out_rows = rows the sink wrote. `stream` is built inside the
    * harness, so a transform that fails analysis still gets cleaned up.
    */
  private def parquetSection(spark: SparkSession, kind: String,
      stream: => DataFrame, minBatches: Int, deadlineSec: Int,
      feed: Option[Feed] = None,
      cleanup: () => Unit = () => ()): DocEnvelope = {
    val out = Files.createTempDirectory(s"graft_${kind}_out").toString + "/out"
    val (elapsedSec, Seq(b)) = harness(spark, minBatches, deadlineSec,
      Seq(() => writer(stream, kind).format("parquet")
        .option("path", out).start()),
      feed, cleanup)
    docEnvelope(kind, b.rows, elapsedSec, b, parquetRows(spark, out))
  }

  /** The deterministic micro-batch clock under the pooled and CDC
    * streams: `rowsPerBatch` rows per trigger, one minute of event time
    * each.
    */
  private def rateClock(spark: SparkSession, rowsPerBatch: Int): DataFrame =
    spark.readStream
      .format("rate-micro-batch")
      .option("rowsPerBatch", rowsPerBatch)
      .option("startTimestamp", 1704067200000L)
      .option("advanceMillisPerBatch", 60000L)
      .load()

  /** A table as a deterministic unbounded stream: [[rateClock]] row
    * indices cycle a cached broadcast `pool` of REAL rows (stream-static
    * join — the same per-batch probe shape production ingest uses), each
    * stream row getting a fresh `outId` disjoint from every pool id.
    * Content, order and rate are all deterministic. The cached pool is
    * returned so the measurement can unpersist it.
    */
  private def pooledStream(spark: SparkSession, pool: DataFrame,
      idCol: String, payload: String, outId: String,
      rowsPerBatch: Int): (DataFrame, DataFrame) = {
    val cached = pool.select(col(idCol), col(payload))
      .withColumn("__k",
        row_number().over(Window.orderBy(col(idCol))).cast("long") - 1L)
      .cache()
    val m = cached.count()
    val stream = rateClock(spark, rowsPerBatch)
      .withColumn("__k", pmod(col("value"), lit(m)))
      .join(broadcast(cached), Seq("__k"))
      .select((col("value") + lit(1000000000L)).as(outId), col(payload))
    (stream, cached)
  }

  /** Generic doc-pipeline envelope: build the streaming transform over
    * the documents table as a pooled stream and run it into a parquet
    * sink until `minBatches` productive micro-batches (or deadline).
    * Throughput counts INPUT documents.
    */
  def measureDocStream(spark: SparkSession, kind: String,
      build: DataFrame => DataFrame, sfDir: String,
      rowsPerBatch: Int = 50, minBatches: Int = 15,
      deadlineSec: Int = 180): DocEnvelope = {
    val (stream, pool) = pooledStream(spark,
      graft.sources.Tables.documents(spark, sfDir), "doc_id", "text",
      "doc_id", rowsPerBatch)
    parquetSection(spark, kind, build(stream), minBatches, deadlineSec,
      cleanup = () => pool.unpersist())
  }

  /** Live-source envelope: an EXTERNAL producer thread appends JSON
    * sensor payloads to a log file (plain file I/O — not Spark) while
    * the engine tails it through [[graft.streaming.FileTailSource]] →
    * [[Sources.parseJson]] → [[Sources.dropIncomplete]] → parquet sink.
    * This is the S1-live ingest measured, not just spec-tested: the
    * producer cadence is deterministic (`rowsPerAppend` every
    * `appendIntervalMs`), and the envelope reads from the same
    * listener-accumulated telemetry as every other section. Event time
    * advances 1 s per record from a fixed epoch, so the parse path does
    * real timestamp work.
    */
  def measureFileTailStream(spark: SparkSession, rowsPerAppend: Int = 50,
      appendIntervalMs: Long = 1000L, minBatches: Int = 15,
      deadlineSec: Int = 180): DocEnvelope = {
    import java.nio.file.StandardOpenOption.{APPEND, CREATE}
    val log = Files.createTempDirectory("graft_filetail_env").resolve("feed.log")
    val append = Feed(appendIntervalMs, batch => {
      val sb = new StringBuilder
      (0 until rowsPerAppend).foreach { j =>
        val n = batch * rowsPerAppend + j
        val ts = java.time.Instant.ofEpochSecond(1704067200L + n).toString
        sb.append(f"""{"sensor_id":"SENSOR_${n % 10 + 1}%03d","location":"warehouse_a","timestamp":"$ts","temperature":${20 + n % 7}.0,"humidity":50.0,"pressure":1000.0}""")
          .append('\n')
      }
      Files.write(log, sb.toString.getBytes("UTF-8"), CREATE, APPEND)
    })
    parquetSection(spark, "filetail_stream",
      Sources.dropIncomplete(Sources.parseJson(
        Sources.fileTail(spark, log.toString, startingOffset = "earliest"))),
      minBatches, deadlineSec, feed = Some(append))
  }

  /** Streaming band-index dedup envelope: the corpus (even pool ids) is
    * indexed ONCE ([[graft.ext.Dedup.minhashBandIndex]], cached and
    * materialized before the clock starts — in production this index is a
    * persisted table); every micro-batch computes per-row stateless
    * signatures and probes it. Half the replayed docs have an identical
    * corpus twin, so the collision path does real work every batch.
    */
  def measureDedupStream(spark: SparkSession, sfDir: String,
      rowsPerBatch: Int = 50, minBatches: Int = 15,
      deadlineSec: Int = 180): DocEnvelope = {
    val corpus = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .filter(col("doc_id") % 2 === 0)
    val index = graft.ext.Dedup.minhashBandIndex(corpus, "doc_id", "text",
      k = 8, nPerms = 16, rowsPerBand = 2).cache()
    index.count()
    try measureDocStream(spark, "dedup_stream",
      stream => graft.ext.Dedup.streamingCorpusCollisions(stream, index,
        "doc_id", "text", k = 8, nPerms = 16, rowsPerBand = 2),
      sfDir, rowsPerBatch, minBatches, deadlineSec)
    finally index.unpersist()
  }

  /** Streaming curation-gate envelope: PII redaction + the Gopher hard
    * quality gate as pure per-row projections on the stream — the
    * ingest-time filter form of the batch curation front-end.
    */
  def measureCurationStream(spark: SparkSession, sfDir: String,
      rowsPerBatch: Int = 50, minBatches: Int = 15,
      deadlineSec: Int = 180): DocEnvelope =
    measureDocStream(spark, "curation_stream",
      stream => graft.ext.Curate.redactPii(stream, "text", "clean")
        .withColumn("keep", graft.ext.TextStats.gopherKeep("text"))
        .select(col("doc_id"), col("keep"), col("n_emails"), col("n_ips"),
          col("n_phones"), col("clean")),
      sfDir, rowsPerBatch, minBatches, deadlineSec)

  /** Streaming quality-classifier gate envelope: X86's frozen-weight
    * scoring pass as a pure per-row projection on the stream, with the
    * admission threshold applied at ingest — the model-based successor
    * to the hard-rule curation gate, measured. Weights ride the plan as
    * literals (no broadcast, no state), so the per-batch cost is the
    * narrow feature+sigmoid projection and nothing else.
    */
  def measureClassifierStream(spark: SparkSession, sfDir: String,
      rowsPerBatch: Int = 50, minBatches: Int = 15,
      deadlineSec: Int = 180): DocEnvelope = {
    val cols = Seq("f_len", "f_wlen", "f_stop")
    val w = graft.SparkEntry.QualityClassifierWeights
    measureDocStream(spark, "classifier_gate_stream",
      stream => graft.ext.Classifier.scoreWith(
          graft.ext.Classifier.textFeatures(stream, "doc_id", "text"),
          cols, w.head, w.tail, "score")
        .withColumn("keep", col("score") >= 0.5),
      sfDir, rowsPerBatch, minBatches, deadlineSec)
  }

  /** Streaming BM25 relevance-scoring envelope: corpus stats (N, avgdl,
    * per-term df) are frozen ONCE from the batch corpus before the clock
    * starts — in production they refresh with index rebuilds — and every
    * micro-batch scores its documents against them as a pure per-row
    * projection ([[graft.ext.TextStats.bm25Score]]): the freeze-then-score
    * recipe `bm25TopK`'s batch-only require() prescribes, measured.
    * Query terms are drawn from the corpus itself (its 3 hottest
    * non-trivial tokens) so the scoring path does real tf work per batch
    * rather than pre-filtering everything out.
    */
  def measureBm25Stream(spark: SparkSession, sfDir: String,
      rowsPerBatch: Int = 50, minBatches: Int = 15,
      deadlineSec: Int = 180): DocEnvelope = {
    val corpus = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val terms = corpus
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 4)
      .groupBy(col("w")).count()
      .orderBy(col("count").desc, col("w"))
      .limit(3).collect().map(_.getString(0)).toSeq
    val stats = graft.ext.TextStats.bm25CorpusStats(
      corpus, "doc_id", "text", terms)
    measureDocStream(spark, "bm25_stream",
      stream => graft.ext.TextStats.bm25Score(stream, "doc_id", "text",
        terms, stats),
      sfDir, rowsPerBatch, minBatches, deadlineSec)
  }

  /** Streaming as-of enrichment envelope: the static purchase timeline is
    * frozen once (broadcast dimension state), and every micro-batch
    * resolves its rows' point-in-time matches through
    * [[graft.ops.Temporal.asofEnrichStreamStatic]]'s filter/array_max
    * projection — the feature-store lookup served against a live stream,
    * measured. Stream rows synthesize (user_id, ts) from the replayed doc
    * ids, with ts folded into the timeline's real span so matches happen
    * (the envelope measures the join+projection cost; semantics are
    * spec-pinned in `TemporalSpec`).
    */
  def measureAsofEnrichStream(spark: SparkSession, sfDir: String,
      rowsPerBatch: Int = 50, minBatches: Int = 15,
      deadlineSec: Int = 180): DocEnvelope = {
    val ev = graft.sources.Tables.events(spark, sfDir)
    val timeline = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val b = ev.agg(unix_micros(min(col("ts"))).as("mn"),
      unix_micros(max(col("ts"))).as("mx")).head()
    val (mn, span) = (b.getLong(0), math.max(1L, b.getLong(1) - b.getLong(0)))
    measureDocStream(spark, "asof_enrich_stream",
      stream => {
        val keyed = stream.select(
          col("doc_id"),
          pmod(col("doc_id"), lit(150L)).as("user_id"),
          timestamp_micros(lit(mn) +
            pmod(col("doc_id") * lit(2654435761L), lit(span))).as("ts"))
        graft.ops.Temporal.asofEnrichStreamStatic(keyed, timeline,
          "user_id", "ts", "ts", "event_id",
          Seq("value" -> "last_purchase_value"))
      },
      sfDir, rowsPerBatch, minBatches, deadlineSec)
  }

  /** ARBITRARY STATEFUL processing on the live clock: per-sensor EWMA
    * anomaly detection ([[Stateful.ewmaAnomalies]] — flatMapGroupsWithState
    * + event-time timeout state) fed by rate-clocked synthetic readings
    * over a 50-sensor keyspace. Measures the per-batch cost of the
    * state-store round trip (read state, fold batch, write state, arm
    * timer) — the envelope row for the custom-state tier the windowed
    * sections don't exercise.
    */
  def measureEwmaStream(spark: SparkSession, sfDir: String,
      rowsPerBatch: Int = 50, minBatches: Int = 15,
      deadlineSec: Int = 180): DocEnvelope = {
    import spark.implicits._
    measureDocStream(spark, "ewma_state_stream",
      stream => {
        val readings = stream.select(
          concat(lit("S"), pmod(col("doc_id"), lit(50L))).as("sensor_id"),
          lit("envelope").as("location"),
          timestamp_micros(lit(1704067200000000L) +
            (col("doc_id") - 1000000000L) * 1000000L).as("timestamp"),
          (pmod(col("doc_id"), lit(100L)) * 1.0).as("temperature"),
          lit(50.0).as("humidity"),
          lit(1000.0).as("pressure"))
          .as[graft.model.SensorReading]
        graft.streaming.Stateful.ewmaAnomalies(readings,
          watermark = "2 minutes", idleMs = 10 * 60 * 1000L).toDF()
      },
      sfDir, rowsPerBatch, minBatches, deadlineSec)
  }

  /** ANN SERVING against a live query stream: query vectors arrive on
    * the rate clock (cycling a cached pool of real embeddings), and each
    * micro-batch is served by ONE pruned [[graft.ext.Similarity.ivfProbeBatch]]
    * plan against the frozen physical IVF layout — the freeze-then-score
    * recipe (BM25's batch-stats split, the PQ codebook split) applied to
    * the vector index: the index is built once at index-build time, the
    * stream pays only pruned probes. The micro-batch's queries collect
    * to the driver inside `foreachBatch` (serving requests ARE driver
    * metadata — the same class as the probe's centroid scores), so state
    * never grows and nothing re-trains mid-stream. Top-10 per query
    * appends to a parquet sink; telemetry rides the same listener as
    * every other envelope section.
    */
  def measureAnnServeStream(spark: SparkSession, sfDir: String,
      rowsPerBatch: Int = 50, minBatches: Int = 15,
      deadlineSec: Int = 180): DocEnvelope = {
    val kind = "ann_serve_stream"
    val path = graft.SparkEntry.ivfLayout(spark, sfDir) // warm index build
    val out = Files.createTempDirectory(s"graft_${kind}_out").toString + "/out"
    val (stream, pool) = pooledStream(spark,
      graft.sources.Tables.embeddings(spark, sfDir), "vec_id", "embedding",
      "qid", rowsPerBatch)
    val (elapsedSec, Seq(b)) = harness(spark, minBatches, deadlineSec,
      Seq(() => writer(stream, kind)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val qs = batch.collect().map(r => (r.getLong(0),
            r.getSeq[Float](1).map(_.toDouble).toSeq)).toSeq
          if (qs.nonEmpty)
            // transactional append — the envelope prices the production
            // exactly-once sink (staging + manifest), not a blind append
            TxnSink.append(
              graft.ext.Similarity.ivfProbeBatch(spark, path, "vec_id",
                "embedding", qs, k = 10, nProbe = 2, excludeSelf = false),
              out, batchId)
        }
        .start()),
      cleanup = () => pool.unpersist())
    docEnvelope(kind, b.rows, elapsedSec, b, parquetRows(spark, out))
  }

  /** Keyspace of the two CDC sections. */
  private val CdcKeys = 100000L

  /** The CDC sections' seed snapshot: every key at version 0. */
  private def cdcSeed(spark: SparkSession): DataFrame =
    spark.range(CdcKeys).select(col("id"), lit(0L).as("ver"),
      (col("id") % 997).cast("double").as("x"))

  /** The CDC sections' deterministic change stream: rate-driven upserts
    * scattered over [[CdcKeys]], every 50th row a tombstone.
    */
  private def cdcStream(spark: SparkSession, rowsPerBatch: Int): DataFrame =
    rateClock(spark, rowsPerBatch).select(
      pmod(col("value") * lit(2654435761L), lit(CdcKeys)).as("id"),
      (col("value") + 1L).as("ver"),
      col("value").cast("double").as("x"),
      (col("value") % 50 === 0).as("del"))

  /** CDC-apply envelope: a deterministic change stream (rate-driven
    * upserts + periodic tombstones over a bounded keyspace) merged into a
    * bucketed copy-on-write snapshot per micro-batch via `foreachBatch` +
    * [[graft.ops.Upsert.applyPartitioned]]. msg/min INCLUDES the
    * partition-pruned read + merge + rewrite of the touched buckets each
    * batch — the standing-MERGE-INTO cost, not just a transform. A 50-row
    * batch over 64 buckets touches most of them at this tiny scale; at
    * production bucket counts (thousands) a batch touches the O(batch)
    * few, which is the op's whole point.
    */
  def measureCdcApplyStream(spark: SparkSession,
      rowsPerBatch: Int = 50, minBatches: Int = 10,
      deadlineSec: Int = 180): DocEnvelope = {
    val kind = "cdc_apply_stream"
    val snap = Files.createTempDirectory("graft_cdc_snap").toString + "/snap"
    val nBuckets = 64
    graft.ops.Upsert.initPartitioned(cdcSeed(spark), Seq("id"), nBuckets,
      snap)
    val (elapsedSec, Seq(b)) = harness(spark, minBatches, deadlineSec,
      Seq(() => writer(cdcStream(spark, rowsPerBatch), kind)
        // batch-id fence included: the envelope prices the production
        // applyStream shape (marker write per batch), not the bare merge
        .foreachBatch(TxnSink.fenced(s"${snap}_txn") {
          (batch: DataFrame, _: Long) =>
            graft.ops.Upsert.applyPartitioned(batch.sparkSession, snap,
              batch, Seq("id"), "ver", nBuckets, deleteCol = Some("del"))
            ()
        })
        .start()))
    docEnvelope(kind, b.rows, elapsedSec, b, spark.read.parquet(snap).count())
  }

  /** Envelope of the STREAMING MERGE (X129) at steady state — the same
    * CDC shape as [[measureCdcApplyStream]] but applied INSIDE the
    * table format: each rate-source micro-batch upserts into an OCC
    * table through [[graft.sources.OccTable.mergeSink]] (SetTransaction
    * fence, stats-discovered touched files, delete flags). The bucket
    * store's apply touches only its keys' buckets; the format MERGE
    * re-stages every candidate file — at this hot-table scale with
    * scattered keys that is most of the table per batch, so this
    * envelope prices the WORST-case merge cadence, not the clustered
    * one. `out_rows` = live rows in the table at stop.
    */
  def measureOccMergeStream(spark: SparkSession,
      rowsPerBatch: Int = 50, minBatches: Int = 10,
      deadlineSec: Int = 180): DocEnvelope = {
    val kind = "occ_merge_stream"
    val table = Files.createTempDirectory("graft_occ_menv").toString + "/t"
    graft.sources.OccTable.init(
      cdcSeed(spark).repartitionByRange(16, col("id")),
      table, statsColumns = Seq("id"))
    val (elapsedSec, Seq(b)) = harness(spark, minBatches, deadlineSec,
      Seq(() => writer(cdcStream(spark, rowsPerBatch), kind)
        .foreachBatch(graft.sources.OccTable.mergeSink(table,
          "occ_merge_env", Seq("id"), deleteCol = Some("del"),
          statsColumns = Seq("id")))
        .start()))
    docEnvelope(kind, b.rows, elapsedSec, b,
      graft.sources.OccTable.read(spark, table)().count())
  }

  /** Envelope of the OCC COMMIT-LOG TAIL (X104) at steady state: an
    * external producer thread lands one OCC append per second on a
    * source table while [[graft.sources.OccStream.tailTo]] subscribes
    * and relays every commit's AddFiles into a SECOND OCC table through
    * the SetTransaction-fenced sink — the full lakehouse loop (write
    * side AND read side) priced live. A checkpoint + compaction rewrite
    * fires on the source mid-run; under `skipRewrites` the tail must
    * ride through it without duplicating delivered content.
    * `docs`/msg_per_min = data rows landed in the DESTINATION table
    * (the relayed end-to-end throughput, not feed-action rows);
    * out_rows = rows committed to the source by stop time (the gap =
    * in-flight tail lag). Latencies are the tail query's productive
    * triggerExecution times.
    */
  def measureOccTailStream(spark: SparkSession, rowsPerAppend: Int = 200,
      appendIntervalMs: Long = 1000L, minBatches: Int = 12,
      deadlineSec: Int = 180): DocEnvelope = {
    def shape(lo: Long, n: Long) = spark.range(lo, lo + n).select(col("id"),
      (col("id") % 10).as("sensor"), col("id").cast("double").as("v"))
    measureOccRelayStream(spark, "occ_tail_stream", "occ_tail_env",
      shape, identity, rowsPerAppend, appendIntervalMs, minBatches,
      deadlineSec)
  }

  /** Envelope of the FULL lakehouse loop (X119) at steady state:
    * the [[measureOccTailStream]] harness with the X14 curation
    * pipeline (fingerprint dedup → quality → language-ID → survivor
    * selection) applied to EVERY relayed micro-batch before the fenced
    * append — tail → curate → exactly-once append, priced live with
    * the mid-run checkpoint + compaction on the source. Synthetic
    * documents alternate survivor/reject shapes so both filter
    * branches stay hot; `docs`/msg_per_min counts CURATED rows landed
    * in the destination (end-to-end useful throughput).
    */
  def measureLakehouseStream(spark: SparkSession, rowsPerAppend: Int = 200,
      appendIntervalMs: Long = 1000L, minBatches: Int = 12,
      deadlineSec: Int = 180): DocEnvelope = {
    // survivors need quality >= 0.5 = min(1, n_tokens/100) x
    // (1 - stopword_frac) and an 'en' verdict (>= 1 stopword): the
    // long shape is ~130 mostly-non-stopword words; the short shape
    // fails the quality gate, keeping the reject branch hot
    val body = Array.tabulate(120)(i => s"word$i").mkString(" ")
    def docShape(lo: Long, n: Long) = spark.range(lo, lo + n).select(
      col("id").as("doc_id"),
      when(col("id") % 3 === 0,
        concat(lit("short doc "), col("id")))
        .otherwise(concat(lit("the unique document "), col("id"),
          lit(s" begins here and carries the body $body end of "),
          col("id")))
        .as("text"))
    measureOccRelayStream(spark, "lakehouse_pipeline_stream",
      "lakehouse_env",
      docShape,
      b => graft.ext.TextStats.curate(b, "doc_id", "text",
        minQuality = 0.5, lang = "en"),
      rowsPerAppend, appendIntervalMs, minBatches, deadlineSec)
  }

  /** The shared OCC relay harness: producer thread lands one append
    * per interval on the source table, a commit-log tail relays
    * `relay(batch)` into the destination through the fenced sink, a
    * checkpoint + compaction fires mid-run. `delivered` counts rows in
    * the DESTINATION at stop time.
    */
  private def measureOccRelayStream(spark: SparkSession, kind: String,
      appId: String, mkRows: (Long, Long) => DataFrame,
      relay: DataFrame => DataFrame, rowsPerAppend: Int,
      appendIntervalMs: Long, minBatches: Int,
      deadlineSec: Int): DocEnvelope = {
    val root = Files.createTempDirectory(s"graft_${kind}_env")
    val src = root.toString + "/src"
    val dst = root.toString + "/dst"
    val ckpt = Files.createTempDirectory(s"graft_${kind}_env_ckpt")
    val shape = mkRows(0L, 0L)
    graft.sources.OccTable.init(shape, src)
    graft.sources.OccTable.init(relay(shape), dst)
    val append = Feed(appendIntervalMs, batch => {
      graft.sources.OccTable.append(
        mkRows(batch * rowsPerAppend, rowsPerAppend.toLong).coalesce(1), src)
      // mid-run maintenance: the compaction the tail must ride through
      if (batch == 5L) {
        graft.sources.OccTable.checkpoint(spark, src)
        graft.sources.OccTable.rewrite(spark, src, d => d.coalesce(1))
      }
    })
    val (elapsedSec, Seq(b)) = harness(spark, minBatches, deadlineSec,
      Seq(() => graft.sources.OccStream.tailTo(spark, src, ckpt.toString,
        (batch, ver) => graft.sources.OccTable
          .streamingSink(dst, appId)(relay(batch), ver),
        onRewrite = "skipRewrites", queryName = Some(s"graft_envelope_$kind"))),
      feed = Some(append))
    val delivered = graft.sources.OccTable.read(spark, dst)().count()
    val srcRows = graft.sources.OccTable.read(spark, src)().count()
    docEnvelope(kind, delivered, elapsedSec, b, srcRows)
  }

  /** Envelope of a WATERMARKED WINDOWED-AGG shape over the sensor rate
    * stream — the measured halves of the two window families the dual
    * sink does not cover: hopping (each event lands in width/slide
    * windows, so the state store holds overlapping windows — the ×2
    * state fan-out priced here) and session (gap-merge state; sessions
    * close only when the watermark passes last-event + gap). Same
    * listener-accumulated telemetry and deadline protocol as
    * [[measureDocStream]]; throughput counts INPUT readings, out_rows =
    * finalized windows/sessions the append sink flushed.
    */
  def measureSensorWindowStream(spark: SparkSession, kind: String,
      build: DataFrame => DataFrame, rowsPerBatch: Int = 50,
      advanceMsPerBatch: Long = 120000L, minBatches: Int = 15,
      deadlineSec: Int = 180): DocEnvelope =
    parquetSection(spark, kind,
      build(Sources.rateSimulated(spark, rowsPerBatch = rowsPerBatch,
        advanceMsPerBatch = advanceMsPerBatch)),
      minBatches, deadlineSec)

  /** Drives the dual sink — [[Pipeline.startDual]]'s two halves,
    * [[Pipeline.startRawSink]] then [[Pipeline.startAggSink]], started
    * one at a time so a failing agg start still stops the raw query —
    * from [[Sources.rateSimulated]] until the slower (stateful agg) query
    * has processed `minAggBatches` productive micro-batches or
    * `deadlineSec` elapses, then reads the envelope out of the engine's
    * own progress telemetry and what the raw sink actually wrote.
    * Latency quantiles are over PRODUCTIVE batches (numInputRows > 0):
    * empty triggers cost ~nothing and would flatter the median.
    */
  def measure(spark: SparkSession, rowsPerBatch: Int = 50,
      advanceMsPerBatch: Long = 120000L, minAggBatches: Int = 15,
      deadlineSec: Int = 180): Envelope = {
    val out = Files.createTempDirectory("graft_steady_out").toString
    val ckpt = Files.createTempDirectory("graft_steady_ckpt").toString
    val readings = Sources.rateSimulated(spark, rowsPerBatch = rowsPerBatch,
      advanceMsPerBatch = advanceMsPerBatch)
    val (elapsedSec, Seq(raw, agg)) = harness(spark, minAggBatches,
      deadlineSec, Seq(
        () => Pipeline.startRawSink(readings, out, ckpt),
        () => Pipeline.startAggSink(readings, out, ckpt)))
    val rows = parquetRows(spark, s"$out/raw")
    Envelope(
      rows = rows, elapsedSec = elapsedSec,
      msgPerMin = rows / elapsedSec * 60,
      rawBatches = raw.count, rawMedianMs = raw.medianMs,
      rawMaxMs = raw.maxMs,
      aggBatches = agg.count, aggMedianMs = agg.medianMs,
      aggMaxMs = agg.maxMs,
      aggWindowsFlushed = parquetRows(spark, s"$out/agg"),
      rowsPerBatch = rowsPerBatch, advanceMsPerBatch = advanceMsPerBatch)
  }
}
