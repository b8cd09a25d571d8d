package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

import graft.Scratch
import graft.ops.WindowedAgg
import graft.sources.{OccTable, Tables}

/** The north-star streaming path (SURVEY.md §2.8, §3.1): event stream →
  * watermarked 5-minute tumbling aggregate → dual sink (raw append + agg
  * append), mirroring reference/spark_streaming.py:125-189.
  *
  * Differences from the reference, on purpose:
  *   - per-query checkpoint directories (the reference shares one — the
  *     latent bug called out in SURVEY ST6; two queries must not share
  *     offsets/state);
  *   - sinks are Parquet appends (data-lake posture) instead of JDBC;
  *   - the aggregate sink keeps the reference's non-empty-batch guard
  *     (reference/spark_streaming.py:67) via `foreachBatch`.
  *
  * Source wiring is the caller's: any streaming DataFrame with the
  * sensor-reading schema works (Kafka `readStream` in production,
  * MemoryStream / file / rate source in tests) — the bridge protocol in
  * the reference (MQTT→Kafka) is pass-through, so Kafka source semantics
  * cover it.
  */
object Pipeline {

  /** Watermarked windowed aggregate plan (streaming or batch): event-time
    * watermark bounds state (late rows within `watermark` update their
    * window; later ones are dropped), then the reference's 5-minute
    * per-sensor rollup. One shuffle on (sensor_id, window); state per
    * open (key, window) pair only.
    */
  def watermarkedRollup(readings: DataFrame, watermark: String = "10 minutes",
      width: String = "5 minutes"): DataFrame =
    WindowedAgg.sensorRollup(
      readings.withWatermark("timestamp", watermark), width)

  /** Raw passthrough sink: append every micro-batch to `$outDir/raw`
    * (reference write_raw_data, spark_streaming.py:52-62,145-148).
    */
  def startRawSink(readings: DataFrame, outDir: String, checkpointRoot: String,
      trigger: Trigger = Trigger.ProcessingTime(0)): StreamingQuery =
    readings.writeStream
      .format("parquet")
      .option("path", s"$outDir/raw")
      .option("checkpointLocation", s"$checkpointRoot/raw")
      .outputMode("append")
      .trigger(trigger)
      .start()

  /** The production aggregate sink body: batch-id-fenced transactional
    * parquet append ([[TxnSink.exactlyOnceParquetSink]]) — exactly-once
    * where the reference's blind JDBC append (write_aggregated_data,
    * spark_streaming.py:52-75) re-appends a replayed micro-batch after
    * a restart between the write and the checkpoint commit. The
    * reference's non-empty guard (spark_streaming.py:67) survives
    * inside the sink: an empty batch writes no data files, only the
    * fence's empty manifest. Shared by [[startAggSink]] and the replay
    * gates so they can never drift from the sink shape they verify.
    */
  private[streaming] def parquetAppendSink(dir: String): (DataFrame, Long) => Unit =
    TxnSink.exactlyOnceParquetSink(dir)

  /** Aggregate sink: append-mode windowed rollup to `$outDir/agg`,
    * non-empty-batch guard preserved
    * (reference write_aggregated_data, spark_streaming.py:64-75,152-181).
    */
  def startAggSink(readings: DataFrame, outDir: String, checkpointRoot: String,
      watermark: String = "10 minutes", width: String = "5 minutes",
      trigger: Trigger = Trigger.ProcessingTime(0)): StreamingQuery =
    watermarkedRollup(readings, watermark, width).writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$checkpointRoot/agg")
      .trigger(trigger)
      .foreachBatch(parquetAppendSink(s"$outDir/agg"))
      .start()

  /** Replay the `events` parquet table THROUGH the streaming engine and
    * return the completed windowed aggregate as a batch DataFrame: file
    * stream source → tumbling window agg → complete-mode memory sink →
    * `Trigger.AvailableNow` until exhausted. Registered with the same
    * DuckDB oracle as the batch form, so the correctness gate checks that
    * the STREAMING engine produces byte-identical analytics — the
    * batch/stream unification claim, verified.
    *
    * Complete output mode is used (not append+watermark) because a finite
    * replay must emit every window including the final unflushed ones;
    * state is bounded by the window count of the replayed range. The
    * sink's temp view is dropped once the returned frame is analysed
    * (the frame holds the sink's rows itself), so repeated runs in one
    * session leave no view behind.
    */
  def replayWindowedAgg(spark: SparkSession, dir: String): DataFrame = {
    val sinkName = "replay_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    Replay(spark, "agg", dir) { r =>
      val stream = r.events(dir)
      r.toEnd(WindowedAgg.tumbling(stream, "ts", "event_type", "value"),
        outputMode = "complete")(_.format("memory").queryName(sinkName))
    }
    val out = spark.table(sinkName)
    spark.catalog.dropTempView(sinkName)
    out
  }

  /** The INCREMENTAL replay twin of [[replayWindowedAgg]]: the same finite
    * events replay through the PRODUCTION streaming shape — append output
    * mode, event-time watermark, `foreachBatch` parquet append (the
    * [[startAggSink]] sink form) — instead of a complete-mode memory sink.
    * State stays bounded by the watermark and nothing is re-emitted per
    * micro-batch, so this is the form whose cost model survives an
    * unbounded stream; the complete-mode gate remains the total-equality
    * check (append mode can never emit the final, not-yet-finalized
    * windows of a finite replay — this variant's contract is exactly the
    * FINALIZED prefix: windows whose end the final watermark
    * (max event time − `watermark`) has passed).
    *
    * A replay shorter than watermark + window finalizes nothing: empty
    * batches commit no data files, so the gate returns the plan's empty
    * batch form (the oracle's HAVING is empty too). The hopping and
    * session twins below share this contract.
    */
  def replayWindowedAggIncremental(spark: SparkSession, dir: String,
      watermark: String = "10 minutes"): DataFrame = {
    def plan(d: DataFrame) = WindowedAgg.tumbling(d, "ts", "event_type", "value")
    val out = Replay(spark, "agg_inc", s"$dir|$watermark") { r =>
      val stream = r.events(dir)
      r.toParquet("agg")(plan(stream.withWatermark("ts", watermark)))
    }
    TxnSink.committedReadOr(spark, out)(plan(Tables.events(spark, dir).limit(0)))
  }

  /** The HOPPING (overlapping-window) member of the incremental-replay
    * family: [[WindowedAgg.hopping]]'s width/slide windows through the
    * production streaming shape (event-time watermark, append output,
    * parquet-append sink). Overlap through the state store is what this
    * gate adds over the tumbling one: each event updates width/slide
    * OPEN windows at once, and the watermark finalizes each window
    * independently as it passes that window's end — emitted exactly
    * once, the finalized-prefix contract. State per key is bounded by
    * the open-window count (width/slide windows per key more than
    * tumbling holds), not by history. Oracled as
    * `q_hopping_window_stream_inc` via the batch hopping SQL plus the
    * finalized-prefix HAVING.
    */
  def replayHoppingIncremental(spark: SparkSession, dir: String,
      watermark: String = "10 minutes", width: String = "10 minutes",
      slide: String = "5 minutes"): DataFrame = {
    def plan(d: DataFrame) =
      WindowedAgg.hopping(d, "ts", "event_type", "value", width, slide)
    val out = Replay(spark, "hop_inc", s"$dir|$watermark|$width|$slide") { r =>
      val stream = r.events(dir)
      r.toParquet("hop")(plan(stream.withWatermark("ts", watermark)))
    }
    TxnSink.committedReadOr(spark, out)(plan(Tables.events(spark, dir).limit(0)))
  }

  /** Streaming SESSIONIZATION — the one stateful shape the engine had
    * not exercised on a stream: [[WindowedAgg.sessionized]]'s gap-merge
    * `session_window` through the production streaming form (event-time
    * watermark, append output, parquet append sink). Emits the FINALIZED
    * sessions of a finite replay — sessions whose end (last event + gap)
    * the final watermark passed; a session still extendable at watermark
    * time is held in state, exactly the unbounded-stream contract. State
    * is bounded by OPEN sessions per key (closed ones are evicted at
    * watermark), so an unbounded stream holds state proportional to
    * concurrent activity, not history. Oracled as
    * `q_session_window_stream_inc` via the same gaps-and-islands SQL as
    * the batch form plus the finalized-prefix HAVING.
    */
  def replaySessionized(spark: SparkSession, dir: String,
      gap: String = "30 minutes", watermark: String = "10 minutes"): DataFrame = {
    def plan(d: DataFrame) = WindowedAgg.sessionized(d, "ts", "event_type", gap)
    val out = Replay(spark, "sess_inc", s"$dir|$gap|$watermark") { r =>
      val stream = r.events(dir)
      r.toParquet("sess")(plan(stream.withWatermark("ts", watermark)))
    }
    TxnSink.committedReadOr(spark, out)(plan(Tables.events(spark, dir).limit(0)))
  }

  /** STREAM-STREAM interval-join gate: correlate each high-value alert
    * with the readings of the same `event_type` in the `window` after it
    * ([[graft.ops.Temporal.streamIntervalJoin]]), both sides LIVE
    * branches of one events stream — the self-join form Spark's
    * stream-stream join supports. The replay runs the events table as a
    * TIME-SPLIT multi-file stream ([[Replay.eventsSplit]]): four
    * micro-batches in event-time order, so alerts genuinely wait in join
    * state across batches for readings that arrive later, and watermark
    * eviction runs mid-replay — the single-file replay would fold the
    * whole join into one batch and exercise none of that.
    *
    * Inner-join output is eager (nothing held for watermark
    * finalization), and the in-order split keeps every row inside the
    * watermark slack, so the replay equals the BATCH interval join
    * row-for-row — the `q_stream_stream_join` oracle replays the plain
    * containment join in DuckDB with no finalized-prefix clause.
    *
    * `joinType = "leftOuter"` runs the outer form — "which alerts were
    * NOT followed by a normal reading": the right side then carries only
    * sub-threshold readings (with every reading on the right, each alert
    * would self-match and the outer branch could never fire). Matched
    * rows emit eagerly as before; an unresolved alert emits null-padded
    * only when join-state EVICTION reaches it — which Spark runs one
    * batch behind the watermark, so state from the final data batch
    * would simply never flush on a bounded replay (measured: a
    * six-days-stale alert stayed unemitted). The replay therefore closes
    * the stream the way Flink's bounded sources do — a final
    * watermark past everything — via two far-future flush-sentinel
    * batches ([[Replay.eventsSplit]]'s `flushSentinels`), after which
    * EVERY unresolved alert has emitted and the oracle is the plain
    * batch LEFT join, no finalized-prefix clause.
    */
  def replayStreamStreamJoin(spark: SparkSession, dir: String,
      threshold: Double = 200.0, window: String = "5 minutes",
      watermark: String = "30 minutes",
      joinType: String = "inner"): DataFrame = {
    def alerts(d: DataFrame) = d.select(
      col("event_id").as("alert_id"), col("ts").as("alert_ts"),
      col("event_type"), col("value").as("alert_value"))
      .where(col("alert_value") >= threshold)
    def readings(d: DataFrame) = {
      val all = d.select(
        col("event_id").as("reading_id"), col("ts").as("r_ts"),
        col("event_type"), col("value").as("r_value"))
      if (joinType == "leftOuter") all.where(col("r_value") < threshold)
      else all
    }
    def plan(d: DataFrame) = graft.ops.Temporal.streamIntervalJoin(
      alerts(d), "alert_ts", watermark,
      readings(d), "r_ts", watermark,
      Seq("event_type"), windowTo = window, joinType = joinType)
    val out = Replay(spark, "ssj",
        s"$dir|$threshold|$window|$watermark|$joinType") { r =>
      val stream = r.eventsSplit(dir, nFiles = 4,
        flushSentinels = if (joinType == "leftOuter") 2 else 0)
      r.toParquet("ssj")(plan(stream))
    }
    val raw = TxnSink.committedReadOr(spark, out)(
      plan(Tables.events(spark, dir).limit(0)))
    // the flush sentinels wear negative ids; drop their own join rows
    if (joinType == "leftOuter") raw.filter(col("alert_id") >= 0) else raw
  }

  /** Streaming ingest INTO an OCC table with a maintenance compaction
    * RACING it mid-stream (X103 × streaming — the lakehouse shape): the
    * events table replays as a four-slice time-split stream, each
    * micro-batch lands as an idempotent fenced OCC append
    * ([[graft.sources.OccTable.appendStream]], Delta's SetTransaction
    * form: the fence is log state, so it survives compaction), and
    * after the third slice the SAME foreachBatch also runs a full
    * compaction rewrite over everything committed so far. The
    * AddFile-only rule means neither blocks the other: the compactor
    * removes only files it read, later appends survive, nothing is
    * lost or duplicated — so the final read equals the plain events
    * table, which is exactly how the `q_occ_stream_ingest` oracle
    * checks it (no finalized-prefix clause; passthrough has no
    * watermark state).
    */
  def replayOccIngest(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("event_id", "event_type", "value")
    val table = Replay(spark, "occ_ingest", dir) { r =>
      val stream = r.eventsSplit(dir, nFiles = 4)
      val table = r.path("t")
      OccTable.init(
        Tables.events(spark, dir).select(cols.map(col): _*).limit(0), table)
      r.toEnd(stream.select(cols.map(col): _*))(_.foreachBatch {
        (batch: DataFrame, batchId: Long) =>
          OccTable.appendStream(batch, table, "occ_ingest", batchId)
          // the racing maintenance job: compact everything committed so
          // far while slices are still arriving
          if (batchId == 2L)
            OccTable.rewrite(spark, table, d => d.coalesce(1))
          ()
      })
      table
    }
    OccTable.read(spark, table)()
  }

  /** X145 — the COMPOSED lakehouse flow through the STREAMING ingest
    * path, one continuous story where `q_occ_pruned_composed` pins the
    * batch verbs: RENAME value→reading (column mapping in force BEFORE
    * any data lands, so every staged file writes physical `value`) →
    * declare the GENERATED partition key `bucket = event_id % 4` (the
    * ingest never carries it; X138 computes it at the sink) → 4-slice
    * fenced streaming ingest through the PARTITIONED appendStream
    * (per-file partitionValues recorded under the mapping) → a CDC
    * merge negates `reading` for event_id % 20 == 2 → the result is
    * the pv-PRUNED bucket=2 read left-joined with the CHANGE FEED of
    * the merge window. Partition pruning, mapped reads, generated
    * columns, the SetTransaction fence, and CDF classification all
    * verify in ONE oracled frame (closed-form oracle over events).
    */
  def replayOccComposed(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("event_id", "event_type", "value")
    val O = OccTable
    val table = Replay(spark, "occ_comp", dir) { r =>
      val stream = r.eventsSplit(dir, nFiles = 4)
      val table = r.path("t")
      // the zero-row init still stages (empty) part files, so the
      // declaration gate sees a non-empty table — carry the column in
      // the v0 SCHEMA and the zero-row validation passes trivially
      O.init(Tables.events(spark, dir)
        .select(cols.map(col): _*).limit(0)
        .withColumn("bucket", expr("cast(event_id % 4 as bigint)")), table)
      O.renameColumn(spark, table, "value", "reading")
      O.addGeneratedColumn(spark, table, "bucket",
        "cast(event_id % 4 as bigint)")
      r.toEnd(stream.select(cols.map(col): _*)
          .withColumnRenamed("value", "reading"))(_.foreachBatch {
        (batch: DataFrame, batchId: Long) =>
          O.appendStream(batch, table, "occ_comp", batchId,
            statsColumns = Seq("event_id"),
            partitionBy = Seq("bucket"))
          ()
      })
      table
    }
    val vIngested = O.snapshot(spark, table).version
    val src = O.read(spark, table)()
      .filter(col("event_id") % 20 === 2)
      .withColumn("reading", -col("reading"))
    O.merge(spark, table, src, Seq("event_id"))
    val vMerged = O.snapshot(spark, table).version
    val changes = O.tableChanges(spark, table, vIngested, vMerged,
      Seq("event_id"), Seq("reading"))
      .select(col("event_id"), col("status").as("chg"))
    O.readPartitionPruned(spark, table, Seq(("bucket", "2")))
      .join(changes, Seq("event_id"), "left")
      .select(col("event_id"), col("reading"), col("bucket"),
        coalesce(col("chg"), lit("unchanged")).as("status"))
  }

  /** OCC commit-log TAILING replayed end-to-end (X104, the read-side
    * twin of [[replayOccIngest]]): a SOURCE OccTable receives a live
    * append series — four event slices landing as separate commits — and
    * an [[graft.sources.OccStream.tailTo]] subscriber (one version per
    * micro-batch via the admission cap, `skipRewrites` policy) relays
    * each commit's AddFiles into a SECOND OccTable through the
    * SetTransaction-fenced streaming sink. A checkpoint + full-snapshot
    * compaction runs on the source mid-stream: the tail must skip the
    * rewrite commit (its content was already delivered version by
    * version) and keep consuming the appends AFTER it, so the
    * destination table reads ≡ the source table reads ≡ the plain
    * events selection — the oracle (`q_occ_stream_read`).
    */
  def replayOccTail(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("event_id", "event_type", "value")
    val base = Tables.events(spark, dir).select(cols.map(col): _*)
    def slice(i: Int): DataFrame = base.filter(col("event_id") % 4 === i)
    val dst = Replay(spark, "occ_tail", dir) { r =>
      val (src, dst) = (r.path("src"), r.path("dst"))
      r.live { ckpt =>
        OccTable.init(slice(0), src)                                // v0
        OccTable.init(base.limit(0), dst)
        graft.sources.OccStream.tailTo(spark, src, ckpt,
          OccTable.streamingSink(dst, "occ_tail"),
          maxVersionsPerTrigger = 1, onRewrite = "skipRewrites")
      } { q =>
        q.processAllAvailable()                                     // v0 delivered
        OccTable.append(slice(1), src)                              // v1
        q.processAllAvailable()
        OccTable.append(slice(2), src)                              // v2
        // the racing maintenance pass: compact everything committed so
        // far while the tail is mid-log — delivered content must not
        // duplicate, later appends must still arrive
        OccTable.rewrite(spark, src, d => d.coalesce(1))            // v3
        OccTable.append(slice(3), src)                              // v4
        q.processAllAvailable()
      }
      dst
    }
    OccTable.read(spark, dst)()
  }

  /** Streaming MERGE gate (`q_occ_merge_stream`, X129 — Delta's
    * foreachBatch-merge idiom): the q_occ_merge CDC batch splits into
    * four key-disjoint micro-batches that upsert into a key-clustered
    * OCC table through [[graft.sources.OccTable.mergeSink]] — each
    * apply discovers its touched files off the X117 stats, replaces
    * matched rows, inserts the shifted keys, drops the delete-flagged
    * ones, and carries the SetTransaction fence. Keys are disjoint
    * across batches, so the streamed apply faces q_occ_merge's
    * latest-wins oracle VERBATIM: batch order cannot matter.
    */
  def replayOccMerge(spark: SparkSession, dir: String): DataFrame = {
    val table = Replay(spark, "occ_mergestream", dir) { r =>
      val table = r.path("t")
      val cdcDir = r.path("cdc")
      val ev = Tables.events(spark, dir)
        .select("event_id", "ts", "user_id", "event_type", "value")
      val maxId = ev.agg(max("event_id")).head.getLong(0)
      val qId = maxId / 4
      OccTable.init(
        ev.repartitionByRange(8, col("event_id")), table,
        statsColumns = Seq("event_id"))
      val upd = ev
        .filter(col("event_id") % 10 === 0 && col("event_id") <= qId)
        .withColumn("ts", col("ts") + expr("INTERVAL 60 DAYS"))
        .withColumn("value", -col("value"))
        .withColumn("deleted", col("event_id") % 100 === 0)
      val ins = ev
        .filter(col("event_id") % 10 === 5 && col("event_id") <= qId)
        .withColumn("event_id", col("event_id") + maxId)
        .withColumn("deleted", lit(false))
      val cdc = upd.unionByName(ins)
      cdc.repartitionByRange(4, col("event_id")).write.parquet(cdcDir)
      r.toEnd(spark.readStream.schema(cdc.schema)
          .option("maxFilesPerTrigger", 1).parquet(cdcDir))(
        _.foreachBatch(OccTable.mergeSink(table,
          "occ_merge_stream", Seq("event_id"),
          deleteCol = Some("deleted"), statsColumns = Seq("event_id"))))
      table
    }
    OccTable.read(spark, table)()
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), round(col("value"), 6).as("value"))
  }

  /** Streaming change-feed gate (`q_occ_changes_stream`, X125): a
    * four-version table (init → append → 1-in-10 negating rewrite →
    * append) subscribed through [[graft.sources.OccStream.changesTo]]
    * at per-version granularity; the committed change rows replay as
    * closed-form (key, version, status) classification — including
    * the rewrite's version emitting ONLY the genuinely changed rows,
    * which an append-only tail cannot represent at all.
    */
  def replayOccChanges(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(spark, dir)
      .select("event_id", "event_type", "value")
    val out = Replay(spark, "occ_changes", dir) { r =>
      val (t, out) = (r.path("t"), r.path("changes"))
      r.live { ckpt =>
        OccTable.init(
          base.filter(col("event_id") % 3 === 0), t)                  // v0
        OccTable.append(
          base.filter(col("event_id") % 3 === 1), t)                  // v1
        OccTable.rewrite(spark, t, d => d.withColumn(
          "value", when(col("event_id") % 10 === 0, -col("value"))
            .otherwise(col("value"))))                                // v2
        OccTable.append(
          base.filter(col("event_id") % 3 === 2), t)                  // v3
        graft.sources.OccStream.changesTo(spark, t, ckpt, Seq("event_id"),
          Seq("event_type", "value"), parquetAppendSink(out),
          maxVersionsPerTrigger = 1, trigger = Replay.ToEnd)
      }(_.awaitTermination())
      out
    }
    TxnSink.committedRead(spark, out)
      .select(col("event_id"), col("to_version").as("version"),
        col("status"))
  }

  /** Streaming change feed ACROSS A DELETION-VECTOR COMMIT
    * (`q_occ_changes_dv_stream`, X134 × X125): the subscription rides
    * an init → deleteRangeDv → append log. The delete_dv version
    * rewrites ZERO data files — same names, new `dv=` pointer — and
    * the dv-aware churn keys must still surface exactly its deleted
    * keys as `removed` rows (an append-only or name-keyed diff would
    * emit nothing at all for it).
    */
  def replayOccChangesDv(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(spark, dir)
      .select("event_id", "event_type", "value")
    val out = Replay(spark, "occ_changes_dv", dir) { r =>
      val (t, out) = (r.path("t"), r.path("changes"))
      val q5 = base.agg(max("event_id")).head.getLong(0) / 5
      r.live { ckpt =>
        OccTable.init(
          base.filter(col("event_id") % 2 === 0), t,
          statsColumns = Seq("event_id"))                             // v0
        OccTable.deleteRangeDv(spark, t, "event_id",
          0.0, q5.toDouble)                                           // v1
        OccTable.append(
          base.filter(col("event_id") % 2 === 1), t)                  // v2
        graft.sources.OccStream.changesTo(spark, t, ckpt, Seq("event_id"),
          Seq("event_type", "value"), parquetAppendSink(out),
          maxVersionsPerTrigger = 1, trigger = Replay.ToEnd)
      }(_.awaitTermination())
      out
    }
    TxnSink.committedRead(spark, out)
      .select(col("event_id"), col("to_version").as("version"),
        col("status"))
  }

  /** X119: the lakehouse loop closed END-TO-END as one standing
    * process — an OCC commit-log tail (X104) subscribes to a documents
    * source table, runs the FULL X14 curation pipeline
    * (normalize-fingerprint dedup → quality scoring → language-ID →
    * survivor selection) on EVERY micro-batch, and lands survivors in
    * a second OCC table through the fenced exactly-once sink (X101's
    * SetTransaction form) — while a compaction races the tail mid-log
    * (skipRewrites, Delta's skipChangeCommits posture).
    *
    * The source ingest is SHARDED BY CONTENT FINGERPRINT (documents
    * with equal normalized text land in the same commit), which is
    * what makes the per-micro-batch dedup globally exact: the
    * window-min over `fp` within a shard IS the corpus-wide min, so
    * the standing pipeline's destination table EQUALS the one-shot
    * batch curation of the whole source — `q_lakehouse_pipeline`
    * faces `q_curation`'s oracle SQL verbatim. At 100 TB this is the
    * production shape: route by fp-hash once at ingest (the same
    * shuffle the batch dedup pays), and curation stays shard-local
    * forever after — no cross-shard state, no global barrier, the
    * curation stage scales with writer parallelism.
    */
  def replayLakehousePipeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    // fp-hash routing: all copies of a normalized text co-shard
    val fpExpr = md5(trim(regexp_replace(lower(col("text")), "\\s+", " ")))
    val sharded = docs.withColumn("__shard",
      pmod(xxhash64(fpExpr), lit(4)))
    def slice(i: Int): DataFrame =
      sharded.filter(col("__shard") === i).drop("__shard")
    def curateBatch(b: DataFrame): DataFrame =
      graft.ext.TextStats.curate(b, "doc_id", "text",
        minQuality = 0.5, lang = "en")
    val dst = Replay(spark, "lakehouse", dir) { r =>
      val (src, dst) = (r.path("src"), r.path("dst"))
      r.live { ckpt =>
        OccTable.init(slice(0), src)                                  // v0
        OccTable.init(curateBatch(docs.limit(0)), dst)
        graft.sources.OccStream.tailTo(spark, src, ckpt,
          (batch, ver) => OccTable
            .streamingSink(dst, "lakehouse_curate")(curateBatch(batch), ver),
          maxVersionsPerTrigger = 1, onRewrite = "skipRewrites")
      } { q =>
        q.processAllAvailable()                                       // v0 curated
        OccTable.append(slice(1), src)                                // v1
        q.processAllAvailable()
        OccTable.append(slice(2), src)                                // v2
        // the racing maintenance pass mid-log: the tail must neither
        // duplicate compacted content nor miss the append after it
        OccTable.rewrite(spark, src, d => d.coalesce(1))              // v3
        OccTable.append(slice(3), src)                                // v4
        q.processAllAvailable()
      }
      dst
    }
    OccTable.read(spark, dst)()
  }

  /** X150 replayed end-to-end: the reference's hot path —
    * `spark.readStream.format(...)` by NAME (spark_streaming.py:125-130)
    * — against the OCC table instead of Kafka. A source table receives
    * four event slices as separate commits; the FORMAT-NAME stream
    * (`readStream.format("graft-occ")`, one version per micro-batch via
    * the admission cap) relays each batch into a second OCC table
    * through the SetTransaction-fenced sink; the destination read must
    * equal the plain events selection — the oracle
    * (`q_occ_stream_format`). This pins the whole lane: version
    * offsets, per-window incremental parquet scans, fenced
    * exactly-once delivery.
    */
  def replayOccFormatStream(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("event_id", "event_type", "value")
    val base = Tables.events(spark, dir).select(cols.map(col): _*)
    val O = OccTable
    val dst = Replay(spark, "occ_fmt", dir) { r =>
      val (src, dst) = (r.path("src"), r.path("dst"))
      r.toEnd {
        O.init(base.filter(col("event_id") % 4 === 0).coalesce(2), src)
        (1 to 3).foreach(i =>
          O.append(base.filter(col("event_id") % 4 === i).coalesce(2), src))
        O.init(base.limit(0), dst)
        spark.readStream.format("graft-occ")
          .option("startingVersion", "earliest")
          .option("maxVersionsPerTrigger", "1")
          .load(src)
      }(_.foreachBatch { (batch: DataFrame, batchId: Long) =>
        O.appendStream(batch, dst, "occ_fmt", batchId)
        ()
      })
      dst
    }
    O.read(spark, dst)()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
  }

  /** The latest snapshot per `key`: the first row of each key's
    * partition under `order`. The snapshot gates append one snapshot per
    * key per micro-batch with a strictly increasing `n`, so the append
    * sink needs no upsert; the reader takes argmax `n`.
    */
  private def latestPerKey(snaps: DataFrame, key: String)(
      order: Column*): DataFrame = {
    val w = Window.partitionBy(key).orderBy(order: _*)
    snaps.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Streaming EXACTLY-ONCE dedup gate — [[dedupedStream]]'s
    * `dropDuplicatesWithinWatermark` semantics replayed as a finite
    * at-least-once delivery: the whole events table delivered TWICE (two
    * source files over one physical parquet, `maxFilesPerTrigger=1`, so
    * the re-delivery arrives in a LATER micro-batch and is suppressed by
    * the state store, not by in-batch dedup), watermark wider than the
    * table's time span so no key is evicted before its re-delivery.
    * Output ≡ `SELECT event_id, … FROM events` — the oracle
    * (`q_dedup_exact_stream_inc`) — iff suppression crossed the batch
    * boundary for every one of the keys. The at-least-once fallback past
    * the horizon (an EVICTED key's late re-delivery re-emits — the
    * documented contract of watermark-bounded state) is pinned in
    * `StreamingPipelineSpec`. State is bounded by keys inside the
    * watermark, never history — the horizon is the dedup SLA a 100 TB
    * deployment tunes against its source's re-delivery window.
    */
  def replayDedupIncremental(spark: SparkSession, dir: String,
      watermark: String = "40 days"): DataFrame = {
    val out = Replay(spark, "dedup", s"$dir|$watermark") { r =>
      val stream = r.events(dir, copies = 2, maxFilesPerTrigger = Some(1))
      r.toParquet("dedup")(stream
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark("event_id")
        .select("event_id", "user_id", "event_type"))
    }
    TxnSink.committedRead(spark, out)
  }

  /** Streaming per-key KLL quantile state gate — the CUSTOM-STATE
    * streaming member of the oracled family (`q_kll_stream_bound`):
    * the events table replayed as 4 time-ranged micro-batches through
    * [[Stateful.kllSnapshots]] (one KLL sketch per event_type in the
    * state store, snapshot emitted per batch), exactly-once into the
    * txn sink. Returns the LATEST snapshot per key (argmax n — n is
    * strictly increasing, so the append sink needs no upsert), as
    * (event_type, sketch) rows for [[graft.ops.Kll.sketchBound]]'s
    * rank audit. The audit's booleans are certified by the sketch's
    * ORDER-INDEPENDENT deterministic bound, which is what lets a
    * custom-state streaming result face a value oracle at all: the
    * exact columns replay in DuckDB, the sketch columns are pinned by
    * a theorem that no arrival order can break.
    */
  def replayKllQuantiles(spark: SparkSession, dir: String,
      k: Int = 256): DataFrame = {
    import spark.implicits._
    val out = Replay(spark, "kll", s"$dir|$k") { r =>
      val stream = r.eventsSplit(dir, nFiles = 4)
      r.toParquet("snapshots") {
        val typed = stream
          .filter(col("value").isNotNull)
          .select(col("event_type"), col("value").cast("double"))
          .as[(String, Double)]
        Stateful.kllSnapshots(typed, k)
          .toDF()
          .select(col("key").as("event_type"), col("sketch"))
      }
    }
    latestPerKey(TxnSink.committedRead(spark, out), "event_type")(
      col("sketch.n").desc)
  }

  /** Streaming funnel gate (`q_funnel_stream`) — X113's live form: the
    * events table replayed as 4 TIME-RANGED micro-batches (in-order
    * delivery, the contract [[Stateful.funnelSnapshots]] documents)
    * through per-user funnel state, exactly-once into the txn sink;
    * the latest snapshots roll up to the identical per-step output as
    * [[graft.ops.Behavior.funnel]], so the gate reuses `q_funnel`'s
    * oracle HASH-EQUAL — a streaming conversion tracker whose numbers
    * are provably the batch ones.
    */
  def replayFunnelStream(spark: SparkSession, dir: String,
      steps: Seq[String] = Seq("view", "click", "purchase"),
      horizonSec: Long = 86400L, useTws: Boolean = false): DataFrame = {
    import spark.implicits._
    val out = Replay(spark, "funnel",
        s"$dir|${steps.mkString(",")}|$horizonSec|$useTws") { r =>
      val stream = r.eventsSplit(dir, nFiles = 4)
      def run() = r.toParquet("snapshots") {
        val typed = stream
          .select(col("user_id").cast("string").as("user_id"),
            col("event_type"), col("ts"), col("event_id"))
          .withWatermark("ts", "0 seconds")
          .as[UserEvent]
        val snapsDs =
          if (useTws) Stateful.funnelSnapshotsTws(typed, steps, horizonSec)
          else Stateful.funnelSnapshots(typed, steps, horizonSec)
        snapsDs.toDF()
      }
      // the TWS twin needs the RocksDB provider for the query's
      // lifetime (the engine rejects transformWithState on the
      // HDFS-backed default)
      if (useTws)
        graft.StatePosture.withProvider(spark,
          graft.Session.rocksdbStateStore)(run())
      else run()
    }
    // latest = argmax n, tie-broken by EARLIEST funnel entry: terminal
    // snapshots wear n = Long.MaxValue, so a post-eviction SECOND
    // funnel (possible once the first's state is freed) never outranks
    // the first — the consumer answers with the batch semantics (the
    // funnel from the user's first entry) regardless of eviction timing
    val latest = latestPerKey(TxnSink.committedRead(spark, out), "key")(
      col("n").desc, element_at(col("times"), 1).asc)
      .select(col("times"))
    steps.zipWithIndex.map { case (st, i) =>
      latest.filter(size(col("times")) > i)
        .agg(count(lit(1)).as("n_users"),
          sum(element_at(col("times"), i + 1) -
            element_at(col("times"), 1)).as("__sum_us"))
        .select(lit(i).cast("int").as("step_idx"),
          lit(st).as("step"),
          col("n_users"),
          round(col("__sum_us").cast("double") /
            (col("n_users").cast("double") * lit(1000000.0)), 6)
            .as("avg_sec_from_start"))
    }.reduce(_ unionByName _)
  }

  /** Streaming transition-matrix gate (`q_transitions_stream`) —
    * X115's live form: per-user O(1) state ([[Stateful.transitionPairs]])
    * emits each (from, to) pair as its completing event arrives, the
    * exactly-once sink commits the pair stream, and the final
    * aggregation over committed pairs is HASH-EQUAL to the batch
    * lag-window matrix (`q_transitions`' own oracle).
    *
    * `maxGapSec` bounds per-user state lifetime: with it set, pairs
    * across a longer silence are session boundaries (dropped in BOTH
    * engines — `q_transitions_sessions`' oracle carries the same lag
    * predicate) and idle keys are evicted at the watermark, so the
    * state store tracks ACTIVE users only.
    */
  def replayTransitionsStream(spark: SparkSession, dir: String,
      maxGapSec: Long = Long.MaxValue): DataFrame = {
    import spark.implicits._
    val out = Replay(spark, "trans", s"$dir|$maxGapSec") { r =>
      val stream = r.eventsSplit(dir, nFiles = 4)
      r.toParquet("pairs") {
        val typed = stream
          .select(col("user_id").cast("string").as("user_id"),
            col("event_type"), col("ts"), col("event_id"))
          .withWatermark("ts", "0 seconds")
          .as[UserEvent]
        Stateful.transitionPairs(typed, maxGapSec)
          .toDF("user_id", "from_type", "to_type")
      }
    }
    val pairs = TxnSink.committedRead(spark, out)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("from_type"))
      .agg(sum(col("n")).as("n_from"))
      .withColumnRenamed("from_type", "__f")
    pairs.join(broadcast(totals), col("from_type") === col("__f"))
      .select(col("from_type"), col("to_type"), col("n"), col("n_from"),
        round(col("n").cast("double") / col("n_from").cast("double"), 6)
          .as("p"))
  }

  /** Streaming cohort-retention gate (`q_cohort_stream`) — X114's live
    * form: per-user state-deduped first-occurrence emission of
    * (user, cohort, day-offset) activity ([[Stateful.cohortActivity]])
    * through the exactly-once sink; plain count(*) per (cohort,
    * offset) over the committed rows IS the distinct-user matrix —
    * hash-equal to the batch [[graft.ops.Behavior.cohortRetention]]
    * (`q_cohort_retention`'s own oracle).
    *
    * `retentionDays` bounds per-user state lifetime: with it set,
    * activity past the horizon re-enters the user as a NEW cohort
    * (the semantics [[graft.ops.Behavior.cohortRetentionBounded]]
    * computes in batch and `q_cohort_bounded`'s recursive-CTE oracle
    * replays) and fully-aged keys are evicted at the watermark, so
    * the state store tracks ACTIVE users only.
    */
  def replayCohortStream(spark: SparkSession, dir: String,
      retentionDays: Long = Long.MaxValue): DataFrame = {
    import spark.implicits._
    val out = Replay(spark, "cohort", s"$dir|$retentionDays") { r =>
      val stream = r.eventsSplit(dir, nFiles = 4)
      r.toParquet("activity") {
        val typed = stream
          .select(col("user_id").cast("string").as("user_id"), col("ts"),
            unix_date(col("ts").cast("date")).cast("long").as("epoch_day"))
          .withWatermark("ts", "0 seconds")
          .as[CohortEvent]
        Stateful.cohortActivity(typed, retentionDays)
          .toDF("user_id", "cohort_epoch_day", "day_offset")
      }
    }
    val acts = TxnSink.committedRead(spark, out)
    val matrix = acts.groupBy(col("cohort_epoch_day"), col("day_offset"))
      .agg(count(lit(1)).as("n_active"))
    // every user emits offset 0 once per cohort segment → the cohort
    // size IS the matrix's own offset-0 cell: one aggregation, one
    // committed-stream scan (AQE reuses the matrix exchange)
    val sizes = matrix.filter(col("day_offset") === 0L)
      .select(col("cohort_epoch_day").as("__cd"),
        col("n_active").as("cohort_size"))
    matrix.join(broadcast(sizes), col("cohort_epoch_day") === col("__cd"))
      .select(
        date_from_unix_date(col("cohort_epoch_day").cast("int"))
          .as("cohort_day"),
        col("day_offset"), col("n_active"), col("cohort_size"),
        round(col("n_active").cast("double") /
          col("cohort_size").cast("double"), 6).as("retention"))
  }

  /** Streaming distinct-count sketch gate (`q_kmv_stream`) — X106's
    * streaming form: events replayed as 4 time-ranged micro-batches
    * through [[Stateful.kmvSnapshots]] (bottom-64 distinct user_id
    * draws per event_type in the state store), exactly-once into the
    * txn sink. The bottom-k of a SET is order-independent, so the
    * latest streamed state is EXACTLY the batch sketch — the emitted
    * estimate replays bit-identically in DuckDB (content equality,
    * like `q_sketch_setops`), next to the exact distinct count.
    */
  def replayKmvStream(spark: SparkSession, dir: String,
      k: Int = 64): DataFrame = {
    import spark.implicits._
    val out = Replay(spark, "kmv", s"$dir|$k") { r =>
      val stream = r.eventsSplit(dir, nFiles = 4)
      r.toParquet("snapshots") {
        val typed = stream
          .filter(col("user_id").isNotNull)
          .select(col("event_type"), col("user_id").cast("string"))
          .as[(String, String)]
        Stateful.kmvSnapshots(typed, k).toDF()
      }
    }
    val latest = latestPerKey(TxnSink.committedRead(spark, out), "key")(
      col("n").desc)
      .select(col("key").as("event_type"),
        round(graft.ops.Sketches.kmvEstimate(col("ks"), k), 4)
          .as("est_uniques"))
    val exact = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_uniques"))
      .withColumnRenamed("event_type", "__e")
    latest.join(exact, col("event_type") === col("__e"))
      .select(col("event_type"), col("est_uniques"), col("exact_uniques"))
  }

  /** Streaming heavy-hitters gate (`q_hh_stream_bound`) — X112's
    * streaming form: the events table replayed as 4 time-ranged
    * micro-batches through [[Stateful.mgSnapshots]] (one Misra–Gries
    * sketch per event_type in the state store, items = floor(value)
    * buckets, snapshot per batch), exactly-once into the txn sink; the
    * LATEST snapshot per key (argmax n) faces [[graft.ops.Freq]]'s
    * window audit against the exact batch counts. Oracle-able because
    * MG's two-sided est ∈ [f − n/(k+1), f] holds for ANY single-stream
    * arrival order — micro-batch boundaries cannot break the booleans,
    * and the exact columns replay in DuckDB.
    */
  def replayHeavyHitters(spark: SparkSession, dir: String,
      k: Int = 64): DataFrame = {
    import spark.implicits._
    val itemCol = floor(col("value")).cast("long").cast("string")
    val out = Replay(spark, "hh", s"$dir|$k") { r =>
      val stream = r.eventsSplit(dir, nFiles = 4)
      r.toParquet("snapshots") {
        val typed = stream
          .filter(col("value").isNotNull)
          .select(col("event_type"), itemCol.as("bucket"))
          .as[(String, String)]
        Stateful.mgSnapshots(typed, k).toDF()
      }
    }
    val latest = latestPerKey(TxnSink.committedRead(spark, out), "key")(
      col("sketch.n").desc)
      .select(col("key").as("__g"), col("sketch").as("__mg"))
    val items = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), itemCol.as("bucket"))
    graft.ops.Freq.audit(items, "event_type", "bucket", k, latest)
  }

  /** Streaming KS drift monitor gate (`q_ks_stream_bound`) — X108's
    * LIVE form: the in-control distribution is sketched OFFLINE (first
    * half of the time range, one KLL per key), the monitored period
    * streams through [[Stateful.kllSnapshots]] (one sketch per key in
    * the state store), and KS is read off (baseline sketch, streamed
    * sketch) pairs. Audited against the exact batch KS by the same
    * deterministic errA/nA + errB/nB envelope — valid for ANY
    * micro-batch arrival order, which is what makes a live drift score
    * oracle-able. Production shape: the baseline is a persisted
    * artifact; each trigger's snapshot yields a current drift score per
    * key without ever re-scanning history.
    */
  def replayKsDrift(spark: SparkSession, dir: String,
      k: Int = 256): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val sideB = graft.ops.Drift.secondHalf(ev, "ts")
    val baseMap = ev
      .filter(col("value").isNotNull && !sideB)
      .groupBy(col("event_type"))
      .agg(graft.ops.Kll.sketchColumn(k, col("value")).as("sketch"))
      .select(col("event_type"), col("sketch"))
      .as[(String, graft.ops.KllBuf)].collect().toMap
    val out = Replay(spark, "ksdrift", s"$dir|$k") { r =>
      val stream = r.eventsSplit(dir, nFiles = 4)
      r.toParquet("snapshots") {
        val typed = stream
          .filter(col("value").isNotNull && sideB)
          .select(col("event_type"), col("value").cast("double"))
          .as[(String, Double)]
        Stateful.kllSnapshots(typed, k).toDF()
      }
    }
    val latest = latestPerKey(TxnSink.committedRead(spark, out), "key")(
      col("sketch.n").desc)
      .select(col("key"), col("sketch"))
      .as[(String, graft.ops.KllBuf)]
    val paired = latest
      .filter(s => baseMap.contains(s._1))
      .map { case (kk, streamed) => (kk, baseMap(kk), streamed) }
    graft.ops.Drift.ksAudit(ev, "event_type", "value", sideB,
      graft.ops.Drift.ksFromSketchPairs(paired))
  }

  /** Rolling-window KS drift gate (`q_ks_rolling_bound`, X120):
    * [[replayKsDrift]] compares the offline baseline against the
    * CUMULATIVE monitored stream — old drift dilutes but never leaves.
    * This is the production form: the second half replays through
    * [[Stateful.kllWindowedSnapshots]] (one KLL sketch per
    * `bucketSec`-wide event-time bucket, only the trailing
    * `windowBuckets` live), so the final KS-vs-baseline reads over the
    * TRAILING WINDOW only and drift older than the window has aged
    * out of the answer entirely. The audit's exact side replays the
    * identical trailing filter (per-key max bucket − window) in
    * batch, and the KLL envelope is order- and merge-independent, so
    * `ks_ok` is a theorem the oracle pins TRUE.
    */
  def replayKsRolling(spark: SparkSession, dir: String, k: Int = 256,
      bucketSec: Long = 172800L, windowBuckets: Int = 4): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val sideB = graft.ops.Drift.secondHalf(ev, "ts")
    val baseMap = ev
      .filter(col("value").isNotNull && !sideB)
      .groupBy(col("event_type"))
      .agg(graft.ops.Kll.sketchColumn(k, col("value")).as("sketch"))
      .select(col("event_type"), col("sketch"))
      .as[(String, graft.ops.KllBuf)].collect().toMap
    val out = Replay(spark, "ksroll",
        s"$dir|$k|$bucketSec|$windowBuckets") { r =>
      val stream = r.eventsSplit(dir, nFiles = 4)
      r.toParquet("snapshots") {
        val typed = stream
          .filter(col("value").isNotNull && sideB)
          .select(col("event_type").as("key"), col("ts"),
            col("value").cast("double").as("v"))
          .withWatermark("ts", "0 seconds")
          .as[KeyedReading]
        Stateful.kllWindowedSnapshots(typed, k, bucketSec, windowBuckets)
          .toDF()
      }
    }
    val latest = latestPerKey(TxnSink.committedRead(spark, out), "key")(
      col("n").desc)
      .select(col("key"), col("sketch"))
      .as[(String, graft.ops.KllBuf)]
    val paired = latest
      .filter(s => baseMap.contains(s._1))
      .map { case (kk, streamed) => (kk, baseMap(kk), streamed) }
    val est = graft.ops.Drift.ksFromSketchPairs(paired)
    // exact side over first half ∪ the SAME per-key trailing window
    val bucketUs = bucketSec * 1000000L
    val withB = ev.filter(col("value").isNotNull)
      .withColumn("__bk",
        floor(unix_micros(col("ts")) / lit(bucketUs)).cast("long"))
      .withColumn("__sb", sideB)
    val maxb = withB.filter(col("__sb")).groupBy(col("event_type"))
      .agg(max(col("__bk")).as("__maxb"))
    val trailed = withB.join(broadcast(maxb), Seq("event_type"))
      .filter(!col("__sb") || col("__bk") > col("__maxb") - windowBuckets)
    graft.ops.Drift.ksAudit(trailed, "event_type", "value",
      col("__sb"), est)
  }

  /** Streaming seasonal-profile gate (`q_seasonal_stream`, X121): the
    * events table replayed as 4 micro-batches through
    * [[Stateful.seasonalSnapshots]]'s exact-integer hour cells; the
    * latest snapshot per key explodes to (key, hour) rows with the
    * mean/std DERIVED from the integer partials — a deterministic
    * function of exact sums, so the streamed profile faces a full
    * value oracle replaying the identical HUGEINT construction. No
    * in-order contract needed: integer sums commute.
    */
  def replaySeasonalStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = Replay(spark, "seasonal", dir) { r =>
      val stream = r.eventsSplit(dir, nFiles = 4)
      r.toParquet("snapshots") {
        val typed = stream
          .filter(col("value").isNotNull)
          .select(col("event_type"), hour(col("ts")).cast("int"),
            round(col("value").cast("double") * lit(1e6), 0).cast("long"))
          .as[(String, Int, Long)]
        Stateful.seasonalSnapshots(typed).toDF()
      }
    }
    latestPerKey(TxnSink.committedRead(spark, out), "key")(col("n").desc)
      .select(col("key"), explode(col("cells")).as("c"))
      .as[(String, HourCell)]
      .map { case (k, c) =>
        // derived stats: the same double-op shapes the oracle replays
        // over its HUGEINT partials — deterministic cross-engine
        val mean = java.math.BigDecimal
          .valueOf(c.s1.toDouble / 1e6 / c.n)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
        val std =
          if (c.n < 2) None
          else {
            val d = (BigInt(c.n) * BigInt(c.s2) -
              BigInt(c.s1) * BigInt(c.s1)).doubleValue
            Some(java.math.BigDecimal
              .valueOf(math.sqrt(d / c.n / (c.n - 1)) / 1e6)
              .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue)
          }
        (k, c.hour, c.n, c.s1, mean, std)
      }
      .toDF("event_type", "hour_of_day", "n", "sum_micro",
        "seasonal_mean", "seasonal_std")
  }

  /** Streaming CUSUM changepoint gate (`q_cusum_stream`): baselines
    * learned offline (one metadata-sized aggregate), then the events
    * table replayed as 4 time-ranged micro-batches through
    * [[CusumStream.monitor]]'s all-integer per-key registers and the
    * exactly-once sink. Unlike the KLL stream gate (bound-certified),
    * this one is EXACT: integer registers folded in the batch windows'
    * (ts, x, id) total order make the streamed statistic hash-equal to
    * [[graft.ops.Drift.cusumChangepoint]] — same oracle SQL, micro-batch
    * boundaries invisible by construction.
    */
  def replayCusum(spark: SparkSession, dir: String, h: Double = 500.0,
      slack: Double = 25.0): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val bl = graft.ops.Drift.cusumBaselines(ev, "event_type", "ts", "value")
    val baseMap = bl.as[(String, Long, Long)].collect()
      .map { case (k, n0, s0) => k -> (n0, s0) }.toMap
    val hS = math.round(h * 1e6)
    val kS = math.round(slack * 1e6)
    val out = Replay(spark, "cusum", s"$dir|$h|$slack") { r =>
      val stream = r.eventsSplit(dir, nFiles = 4)
      r.toParquet("snapshots") {
        val typed = stream.filter(col("value").isNotNull)
          .select(col("event_type"), unix_micros(col("ts")),
            round(col("value").cast("double") * lit(1e6), 0).cast("long"),
            col("event_id").cast("long"))
          .as[(String, Long, Long, Long)]
        CusumStream.monitor(typed, baseMap, hS, kS).toDF()
      }
    }
    val latest = latestPerKey(TxnSink.committedRead(spark, out), "key")(
      col("n").desc)
    // batch-schema projection: identical integer registers, identical
    // final-division shape — hash-equal to the batch oracle
    val den = (nc: Column) =>
      nc.cast("double") / (col("n0") * lit(1000000L)).cast("double")
    latest.join(broadcast(bl), latest("key") === bl("event_type"))
      .select(col("event_type"), col("n"), col("n0").as("n_baseline"),
        round(den(col("s0")), 6).as("baseline"),
        round(den(col("maxUp")), 6).as("max_cusum_up"),
        round(den(col("maxDn")), 6).as("max_cusum_dn"),
        when(col("alarmUpUs") >= 0L, timestamp_micros(col("alarmUpUs")))
          .as("alarm_up_ts"),
        when(col("alarmDnUs") >= 0L, timestamp_micros(col("alarmDnUs")))
          .as("alarm_dn_ts"))
  }

  /** Streaming exactly-once event dedup: drops re-deliveries of the same
    * (sensor_id, timestamp) reading arriving within the watermark — the
    * streaming member of the dedup family (at-least-once sources like the
    * reference's MQTT→Kafka bridge can re-deliver). State is bounded by
    * the watermark: old keys are evicted once they can no longer recur.
    */
  def dedupedStream(readings: DataFrame, watermark: String = "10 minutes"): DataFrame =
    readings
      .withWatermark("timestamp", watermark)
      .dropDuplicatesWithinWatermark("sensor_id", "timestamp")

  /** Dual-sink fan-out: the two independent queries of the reference
    * (spark_streaming.py:145-189) off one logical stream. Returns both
    * queries; callers use `spark.streams.awaitAnyTermination()` (prod) or
    * `processAllAvailable()` (tests).
    */
  def startDual(readings: DataFrame, outDir: String, checkpointRoot: String,
      trigger: Trigger = Trigger.ProcessingTime(0)): Seq[StreamingQuery] =
    Seq(
      startRawSink(readings, outDir, checkpointRoot, trigger),
      startAggSink(readings, outDir, checkpointRoot, trigger = trigger))
}

/** One finite replay's scope: the harness every `Pipeline.replay*` gate
  * runs in. It owns
  *   - the scratch root, `Scratch.fresh("replay_<tag>", key)`:
  *     deterministic per (user, tag, key) and CLEARED on entry, so a
  *     rerun rebuilds in place instead of leaking a copy per run (the
  *     append sinks and `OccTable.init` cannot overwrite);
  *   - the query's checkpoint and the stream scratch of [[events]] and
  *     [[eventsSplit]], both under the root;
  *   - the shuffle-partition scope of the query ([[live]]), and its
  *     start, stop and cleanup: the scope's one `finally` stops every
  *     query it started and deletes the checkpoint and stream scratch,
  *     also when a `start()` or the body throws.
  * A gate keeps only its own parts: source shape, plan, sink and
  * post-processing. Outputs named through [[path]] outlive the scope —
  * the gate's returned frame reads them — until the next run of the
  * same gate and key clears the root; two runs of one gate and key must
  * therefore not overlap.
  */
private[graft] final class Replay private (spark: SparkSession, root: Path) {
  private val checkpoint = root.resolve("_checkpoint")
  private val source = root.resolve("_source")
  private val started = mutable.ArrayBuffer[StreamingQuery]()

  /** `<root>/name`: where the gate's tables and sink output live. */
  def path(name: String): String = root.resolve(name).toString

  /** Starts one query on the replay's checkpoint (`start` receives its
    * path) with `spark.sql.shuffle.partitions` lowered to 4, and runs
    * `drive` on it. The stateful stream pins one state-store instance
    * per shuffle partition for the query's lifetime, and a
    * 2-micro-batch finite replay at 32 partitions spends more time on
    * 32× state-store init/commit/checkpoint I/O than on data. Batch
    * queries on the session are unaffected (the conf is restored on
    * exit, and a started query keeps its own copy of the session conf);
    * an UNBOUNDED stream should keep the session default — partition
    * count bounds stateful parallelism for the query's whole life.
    */
  def live[A](start: String => StreamingQuery)(drive: StreamingQuery => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "4")
    try {
      val q = start(checkpoint.toString)
      started += q
      drive(q)
    } finally spark.conf.set(key, prev)
  }

  /** Runs `plan` (evaluated inside [[live]]'s scope) with `AvailableNow`
    * to the end of its input through the sink `sink` configures.
    */
  def toEnd(plan: => DataFrame, outputMode: String = "append")(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit =
    live(ckpt => sink(plan.writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", ckpt)
      .trigger(Replay.ToEnd)).start())(_.awaitTermination())

  /** [[toEnd]] into the production aggregate sink's transactional
    * parquet append at `path(name)`; returns that path for the gate's
    * `TxnSink.committedRead`.
    */
  def toParquet(name: String)(plan: => DataFrame): String = {
    val out = path(name)
    toEnd(plan)(_.foreachBatch(Pipeline.parquetAppendSink(out)))
    out
  }

  /** Events table as a file-stream source (micros-normalized `ts`). The
    * file stream source requires a directory; the single-file table is
    * symlinked into the stream scratch instead of copied.
    */
  def events(dir: String, copies: Int = 1,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val path = s"$dir/events.parquet"
    // eventsPhysical carries the NANOS catch-and-rethrow, so a session
    // missing the nanosAsLong conf names its one-line fix here too
    val schema = Tables.eventsPhysical(spark, dir).schema
    val streamDir = Files.createDirectories(source.resolve("events"))
    // copies > 1 models an at-least-once source: the SAME table delivered
    // `copies` times (symlinks — no data copied); with maxFilesPerTrigger=1
    // each delivery lands in its own micro-batch
    (1 to copies).foreach { i =>
      Files.createSymbolicLink(streamDir.resolve(s"events$i.parquet"),
        Paths.get(path).toAbsolutePath)
    }
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val raw = reader.parquet(streamDir.toString)
    // same dtype adaptation AND same unsupported-dtype rejection as
    // Tables.events (the lake has shipped both nanos-as-long and
    // native-micros ts encodings)
    schema("ts").dataType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => raw
      case other => throw new IllegalArgumentException(
        s"events.parquet ts column has unsupported dtype $other; expected " +
          "TIMESTAMP(MICROS), TIMESTAMP_NTZ, or TIMESTAMP(NANOS)-as-long")
    }
  }

  /** Events table as a TIME-SPLIT multi-file stream: `nFiles` range
    * partitions of `ts` written as one parquet file each, mtimes forced
    * ascending in path (= time) order, `maxFilesPerTrigger = 1` — so an
    * AvailableNow replay runs one micro-batch per time slice, in order.
    * FileStreamSource processes files by modification time; writing them
    * in one job leaves near-tied mtimes, so the forced spacing is what
    * GUARANTEES discovery order matches event-time order (an
    * out-of-order slice whose span exceeds the watermark slack would be
    * silently dropped as late — a flaky gate).
    */
  def eventsSplit(dir: String, nFiles: Int,
      flushSentinels: Int = 0): DataFrame = {
    val streamDir = Files.createDirectories(source.resolve("split"))
    val dataDir = streamDir.resolve("data").toString
    val events = Tables.events(spark, dir)
    // the sentinel anchor (max ts) rides the slice write as an observed
    // metric — the previous separate `events.agg(max("ts"))` action was
    // a second full pass over the table per replay (guide §1.4: one
    // action computes everything the setup needs)
    val obs = org.apache.spark.sql.Observation()
    val sliced = events
      .repartitionByRange(nFiles, col("ts"))
      .sortWithinPartitions("ts")
    val toWrite =
      if (flushSentinels > 0) sliced.observe(obs, max(col("ts")).as("mx"))
      else sliced
    toWrite.write.parquet(dataDir)
    // stream-close sentinels: `flushSentinels` two-row files, each its
    // own micro-batch, with ts a day+ past everything before it. A
    // bounded stream should end with watermark → ∞ (Flink's bounded
    // sources emit exactly that final watermark); Spark has no
    // end-of-stream watermark and stateful operators evict one batch
    // behind it, so without these, state that arrived in the LAST data
    // batch is never flushed (outer-join nulls go unemitted). Each file
    // carries one far-ABOVE-threshold row and one far-below row because
    // the global watermark is the MIN across every withWatermark
    // column: a plan that filter-splits the stream into two watermarked
    // sides (alerts/readings) stays pinned to whichever side saw data
    // last unless the sentinel advances BOTH (measured: a one-sided
    // sentinel left a six-days-stale alert unemitted). Sentinel rows
    // wear negative event_ids so consumers can drop them from output;
    // every other column is NULL — sentinels never join (a NULL key
    // matches nothing) and never reach output, so only (ts, event_id,
    // value) carry meaning. Rows are built driver-side: the previous
    // `events.limit(1)`-based construction paid a table scan plus a
    // write job per sentinel.
    if (flushSentinels > 0) {
      // an empty source has no max ts to anchor sentinels on — fail
      // loudly instead of silently never flushing
      val mxAny = obs.get("mx")
      require(mxAny != null,
        s"Replay.eventsSplit: events table at $dir is empty; " +
          "cannot anchor flush sentinels")
      val mx = mxAny.asInstanceOf[java.sql.Timestamp]
      val schema = events.schema
      import org.apache.spark.sql.types.{FloatType, IntegerType}
      // values take the field's own width: the schema tripwire admits
      // an int32 event_id and a float value
      def sentinelRow(id: Long, at: java.sql.Timestamp, v: Double) =
        Row.fromSeq(schema.fields.toSeq.map { f =>
          (f.name, f.dataType) match {
            case ("ts", _) => at
            case ("event_id", IntegerType) => Integer.valueOf(id.toInt)
            case ("event_id", _) => java.lang.Long.valueOf(id)
            case ("value", FloatType) => java.lang.Float.valueOf(v.toFloat)
            case ("value", _) => java.lang.Double.valueOf(v)
            case _ => null
          }
        })
      (1 to flushSentinels).foreach { i =>
        val scratch = streamDir.resolve(s"sent$i").toString
        val at = new java.sql.Timestamp(mx.getTime + i * 86400000L)
        val rows = java.util.Arrays.asList(
          sentinelRow(-(2L * i - 1), at, 1e9),
          sentinelRow(-(2L * i), at, -1e9))
        spark.createDataFrame(rows, schema)
          .coalesce(1).write.parquet(scratch)
        val part = new java.io.File(scratch).listFiles()
          .filter(_.getName.startsWith("part-")).head
        // "part-sentinel-…" sorts after every "part-0000N-…" data file,
        // so the mtime spacing below keeps sentinels strictly last
        Files.move(part.toPath,
          Paths.get(dataDir, s"part-sentinel-$i.parquet"))
      }
    }
    val parts = new java.io.File(dataDir).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val base = System.currentTimeMillis() - parts.length * 60000L
    parts.zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(base + i * 60000L)
    }
    // the slice files carry exactly the events frame's schema (written
    // from it; sentinels are built from it) — re-inferring it with
    // spark.read.parquet was one distributed footer-read job per replay
    spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1").parquet(dataDir)
  }

  private def close(): Unit =
    try started.foreach(_.stop())
    finally {
      Scratch.delete(checkpoint.toString)
      Scratch.delete(source.toString)
    }
}

private[graft] object Replay {

  /** The trigger of every finite replay: run to the end of the input
    * available at start, then stop.
    */
  val ToEnd: Trigger = Trigger.AvailableNow()

  /** Runs `body` in a fresh replay scope under
    * `Scratch.fresh("replay_<tag>", key)`; `key` folds in the source dir
    * and every parameter that changes the gate's output.
    */
  def apply[A](spark: SparkSession, tag: String, key: String)(
      body: Replay => A): A = {
    val r = new Replay(spark, Paths.get(Scratch.fresh(s"replay_$tag", key)))
    try body(r) finally r.close()
  }
}
