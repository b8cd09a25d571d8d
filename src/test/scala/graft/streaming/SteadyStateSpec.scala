package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** The reference's published performance envelope, measured (BASELINE.md:
  * "micro-batch latency < 10 s at a sustained replay of ≥ 300 msg/min",
  * reference/README.md:253,256, Project Scale.md:52): the deterministic
  * rate simulator drives the REAL dual-sink pipeline (raw parquet append +
  * watermarked windowed agg with the non-empty-batch guard) and the
  * engine's own progress telemetry is asserted against both targets.
  *
  * Plus the S1/ST8 source contract: the Kafka reader wiring (format +
  * options mirroring reference/spark_streaming.py:125-130) and its
  * documented failure mode in a connector-less environment.
  */
class SteadyStateSpec extends SparkSpec {

  test("steady-state dual-sink replay sustains >=300 msg/min with <10s micro-batch latency") {
    // 50 readings per micro-batch (headroom over the 300/min target even
    // when suite-mates contend for the shared session); event time
    // advances 2 min per batch so 5-min windows close against the 10-min
    // watermark early in the run and the agg sink does real flush work.
    // The measurement core is shared with graft.StreamBench, which
    // persists these numbers solo as STREAM_ENVELOPE.json each round.
    val env = SteadyState.measure(spark, rowsPerBatch = 50,
      advanceMsPerBatch = 120000L, minAggBatches = 15, deadlineSec = 180)
    info(env.json)

    assert(env.rawBatches >= 15,
      s"only ${env.rawBatches} batches in ${env.elapsedSec}s")
    assert(env.msgPerMin >= 300,
      f"throughput ${env.msgPerMin}%.0f msg/min below the 300 target")
    // steady-state latency = median trigger duration: the first batches
    // pay one-time state-store/sink init, and suite-mates sharing the
    // session can spike an individual trigger — the <10 s target is about
    // the sustained envelope
    assert(env.rawMedianMs < 10000,
      s"steady-state micro-batch latency ${env.rawMedianMs} ms breaches the <10 s target")
    // the agg side must also stay under the latency target AND have
    // flushed finalized windows (watermark passed window end during replay)
    assert(env.aggBatches > 0 && env.aggMedianMs < 10000,
      s"agg micro-batch latency ${env.aggMedianMs} ms")
    assert(env.aggWindowsFlushed > 0,
      "no finalized windows flushed to the agg sink")
  }

  test("streaming band-index dedup and curation gates sustain the >=300 msg/min floor") {
    // the LLM-pipeline streaming paths at the sensor envelope's cadence:
    // real documents cycled through the rate clock, measured off the same
    // progress telemetry (StreamBench persists the solo numbers into
    // STREAM_ENVELOPE.json as dedup_stream / curation_stream)
    val sfDir = "/root/testdata/sf0.01"
    val dedup = SteadyState.measureDedupStream(spark, sfDir,
      minBatches = 10, deadlineSec = 120)
    info(dedup.json)
    assert(dedup.msgPerMin >= 300,
      f"dedup stream ${dedup.msgPerMin}%.0f msg/min below the 300 floor")
    assert(dedup.medianMs < 10000,
      s"dedup micro-batch median ${dedup.medianMs} ms breaches <10 s")
    assert(dedup.outRows > 0,
      "no collisions written — the index probe did no real work")
    val cur = SteadyState.measureCurationStream(spark, sfDir,
      minBatches = 10, deadlineSec = 120)
    info(cur.json)
    assert(cur.msgPerMin >= 300,
      f"curation stream ${cur.msgPerMin}%.0f msg/min below the 300 floor")
    assert(cur.medianMs < 10000,
      s"curation micro-batch median ${cur.medianMs} ms breaches <10 s")
    // >= not ===: a final micro-batch can commit to the parquet sink
    // after the poll loop counted progress but before stop() lands, so
    // the sink may hold a batch the docs sum (from the progress
    // listener) never saw — the gate is "annotates every doc, never
    // silently drops"
    assert(cur.outRows >= cur.docs,
      s"curation wrote ${cur.outRows} of ${cur.docs} docs")
  }

  test("classifier gate stream sustains the >=300 msg/min floor and scores every doc") {
    val sfDir = "/root/testdata/sf0.01"
    val clf = SteadyState.measureClassifierStream(spark, sfDir,
      minBatches = 10, deadlineSec = 120)
    info(clf.json)
    assert(clf.msgPerMin >= 300,
      f"classifier stream ${clf.msgPerMin}%.0f msg/min below the 300 floor")
    assert(clf.medianMs < 10000,
      s"classifier micro-batch median ${clf.medianMs} ms breaches <10 s")
    // same >= convention as the curation gate: annotates, never drops
    assert(clf.outRows >= clf.docs,
      s"classifier scored ${clf.outRows} of ${clf.docs} docs")
  }

  test("ANN serving stream answers live query vectors from the frozen layout") {
    // the freeze-then-score recipe on the vector index: every micro-batch
    // of query vectors is served by ONE pruned ivfProbeBatch plan; the
    // layout is built once before the stream starts (index-build time)
    val sfDir = "/root/testdata/sf0.01"
    val ann = SteadyState.measureAnnServeStream(spark, sfDir,
      rowsPerBatch = 20, minBatches = 5, deadlineSec = 120)
    info(ann.json)
    assert(ann.batches >= 5, s"only ${ann.batches} productive batches")
    assert(ann.msgPerMin >= 300,
      f"ann serving ${ann.msgPerMin}%.0f queries/min below the 300 floor")
    // every served query produced results (k=10 against probed buckets
    // that always hold >= 10 vectors at this sf); >= docs, not ===, for
    // the same late-commit race the curation gate documents
    assert(ann.outRows >= ann.docs * 10,
      s"served ${ann.outRows} result rows for ${ann.docs} queries")
  }

  test("OCC commit-log tail relays a live append series into a fenced table through a compaction") {
    val occ = SteadyState.measureOccTailStream(spark,
      rowsPerAppend = 100, appendIntervalMs = 500L, minBatches = 6,
      deadlineSec = 120)
    info(occ.json)
    assert(occ.batches >= 6, s"only ${occ.batches} productive batches")
    assert(occ.msgPerMin >= 300,
      f"occ tail ${occ.msgPerMin}%.0f rows/min below the 300 floor")
    // nothing duplicated through the mid-run compaction (delivered <=
    // source) and the tail genuinely kept up past the rewrite commit
    assert(occ.docs <= occ.outRows,
      s"delivered ${occ.docs} rows > ${occ.outRows} committed — duplicates")
    assert(occ.docs >= occ.outRows / 2,
      s"delivered only ${occ.docs} of ${occ.outRows} committed rows")
  }

  test("file-tail and hopping-window sections reach their batches through the feed and parquet-sink paths") {
    // the live producer path: a feed thread appends to the log while the
    // buffered FileTailReader tails it; parse + drop-incomplete keeps
    // every well-formed reading (>= for the late-commit race above)
    val tail = SteadyState.measureFileTailStream(spark, minBatches = 5,
      deadlineSec = 120)
    info(tail.json)
    assert(tail.batches >= 5, s"only ${tail.batches} productive batches")
    assert(tail.outRows >= tail.docs,
      s"file tail wrote ${tail.outRows} of ${tail.docs} readings")
    // no feed: the rate clock drives the query directly. 10 min of event
    // time per batch closes 10-min/5-min hopping windows against the
    // 10-min watermark within 5 batches (the 2-min default needs ~10)
    val hop = SteadyState.measureSensorWindowStream(spark,
      "hopping_window_stream",
      r => graft.ops.WindowedAgg.hopping(
        r.withWatermark("timestamp", "10 minutes"),
        "timestamp", "sensor_id", "temperature"),
      advanceMsPerBatch = 600000L, minBatches = 5, deadlineSec = 120)
    info(hop.json)
    assert(hop.batches >= 5, s"only ${hop.batches} productive batches")
    assert(hop.outRows > 0, "no finalized hopping window flushed")
  }

  test("a section whose query fails analysis leaks no listener and no query") {
    val listeners = spark.streams.listListeners().length
    val active = spark.streams.active.map(_.id).toSet
    intercept[AnalysisException] {
      SteadyState.measureSensorWindowStream(spark, "bad",
        r => r.select(col("no_such_column")), minBatches = 1,
        deadlineSec = 10)
    }
    assert(spark.streams.listListeners().length === listeners)
    assert(spark.streams.active.map(_.id).toSet === active)
  }

  test("kafka source contract: reference reader wiring; connector-missing failure is actionable (S1/ST8)") {
    val opts = Sources.kafkaOptions("localhost:9092", "iot-sensor-data", "latest")
    // the exact reader surface of reference/spark_streaming.py:125-130
    assert(Sources.KafkaFormat === "kafka")
    assert(opts("kafka.bootstrap.servers") === "localhost:9092")
    assert(opts("subscribe") === "iot-sensor-data")
    assert(opts("startingOffsets") === "latest")
    // this environment has no spark-sql-kafka jar: the wiring must fail at
    // source RESOLUTION (proving .format("kafka") reached the registry),
    // not at option validation
    val e = intercept[AnalysisException] {
      Sources.kafka(spark, "localhost:9092", "iot-sensor-data")
    }
    assert(e.getMessage.toLowerCase.contains("kafka"), e.getMessage)
  }
}
