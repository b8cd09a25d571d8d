package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._


/** Streaming-envelope benchmark main: runs the steady-state dual-sink
  * measurement ([[graft.streaming.SteadyState]]) solo — no suite
  * contention — prints its ONE JSON line, and writes it to the given path
  * (default `STREAM_ENVELOPE.json`), the streaming analogue of
  * `BENCH_r*.json`:
  *   sbt "runMain graft.StreamBench"
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val outPath = args.headOption.getOrElse("STREAM_ENVELOPE.json")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(cpus)
    val env = graft.streaming.SteadyState.measure(spark)
    // the LLM-pipeline streaming paths at the same replay cadence, run
    // solo after the sensor envelope so the three never contend
    val dedup = graft.streaming.SteadyState.measureDedupStream(spark, sfDir)
    val cur = graft.streaming.SteadyState.measureCurationStream(spark, sfDir)
    val clf = graft.streaming.SteadyState.measureClassifierStream(spark, sfDir)
    val bm25 = graft.streaming.SteadyState.measureBm25Stream(spark, sfDir)
    val asof = graft.streaming.SteadyState.measureAsofEnrichStream(spark, sfDir)
    val ann = graft.streaming.SteadyState.measureAnnServeStream(spark, sfDir)
    // the LIVE source path (external producer appends, FileTailSource
    // tails) — S1-live measured at the same cadence class
    val tail = graft.streaming.SteadyState.measureFileTailStream(spark)
    val ewma = graft.streaming.SteadyState.measureEwmaStream(spark, sfDir)
    // the two window families the dual sink doesn't price: hopping
    // (overlapping ×width/slide state) and session (gap-merge state;
    // gap 1 min < the 2 min batch cadence, so sessions close per batch)
    val hop = graft.streaming.SteadyState.measureSensorWindowStream(spark,
      "hopping_window_stream",
      r => graft.ops.WindowedAgg.hopping(
        r.withWatermark("timestamp", "10 minutes"),
        "timestamp", "sensor_id", "temperature"))
    val sess = graft.streaming.SteadyState.measureSensorWindowStream(spark,
      "session_window_stream",
      r => graft.ops.WindowedAgg.sessionized(
        r.withWatermark("timestamp", "10 minutes"),
        "timestamp", "sensor_id", gap = "1 minute"))
    // the stream-stream interval join under its production dual-watermark
    // shape (the bench's most expensive replay row, now ALSO priced at
    // steady state): ~10% of readings become alerts (humidity >= 75 —
    // deterministic, key-derived), each correlated with the same
    // sensor's readings over the following 5 minutes; at 2 min/batch the
    // window spans micro-batches, so matches genuinely wait in join
    // state and watermark eviction runs continuously
    val ssj = graft.streaming.SteadyState.measureSensorWindowStream(spark,
      "stream_stream_join",
      r => {
        val alerts = r.where(col("humidity") >= 75.0)
          .select(col("sensor_id"),
            col("timestamp").as("alert_ts"),
            col("temperature").as("alert_temp"))
        val readings = r.select(col("sensor_id"),
          col("timestamp").as("r_ts"),
          col("temperature").as("r_temp"))
        graft.ops.Temporal.streamIntervalJoin(
          alerts, "alert_ts", "10 minutes",
          readings, "r_ts", "10 minutes",
          Seq("sensor_id"), windowTo = "5 minutes")
      })
    // the lakehouse loop live: OCC append-producer + commit-log tail
    // relaying into a second fenced OCC table, compaction mid-run
    val occ = graft.streaming.SteadyState.measureOccTailStream(spark)
    // X129: the streaming MERGE — CDC apply inside the table format
    // (fenced mergeSink, stats-discovered candidates)
    val occMerge = graft.streaming.SteadyState.measureOccMergeStream(spark)
    // X119: the SAME loop with the X14 curation pipeline applied to
    // every relayed micro-batch — tail → curate → fenced append, the
    // standing form of q_lakehouse_pipeline priced live
    val lake = graft.streaming.SteadyState.measureLakehouseStream(spark)
    // per-sensor KLL quantile monitoring (X107's streaming form): one
    // sketch per key in the fMGWS state store, snapshot per batch —
    // the bounded-memory replacement for recompute-quartiles-per-refresh
    val kll = {
      import spark.implicits._
      graft.streaming.SteadyState.measureSensorWindowStream(spark,
        "kll_monitor_stream",
        r => graft.streaming.Stateful.kllSnapshots(
          r.select(col("sensor_id"), col("temperature").cast("double"))
            .as[(String, Double)], k = 128).toDF())
    }
    // rolling drift monitor (X120's live form): per-(sensor, 10-min
    // bucket) KLL sketches in state, only the trailing 3 buckets live —
    // the rate stream advances 2 min per batch, so bucket turnover and
    // in-key eviction run continuously during the measurement
    val roll = {
      import spark.implicits._
      graft.streaming.SteadyState.measureSensorWindowStream(spark,
        "rolling_drift_stream",
        r => graft.streaming.Stateful.kllWindowedSnapshots(
          r.select(col("sensor_id").as("key"), col("timestamp").as("ts"),
            col("temperature").cast("double").as("v"))
            .withWatermark("ts", "10 seconds")
            .as[graft.streaming.KeyedReading],
          k = 128, bucketSec = 600L, windowBuckets = 3).toDF())
    }
    // per-sensor Misra–Gries heavy-hitter monitoring (X112's streaming
    // form): k counters per key in the fMGWS state store — the
    // constant-memory "what dominates" twin of the KLL monitor
    val mg = {
      import spark.implicits._
      graft.streaming.SteadyState.measureSensorWindowStream(spark,
        "hh_monitor_stream",
        r => graft.streaming.Stateful.mgSnapshots(
          r.select(col("sensor_id"),
            floor(col("temperature")).cast("long").cast("string"))
            .as[(String, String)], k = 32).toDF())
    }
    // per-sensor transition-pair enrichment (X115's streaming form):
    // O(1) last-event state per key, one emitted pair per arriving row
    // — the smallest stateful enrichment, measured live over
    // temperature bands as the event alphabet. The 10-min session gap
    // (X78 timeout discipline) evicts idle sensors at the watermark,
    // so the state store tracks ACTIVE keys only.
    val trans = {
      import spark.implicits._
      graft.streaming.SteadyState.measureSensorWindowStream(spark,
        "transition_stream",
        r => graft.streaming.Stateful.transitionPairs(
          r.select(col("sensor_id").as("user_id"),
            when(col("temperature") < 15, "low")
              .when(col("temperature") < 30, "mid").otherwise("high")
              .as("event_type"),
            col("timestamp").as("ts"),
            xxhash64(col("temperature")).as("event_id"))
            .withWatermark("ts", "10 seconds")
            .as[graft.streaming.UserEvent], maxGapSec = 600L)
          .toDF("sensor_id", "from_band", "to_band"))
    }
    // section order = key order in the artifact
    val sections = Seq(dedup, cur, clf, bm25, asof, ann, tail, ewma,
      hop, sess, ssj, occ, occMerge, lake, kll, roll, mg, trans)
    val combined =
      (env.json.dropRight(1) +: sections.map(_.json)).mkString("", ",", "}")
    println(combined)
    Files.write(Paths.get(outPath), (combined + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
