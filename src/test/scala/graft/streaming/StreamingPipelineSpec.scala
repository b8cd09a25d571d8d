package graft.streaming

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{FloatType, IntegerType, LongType,
  StructField, StructType}

import graft.SparkSpec
import graft.model.SensorReading
import graft.obs.Telemetry
import graft.ops.WindowedAgg

/** Streaming-semantics tests (SURVEY §5.2 layer 3): MemoryStream replay of
  * an out-of-order sequence, asserting the exact watermark behavior the
  * reference documents (reference/Project Depth.md:69-74): a row ≤10 min
  * late updates its window; a row arriving after the watermark passed its
  * window is dropped; append mode emits a window only once finalized.
  */
class StreamingPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def reading(t: String, temp: Double) =
    SensorReading("SENSOR_001", "warehouse_a", ts(t), temp, 50.0, 1000.0)

  test("watermark: late-within-bound updates its window; too-late row is dropped") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SensorReading]
    val query = Pipeline.watermarkedRollup(mem.toDF()).writeStream
      .format("memory").queryName("wm_test").outputMode("append").start()
    try {
      // Batch 1: two rows in window [00:00,00:05) → watermark well before window end
      mem.addData(reading("2024-01-01 00:01:00", 10.0))
      mem.addData(reading("2024-01-01 00:04:00", 20.0))
      query.processAllAvailable()
      // Batch 2: a row 4 minutes late for the same window (within 10-min
      // watermark) must still be folded into the open window state.
      mem.addData(reading("2024-01-01 00:02:00", 30.0))
      query.processAllAvailable()
      // nothing emitted yet: window [00:00,00:05) closes only when
      // watermark (= max event time − 10 min) passes 00:05
      assert(spark.table("wm_test").isEmpty)

      // Batch 3: advance event time far past 00:05 + 10 min → flush
      mem.addData(reading("2024-01-01 00:30:00", 99.0))
      query.processAllAvailable()
      val emitted = spark.table("wm_test").collect()
      assert(emitted.length === 1)
      val w = emitted.head
      assert(w.getAs[java.sql.Timestamp]("window_start") === ts("2024-01-01 00:00:00"))
      assert(w.getAs[Long]("reading_count") === 3L) // late row WAS included
      assert(w.getAs[Double]("avg_temperature") === 20.0)

      // Batch 4: a row for the already-finalized window, beyond the
      // watermark → silently dropped, no duplicate emission.
      mem.addData(reading("2024-01-01 00:03:00", 1000.0))
      mem.addData(reading("2024-01-01 00:31:00", 99.0))
      query.processAllAvailable()
      val after = spark.table("wm_test")
        .filter(col("window_start") === ts("2024-01-01 00:00:00")).collect()
      assert(after.length === 1)
      assert(after.head.getAs[Long]("reading_count") === 3L) // unchanged
    } finally query.stop()
  }

  test("chunkOverlapping is stateless and streams: per-batch chunks equal the batch run") {
    // the RAG chunker is a narrow projection (no state, no watermark),
    // so it runs unchanged at ingest time — chunk documents as they
    // arrive instead of re-scanning the corpus later
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docs = Seq((1L, "a b c d e f g h i j"), (2L, "x y"))
    val q = graft.ext.Curate.chunkOverlapping(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        chunkTokens = 5, overlap = 2)
      .writeStream.format("memory").queryName("chunk_stream")
      .outputMode("append").start()
    try {
      mem.addData(docs: _*)
      q.processAllAvailable()
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("doc_id", "chunk_idx").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
            r.getLong(3))).toSeq
      val got = canon(spark.table("chunk_stream"))
      val want = canon(graft.ext.Curate.chunkOverlapping(
        docs.toDF("doc_id", "text"), "doc_id", "text", 5, 2))
      assert(got.nonEmpty && got === want)
    } finally q.stop()
  }

  test("seasonal scoring streams against a frozen profile: per-batch flags equal the batch run") {
    // the freeze-then-score recipe at the anomaly layer: the hour-of-day
    // profile is a static frame (refreshed offline), and each micro-batch
    // resolves its rows through the stream-static broadcast join — same
    // flags as scoring the batch corpus later
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Anomaly
    def ts(h: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val hist = ((0 until 12).map(i => ("k", ts(14, i), 100.0 + i % 3)) ++
      (0 until 12).map(i => ("k", ts(2, i), 10.0 + i % 3)))
      .toDF("key", "t", "v")
    val profile = Anomaly.seasonalProfile(hist, "t", "key", "v")
    val live = Seq(("k", ts(2, 40), 100.0), ("k", ts(14, 40), 100.5),
      ("k", ts(2, 45), 10.5))
    val mem = MemoryStream[(String, java.sql.Timestamp, Double)]
    val q = Anomaly.seasonalResiduals(
        mem.toDF().toDF("key", "t", "v"), "t", "key", "v", profile,
        z = 3.0)
      .select(col("key"), col("t"), col("v"), col("is_seasonal_anomaly"))
      .writeStream.format("memory").queryName("seasonal_stream")
      .outputMode("append").start()
    try {
      mem.addData(live: _*)
      q.processAllAvailable()
      def canon(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => (r.getDouble(2), r.getBoolean(3)))
          .sortBy(_._1).toSeq
      val got = canon(spark.table("seasonal_stream"))
      val want = canon(Anomaly.seasonalResiduals(
        live.toDF("key", "t", "v"), "t", "key", "v", profile, z = 3.0)
        .select(col("key"), col("t"), col("v"),
          col("is_seasonal_anomaly")))
      assert(got === want)
      // the off-hour excursion flags; the in-hour twin value does not
      assert(got === Seq((10.5, false), (100.0, true), (100.5, false)))
    } finally q.stop()
  }

  test("classifier scoring is stateless and streams: frozen-weight scores equal the batch run") {
    // the distilled quality filter's serving pass is a narrow projection
    // with literal weights (no state, no corpus statistic at serve
    // time), so the gate runs at ingest — score-and-filter documents as
    // they arrive, identical to scoring the batch corpus later
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.Classifier
    val cols = Seq("f_len", "f_wlen", "f_stop")
    val frozen = graft.SparkEntry.QualityClassifierWeights
    val mem = MemoryStream[(Long, String)]
    val docs = Seq(
      (1L, ("word " * 120).trim), // long, no stopwords → high f_len
      (2L, "the a the a tiny"), // short, stopword-dense
      (3L, "medium length text with some a little content here"))
    def score(df: org.apache.spark.sql.DataFrame) =
      Classifier.scoreWith(
        Classifier.textFeatures(df, "doc_id", "text"),
        cols, frozen.head, frozen.tail, "score")
    val q = score(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("cls_stream")
      .outputMode("append").start()
    try {
      mem.addData(docs: _*)
      q.processAllAvailable()
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("doc_id").collect()
          .map(r => (r.getLong(0), r.getAs[Double]("score"),
            r.getAs[Boolean]("score_keep"))).toSeq
      val got = canon(spark.table("cls_stream"))
      val want = canon(score(docs.toDF("doc_id", "text")))
      assert(got.nonEmpty && got === want)
      // the gate actually separates this batch
      assert(got.map(_._3).distinct.length == 2)
    } finally q.stop()
  }

  test("the same watermarked rollup runs (and finalizes identically) on the RocksDB state store") {
    // the 100 TB state answer: the default HDFS-backed provider holds
    // state in executor HEAP; RocksDB bounds it by local disk. Pin that
    // graft's streaming shapes run unchanged on it — same windows, same
    // finalization — and that the provider was REALLY in use (rocksdb
    // custom metrics in the progress), not silently defaulted.
    val confs = graft.Session.rocksdbStateStore
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[SensorReading]
      val q = Pipeline.watermarkedRollup(mem.toDF()).writeStream
        .format("memory").queryName("rocks_test").outputMode("append").start()
      try {
        mem.addData(reading("2024-01-01 00:01:00", 10.0))
        mem.addData(reading("2024-01-01 00:04:00", 30.0))
        q.processAllAvailable()
        mem.addData(reading("2024-01-01 00:30:00", 99.0)) // flush window
        q.processAllAvailable()
        val emitted = spark.table("rocks_test").collect()
        assert(emitted.length === 1)
        assert(emitted.head.getAs[Long]("reading_count") === 2L)
        assert(emitted.head.getAs[Double]("avg_temperature") === 20.0)
        val prog = q.lastProgress
        assert(prog.stateOperators.nonEmpty)
        assert(prog.stateOperators.head.customMetrics.keySet.asScala
          .exists(_.startsWith("rocksdb")),
          prog.stateOperators.head.customMetrics.toString)
      } finally q.stop()
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("session_window stream: gap-merge, watermark finalization, batch parity") {
    // the last stateful shape: gap-based sessions on a stream. A session
    // stays OPEN (nothing emitted in append mode) while new events can
    // still extend it; it finalizes once the watermark passes its end
    // (last event + gap); a too-late event cannot resurrect it.
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SensorReading]
    val q = WindowedAgg.sessionized(
        mem.toDF().withWatermark("timestamp", "10 minutes"),
        "timestamp", "sensor_id")
      .writeStream.format("memory").queryName("sess_test")
      .outputMode("append").start()
    try {
      mem.addData(reading("2024-01-01 00:00:00", 1.0),
        reading("2024-01-01 00:10:00", 2.0))
      q.processAllAvailable()
      assert(spark.table("sess_test").isEmpty) // session still open
      mem.addData(reading("2024-01-01 00:20:00", 3.0)) // within gap: extends
      q.processAllAvailable()
      assert(spark.table("sess_test").isEmpty)
      // watermark 02:00 - 10 min = 01:50 passes session end 00:50 → flush
      mem.addData(reading("2024-01-01 02:00:00", 4.0))
      q.processAllAvailable()
      val first = spark.table("sess_test").collect()
      assert(first.length === 1)
      assert(first.head.getAs[java.sql.Timestamp]("session_start")
        === ts("2024-01-01 00:00:00"))
      assert(first.head.getAs[java.sql.Timestamp]("session_end")
        === ts("2024-01-01 00:50:00")) // last event 00:20 + 30-min gap
      assert(first.head.getAs[Long]("n_events") === 3L)
      // a row behind the watermark is dropped — the finalized session is
      // not resurrected or duplicated; 04:00 finalizes [02:00, 02:30)
      mem.addData(reading("2024-01-01 00:05:00", 9.0))
      mem.addData(reading("2024-01-01 04:00:00", 5.0))
      q.processAllAvailable()
      val emitted = spark.table("sess_test").orderBy("session_start").collect()
      assert(emitted.length === 2)
      assert(emitted(1).getAs[java.sql.Timestamp]("session_start")
        === ts("2024-01-01 02:00:00"))
      assert(emitted(1).getAs[Long]("n_events") === 1L)
      // batch parity: the SAME operator over the surviving rows, filtered
      // to the finalized prefix (session_end <= final watermark), must
      // equal the streamed emissions row-for-row
      val batch = WindowedAgg.sessionized(
          Seq(reading("2024-01-01 00:00:00", 1.0),
            reading("2024-01-01 00:10:00", 2.0),
            reading("2024-01-01 00:20:00", 3.0),
            reading("2024-01-01 02:00:00", 4.0),
            reading("2024-01-01 04:00:00", 5.0)).toDF(),
          "timestamp", "sensor_id")
        .filter(col("session_end") <= ts("2024-01-01 03:50:00"))
        .orderBy("session_start").collect()
      assert(emitted.toSeq === batch.toSeq)
    } finally q.stop()
  }

  test("dedupedStream drops re-delivered readings within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SensorReading]
    val q = Pipeline.dedupedStream(mem.toDF()).writeStream
      .format("memory").queryName("dedup_test").outputMode("append").start()
    try {
      mem.addData(reading("2024-01-01 00:01:00", 10.0))
      q.processAllAvailable()
      // same (sensor, timestamp) re-delivered in a later batch → dropped
      mem.addData(reading("2024-01-01 00:01:00", 10.0))
      mem.addData(reading("2024-01-01 00:02:00", 11.0))
      q.processAllAvailable()
      assert(spark.table("dedup_test").count() === 2)
    } finally q.stop()
  }

  test("dedupedStream: arrivals past the watermark horizon are filtered, so eviction never re-emits") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SensorReading]
    val q = Pipeline.dedupedStream(mem.toDF(), watermark = "1 minute")
      .writeStream.format("memory").queryName("dedup_horizon_test")
      .outputMode("append").start()
    try {
      mem.addData(reading("2024-01-01 00:01:00", 10.0))
      q.processAllAvailable()
      mem.addData(reading("2024-01-01 00:30:00", 12.0)) // watermark → 00:29
      q.processAllAvailable()
      // a late RE-delivery of the now-evicted key and a late NEW reading
      // are both older than the watermark: filtered at the operator's
      // input — exactly-once output survives state eviction (late data
      // loss past the horizon is the documented trade, not duplication)
      mem.addData(reading("2024-01-01 00:01:00", 10.0))
      mem.addData(reading("2024-01-01 00:02:00", 99.0))
      q.processAllAvailable()
      assert(spark.table("dedup_horizon_test").count() === 2)
    } finally q.stop()
  }

  test("replayDedupIncremental: double delivery of the whole table emits one clean copy") {
    val out = Pipeline.replayDedupIncremental(spark, "/root/testdata/sf0.001")
    val n = graft.sources.Tables.events(spark, "/root/testdata/sf0.001").count()
    assert(out.count() === n)
    assert(out.select("event_id").distinct().count() === n)
  }

  /** The `graft_*` entries directly under `java.io.tmpdir` (other
    * processes share the dir, so only this program's names count).
    */
  private def graftTmpEntries: Set[String] = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    tmp.list().filter(_.startsWith("graft_")).toSet
  }

  test("a replay whose query fails at start() leaves no query, checkpoint or stream scratch") {
    val dir = "/root/testdata/sf0.001"
    val active = spark.streams.active.map(_.id).toSet
    val before = graftTmpEntries
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Replay(spark, "failed_start", dir) { r =>
        val stream = r.eventsSplit(dir, nFiles = 4)
        // a streaming aggregation without a watermark cannot run in
        // append mode: the plan builds and start() refuses it
        r.toParquet("out")(stream.groupBy("event_type").count())
      }
    }
    assert(e.getMessage.toLowerCase.contains("append"), e.getMessage)
    assert(spark.streams.active.map(_.id).toSet === active)
    val root = java.nio.file.Paths.get(
      graft.Scratch.path("replay_failed_start", dir))
    assert(graftTmpEntries -- before subsetOf
      Set(root.getParent.getFileName.toString))
    val left = scala.util.Using.resource(Files.walk(root))(
      _.iterator().asScala.map(root.relativize(_).toString)
        .filter(_.nonEmpty).toList)
    assert(left === Nil, "checkpoint or stream scratch left behind")
  }

  test("replayStreamStreamJoin reruns in place: no tmpdir entry beyond its scratch root") {
    val dir = "/root/testdata/sf0.001"
    val n = Pipeline.replayStreamStreamJoin(spark, dir).count()
    val between = graftTmpEntries
    assert(between.contains(
      java.nio.file.Paths.get(graft.Scratch.path("replay_ssj", dir))
        .getParent.getFileName.toString))
    assert(Pipeline.replayStreamStreamJoin(spark, dir).count() === n)
    assert(graftTmpEntries -- between === Set.empty[String])
  }

  test("replayWindowedAgg leaves no memory-sink view behind across runs") {
    val dir = "/root/testdata/sf0.001"
    def replayViews: Set[String] = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("replay_")).toSet
    val before = replayViews
    val first = Pipeline.replayWindowedAgg(spark, dir)
    val second = Pipeline.replayWindowedAgg(spark, dir)
    assert(replayViews === before)
    assert(first.count() > 0L)
    assert(first.count() === second.count())
  }

  test("streaming output equals batch sensorRollup on the same input") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      reading("2024-01-01 00:01:00", 10.0),
      reading("2024-01-01 00:04:00", 14.0),
      reading("2024-01-01 00:06:00", 20.0),
      reading("2024-01-01 00:11:00", 30.0),
      // sentinel far ahead so every real window passes the watermark
      reading("2024-01-01 01:00:00", 0.0))
    val mem = MemoryStream[SensorReading]
    val query = Pipeline.watermarkedRollup(mem.toDF()).writeStream
      .format("memory").queryName("parity_test").outputMode("append").start()
    try {
      rows.foreach(r => mem.addData(r))
      query.processAllAvailable()
      val streamed = spark.table("parity_test")
        .filter(col("window_start") < ts("2024-01-01 01:00:00"))
        .orderBy("window_start").collect()
      val batch = WindowedAgg.sensorRollup(rows.toDF())
        .filter(col("window_start") < ts("2024-01-01 01:00:00"))
        .orderBy("window_start").collect()
      assert(streamed.toSeq === batch.toSeq)
      assert(streamed.length === 3)
    } finally query.stop()
  }

  test("dual sink writes raw + agg parquet with per-query checkpoints; empty agg batches skipped") {
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("graft_stream_out").toString
    val ckpt = Files.createTempDirectory("graft_stream_ckpt").toString
    val mem = MemoryStream[SensorReading]
    val queries = Pipeline.startDual(mem.toDF(), out, ckpt)
    try {
      mem.addData(reading("2024-01-01 00:01:00", 10.0))
      queries.foreach(_.processAllAvailable())
      // second batch advances the watermark past 00:05 + 10 min → the
      // first window flushes on a subsequent micro-batch
      mem.addData(reading("2024-01-01 00:30:00", 20.0))
      queries.foreach(_.processAllAvailable())
      val raw = spark.read.parquet(s"$out/raw")
      assert(raw.count() === 2)
      val agg = spark.read.parquet(s"$out/agg")
      // only the [00:00,00:05) window passed the watermark
      assert(agg.count() === 1)
      assert(agg.collect().head.getAs[Double]("avg_temperature") === 10.0)
      // per-query checkpoints, not shared (reference ST6 bug fixed)
      assert(new java.io.File(s"$ckpt/raw").exists())
      assert(new java.io.File(s"$ckpt/agg").exists())
    } finally queries.foreach(_.stop())
  }

  test("curation projections (gopherKeep + redactPii) run unchanged on a stream") {
    // the curation family is narrow (pure per-row projections, no state),
    // so the SAME operators that gate the batch corpus drop into a
    // streaming ingest — asserted here by running them through the
    // streaming engine in append mode with no watermark needed
    implicit val sqlCtx = spark.sqlContext
    val good = (Seq("the", "of") ++ Seq.fill(58)("word")).mkString(" ") +
      " reach me at bob@example.com"
    val tiny = "the of tiny doc"
    val mem = MemoryStream[(Long, String)]
    val curated = graft.ext.Curate.redactPii(
        mem.toDF().toDF("doc_id", "text"), "text", "clean")
      .withColumn("keep", graft.ext.TextStats.gopherKeep("text"))
    val q = curated.writeStream
      .format("memory").queryName("curation_stream")
      .outputMode("append").start()
    try {
      mem.addData((1L, good), (2L, tiny))
      q.processAllAvailable()
      val rows = spark.table("curation_stream").orderBy("doc_id").collect()
      assert(rows.length === 2)
      assert(rows(0).getAs[Boolean]("keep"))
      assert(rows(0).getAs[Int]("n_emails") === 1)
      assert(rows(0).getAs[String]("clean").contains("<EMAIL>"))
      assert(!rows(0).getAs[String]("clean").contains("bob@example.com"))
      assert(!rows(1).getAs[Boolean]("keep")) // 4 words < 50: gate holds mid-stream
    } finally q.stop()
  }

  test("streaming dedup vs a static corpus band index flags only true near-dups") {
    // the stream side's signature is a stateless projection and the join
    // is stream-static — no aggregation, no watermark, no growing state
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely different words about spark query engines here"))
      .toDF("doc_id", "text")
    val index = graft.ext.Dedup.minhashBandIndex(corpus, "doc_id", "text",
      k = 5, nPerms = 16, rowsPerBand = 2)
    val mem = MemoryStream[(Long, String)]
    val hits = graft.ext.Dedup.streamingCorpusCollisions(
      mem.toDF().toDF("doc_id", "text"), index,
      "doc_id", "text", k = 5, nPerms = 16, rowsPerBand = 2)
    val q = hits.writeStream
      .format("memory").queryName("corpus_dedup_stream")
      .outputMode("append").start()
    try {
      mem.addData(
        (10L, "the quick brown fox jumps over the lazy dog today"), // dup of 1
        (11L, "novel text that matches nothing previously ingested at all"),
        (12L, "x")) // too short for a 5-shingle: must not crash or match
      q.processAllAvailable()
      val rows = spark.table("corpus_dedup_stream")
        .select("doc_id", "corpus_id").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows === Set((10L, 1L))) // all 8 bands collide for the exact dup
      assert(spark.table("corpus_dedup_stream")
        .filter(col("doc_id") === 10L).count() === 8L)
    } finally q.stop()
  }

  test("streaming BM25 scoring against frozen corpus stats matches the batch scorer") {
    // the freeze-then-score split bm25TopK's batch-only require()
    // prescribes: corpus stats (N, avgdl, per-term df) are frozen ONCE
    // from the batch corpus; bm25Score is then a pure per-row projection
    // that the streaming engine runs unchanged in append mode — no
    // aggregation, no watermark, no state
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.TextStats
    val corpus = Seq(
      (1L, "spark shuffles data across executors"),
      (2L, "spark spark everywhere in this doc"),
      (3L, "entirely unrelated prose about gardens"))
      .toDF("doc_id", "text")
    val terms = Seq("spark", "executors")
    val stats = TextStats.bm25CorpusStats(corpus, "doc_id", "text", terms)
    val mem = MemoryStream[(Long, String)]
    val scored = TextStats.bm25Score(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", terms, stats)
    val q = scored.writeStream
      .format("memory").queryName("bm25_stream")
      .outputMode("append").start()
    try {
      mem.addData(
        (10L, "spark shuffles data across executors"), // = corpus doc 1
        (11L, "no matching words at all"),             // pre-filtered out
        (12L, "executors executors executors"))
      q.processAllAvailable()
      val got = spark.table("bm25_stream").orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      // the no-term doc never reaches scoring
      assert(got.map(_._1).toSeq === Seq(10L, 12L))
      // parity: identical text scores identically through the batch path
      val batch = TextStats.bm25Score(corpus, "doc_id", "text", terms, stats)
        .filter(col("doc_id") === 1L).collect().head.getDouble(1)
      assert(got.head._2 === batch)
      // stats were frozen from the 3-doc corpus, not the stream: df for
      // "executors" is 1 corpus doc, so its idf reflects the corpus even
      // though the stream saw it twice
      assert(got(1)._2 > 0.0)
    } finally q.stop()
  }

  test("observe: per-batch quality counters ride the plan; batch reads land in observedMetrics") {
    // streaming: two micro-batches with known nulls / out-of-domain rows
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Option[Double])]
    var q: StreamingQuery = null
    try {
      // the window's closing drain, not a poll: every progress report of
      // a batch is posted before processAllAvailable returns
      val (_, rec) = Telemetry.window(spark) { _ =>
        q = Observed.withQuality(
            mem.toDF().toDF("id", "v"), "v", lo = 0.0, hi = 100.0)
          .writeStream.format("noop").outputMode("append").start()
        mem.addData((1L, Some(5.0)), (2L, None), (3L, Some(500.0)))
        q.processAllAvailable()
        mem.addData((4L, Some(50.0)))
        q.processAllAvailable()
      }
      assert(rec.productive(q.id).flatMap(Observed.quality) === Seq(
        Map("n_rows" -> 3L, "n_null" -> 1L, "n_out_of_range" -> 1L),
        Map("n_rows" -> 1L, "n_null" -> 0L, "n_out_of_range" -> 0L)))
    } finally if (q != null) q.stop()

    // a batch that only advances the watermark can publish count=0 with
    // null sums: those read as 0
    val watermarkOnly = new GenericRowWithSchema(Array[Any](0L, null, null),
      StructType(Seq("n_rows", "n_null", "n_out_of_range")
        .map(StructField(_, LongType))))
    assert(Observed.quality(Telemetry.Progress(java.util.UUID.randomUUID(),
      0L, Map.empty, Map(Observed.MetricName -> watermarkOnly))) ===
      Some(Map("n_rows" -> 0L, "n_null" -> 0L, "n_out_of_range" -> 0L)))

    // batch: same observation surfaces on the QueryExecution
    val df = Observed.withQuality(
      Seq((1L, Some(5.0)), (2L, None), (3L, Some(-7.0))).toDF("id", "v"),
      "v", 0.0, 100.0)
    df.collect()
    val m = df.queryExecution.observedMetrics(Observed.MetricName)
    assert(m.getAs[Long]("n_rows") === 3L)
    assert(m.getAs[Long]("n_null") === 1L)
    assert(m.getAs[Long]("n_out_of_range") === 1L)
  }

  test("stream-stream LEFT OUTER interval join: eager matches + null-padded unresolved alerts after finalization") {
    val dir = "/root/testdata/sf0.001"
    // the same events at the narrower widths the schema tripwire
    // tolerates (int32 event_id, float value): the flush sentinels must
    // be built in the schema's own types or encoding them throws
    val narrow = Files.createTempDirectory("graft_narrow_events").toString
    graft.sources.Tables.eventsPhysical(spark, dir)
      .withColumn("event_id", col("event_id").cast("int"))
      .withColumn("value", col("value").cast("float"))
      .coalesce(1).write.parquet(s"$narrow/events.parquet")
    val narrowSchema = graft.sources.Tables.events(spark, narrow).schema
    assert(narrowSchema("event_id").dataType === IntegerType)
    assert(narrowSchema("value").dataType === FloatType)

    Seq(dir, narrow).foreach { d => withClue(d) {
      val out = Pipeline.replayStreamStreamJoin(spark, d,
        window = "30 minutes", joinType = "leftOuter")
        .select(col("alert_id"), col("reading_id")).collect()

      // batch expectation: the PLAIN left join of alerts ↔ sub-threshold
      // readings in the 30-min window — the flush sentinels drive the
      // final watermark past everything, so every unresolved alert emits
      // (no finalized-prefix clause)
      val e = graft.sources.Tables.events(spark, d)
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      val a = e.filter(col("value") >= 200)
        .select(col("event_id").as("alert_id"), col("ts").as("alert_ts"),
          col("event_type").as("a_type"))
      val r = e.filter(col("value") < 200)
        .select(col("event_id").as("reading_id"), col("ts").as("r_ts"),
          col("event_type").as("r_type"))
      val expected = a.join(r,
          col("a_type") === col("r_type") &&
            col("r_ts") >= col("alert_ts") &&
            col("r_ts") <= col("alert_ts") + expr("INTERVAL 30 MINUTES"),
          "left_outer")
        .select(col("alert_id"), col("reading_id")).collect()

      def multiset(rows: Array[org.apache.spark.sql.Row]) = rows
        .map(x => (x.getAs[Number](0).longValue,
          if (x.isNullAt(1)) -1L else x.getAs[Number](1).longValue))
        .groupBy(identity).view.mapValues(_.length).toMap
      assert(multiset(out) === multiset(expected))
      // the outer branch demonstrably fired, and matches still flowed
      assert(out.exists(_.isNullAt(1)), "no null-padded row emitted")
      assert(out.exists(!_.isNullAt(1)), "no matched row emitted")
    }}
  }

  test("streaming semantic dedup: trained-cluster assignment runs stateless on a stream") {
    // assignBuckets is a literal-centroid narrow projection, so the
    // SemDeDup candidate generator drops into a stream unchanged: assign
    // the stream row, stream-static join the pre-assigned corpus on the
    // cluster, exact cosine within — no state, no watermark
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.Similarity
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.95f, 0.05f, 0.0f)))
      .toDF("vec_id", "embedding")
    val cents = Similarity.trainQuantizer(corpus, "vec_id", "embedding",
      k = 2, iters = 2, salt = "t")
    val staticAsg = Similarity.assignBuckets(corpus, "embedding", cents, "b")
      .select(col("vec_id").as("corpus_id"),
        col("embedding").cast("array<double>").as("cv"), col("b"))
    val mem = MemoryStream[(Long, Array[Float])]
    val streamAsg = Similarity.assignBuckets(
      mem.toDF().toDF("vec_id", "embedding"), "embedding", cents, "b")
    val flagged = streamAsg
      .join(staticAsg, Seq("b"))
      .withColumn("cos", Similarity.cosine(
        col("embedding").cast("array<double>"), col("cv")))
      .filter(col("cos") > 0.9)
      .select(col("vec_id"), col("corpus_id"))
    val q = flagged.writeStream
      .format("memory").queryName("semdedup_stream")
      .outputMode("append").start()
    try {
      mem.addData(
        (10L, Array(0.97f, 0.03f, 0.0f)), // semantic dup of cluster A
        (11L, Array(0.0f, 0.0f, 1.0f)))   // novel direction
      q.processAllAvailable()
      val hits = spark.table("semdedup_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(hits === Set((10L, 1L), (10L, 3L))) // flags BOTH cluster-A members
    } finally q.stop()
  }
}
