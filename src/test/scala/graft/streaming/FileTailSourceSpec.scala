package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardOpenOption}

import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** Live-source round-trip gates (SURVEY §2.1 S1 / §2.8 ST8): an EXTERNAL
  * writer appends lines to a file; the DataSource-V2 [[FileTailSource]]
  * discovers, plans, and reads them through the real streaming engine —
  * offsets, checkpoint resume, starting-offset semantics, and the full
  * readStream → parseJson → dual-sink pipeline the Kafka deployment runs
  * (reference/spark_streaming.py:125-189). This replaces the
  * contract-only floor the Kafka wiring sat at (no connector jar / no
  * Maven egress in this sandbox — probed via sbt 2026-08-14).
  */
class FileTailSourceSpec extends SparkSpec {

  private def tmpLog(): Path = {
    val d = Files.createTempDirectory("graft_tail")
    d.resolve("events.log")
  }

  /** The external producer: append raw bytes (NOT via Spark). */
  private def append(p: Path, s: String): Unit =
    Files.write(p, s.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)

  private def readAll(p: Path, startingOffset: String,
      extraOpts: Map[String, String] = Map.empty): Seq[(Long, String)] = {
    val sink = "tail_" + java.util.UUID.randomUUID().toString.replace("-", "")
    var reader = spark.readStream
      .format(FileTailSource.ShortName)
      .option("path", p.toString)
      .option("startingOffset", startingOffset)
    extraOpts.foreach { case (k, v) => reader = reader.option(k, v) }
    val q = reader.load().writeStream
      .format("memory").queryName(sink)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    spark.table(sink).collect().toSeq
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
  }

  test("earliest reads pre-existing lines; a partial tail line is invisible until terminated") {
    val p = tmpLog()
    append(p, "alpha\nbeta\n")
    append(p, "gam") // unterminated: the producer is mid-write
    assert(readAll(p, "earliest").map(_._2) === Seq("alpha", "beta"))
    append(p, "ma\n") // newline lands → record complete
    assert(readAll(p, "earliest").map(_._2) === Seq("alpha", "beta", "gamma"))
  }

  test("offsets are byte positions: values carry each line's start offset") {
    val p = tmpLog()
    append(p, "aa\nbbbb\ncc\n")
    assert(readAll(p, "earliest") === Seq((0L, "aa"), (3L, "bbbb"), (8L, "cc")))
  }

  test("startingOffset=latest skips history, sees only post-start appends") {
    val p = tmpLog()
    append(p, "old1\nold2\n")
    // latest + AvailableNow on a quiescent file = nothing
    assert(readAll(p, "latest").isEmpty)
    // live run: start at latest, then the external producer appends
    val sink = "tail_live_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = Sources.fileTail(spark, p.toString, startingOffset = "latest")
      .writeStream.format("memory").queryName(sink)
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      // start() returns before the source initializes; force the first
      // (empty) batch so 'latest' is bound BEFORE the producer appends
      q.processAllAvailable()
      append(p, "new1\nnew2\n")
      q.processAllAvailable()
      assert(spark.table(sink).collect().map(_.getString(1)).sorted
        === Array("new1", "new2"))
    } finally q.stop()
  }

  test("checkpoint resume: a second run replays nothing, reads only the new tail") {
    val p = tmpLog()
    val ckpt = Files.createTempDirectory("graft_tail_ckpt").toString
    val out = Files.createTempDirectory("graft_tail_out").toString + "/rows"
    def runOnce(): Unit = {
      val q = Sources.fileTail(spark, p.toString, startingOffset = "earliest")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
    }
    append(p, "r1\nr2\nr3\n")
    runOnce()
    append(p, "r4\nr5\n")
    runOnce() // same checkpoint: resumes from committed offset 9
    val rows = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("offset"), r.getAs[String]("value"))).sorted
    assert(rows === Array((0L, "r1"), (3L, "r2"), (6L, "r3"),
      (9L, "r4"), (12L, "r5"))) // exactly once, no replays
  }

  /** Reads [0, file end) through one [[FileTailReader]] per span, the
    * spans cut at `cuts`, in span order.
    */
  private def readSpans(p: Path, cuts: Seq[Long]): Seq[(Long, String)] = {
    val end = Files.size(p)
    val bounds = (0L +: cuts.filter(c => c > 0 && c < end).distinct.sorted) :+ end
    bounds.sliding(2).toSeq.flatMap { case Seq(lo, hi) =>
      val r = new FileTailReader(FileTailPartition(p.toString, lo, hi, batchStart = 0L))
      try Iterator.continually(r.next()).takeWhile(identity)
        .map(_ => (r.get().getLong(0), r.get().getUTF8String(1).toString)).toList
      finally r.close()
    }
  }

  test("split protocol: multi-partition batch reads every line exactly once") {
    val buffer = 64 * 1024
    val long = "L" * (2 * buffer + 1000) // spans three read-buffer fills
    // 2 + 3k bytes never land on 64 KiB: a char straddles the refill
    val utf8 = "ab" + "\u20ac" * 30000
    val mixed = "\u00fc\u20ac\ud834\udd1e" * 50 // 2-, 3- and 4-byte chars
    val inputs = Seq(
      "short lines" -> (0 until 500).map(i => f"record_$i%04d_${"x" * (i % 37)}"),
      "longer than the buffer" -> Seq("head", long, "mid", long, "tail"),
      "multi-byte UTF-8" -> Seq(utf8, mixed, utf8, mixed),
      "CRLF keeps its \\r" -> Seq("one\r", "two\r", "", "three\r"))
    inputs.foreach { case (name, lines) =>
      val p = tmpLog()
      append(p, lines.mkString("", "\n", "\n"))
      val bytes = Files.readAllBytes(p)
      val starts = lines.scanLeft(0L)(_ + _.getBytes(StandardCharsets.UTF_8).length + 1).init
      val expected = starts.zip(lines)
      // engine path: 4 partitions, 128-byte min split
      assert(readAll(p, "earliest",
        Map("maxPartitionsPerBatch" -> "4", "minSplitBytes" -> "128")) === expected, name)
      // reader path: spans cut inside multi-byte chars and lines, across
      // buffer refills, and with lo exactly on a line start
      val inChar = bytes.indices.filter(i => (bytes(i) & 0xc0) == 0x80).map(_.toLong)
      val cutSets = Seq(
        Seq(1L, 7L, buffer - 1L, buffer.toLong, buffer + 1L),
        starts, starts.map(_ + 1), inChar.take(3) ++ inChar.takeRight(3))
      cutSets.foreach(cuts => assert(readSpans(p, cuts) === expected, s"$name, cuts $cuts"))
    }
    // the UTF-8 input really splits a char at the buffer refill
    assert((utf8.getBytes(StandardCharsets.UTF_8)(buffer) & 0xc0) == 0x80)
  }

  test("planInputPartitions splits the range evenly and covers it exactly") {
    val stream = new FileTailMicroBatchStream("/nonexistent",
      startingOffset = "earliest", maxPartitions = 4, minSplitBytes = 100)
    def plan(s: Long, e: Long) = stream.planInputPartitions(
      FileTailOffset(s), FileTailOffset(e))
      .map(_.asInstanceOf[FileTailPartition])
    val parts = plan(1000, 2000)
    assert(parts.length === 4)
    assert(parts.head.lo === 1000 && parts.last.hi === 2000)
    assert(parts.sliding(2).forall(w => w(0).hi === w(1).lo)) // no gaps
    assert(parts.forall(_.batchStart === 1000))
    assert(plan(0, 150).length === 2)  // span/minSplit rounds up
    assert(plan(0, 99).length === 1)   // below min split: one partition
    assert(plan(5, 5).isEmpty)         // empty batch plans no work
  }

  test("degenerate split options are rejected with named errors") {
    intercept[IllegalArgumentException] {
      new FileTailMicroBatchStream("/x", "earliest",
        maxPartitions = 0, minSplitBytes = 1)
    }
    intercept[IllegalArgumentException] {
      new FileTailMicroBatchStream("/x", "earliest",
        maxPartitions = 1, minSplitBytes = 0)
    }
    intercept[IllegalArgumentException] {
      new FileTailMicroBatchStream("/x", "from-the-top",
        maxPartitions = 1, minSplitBytes = 1)
    }
  }

  test("offset json round-trips through deserializeOffset (restart contract)") {
    val stream = new FileTailMicroBatchStream("/nonexistent",
      startingOffset = "latest", maxPartitions = 1, minSplitBytes = 1)
    val o = FileTailOffset(123456789L)
    assert(stream.deserializeOffset(o.json()) === o)
  }

  test("LIVE round-trip: external JSON appends → fileTail → parseJson → dual sink") {
    val p = tmpLog()
    val outDir = Files.createTempDirectory("graft_tail_dual_out").toString
    val ckpt = Files.createTempDirectory("graft_tail_dual_ckpt").toString
    def payload(id: String, t: String, temp: Double): String =
      s"""{"sensor_id":"$id","location":"warehouse_a","timestamp":"$t",""" +
        s""""temperature":$temp,"humidity":50.0,"pressure":1000.0}"""
    val readings = Sources.dropIncomplete(Sources.parseJson(
      Sources.fileTail(spark, p.toString, startingOffset = "earliest")))
    val queries = Pipeline.startDual(readings, outDir, ckpt)
    try {
      append(p, payload("SENSOR_001", "2024-01-01T00:01:00Z", 10.0) + "\n")
      append(p, payload("SENSOR_001", "2024-01-01T00:03:00Z", 20.0) + "\n")
      append(p, "{not json}\n") // malformed payload → parse-null → P9 guard
      // event time far past window end + watermark → agg sink flushes
      append(p, payload("SENSOR_001", "2024-01-01 00:30:00", 30.0) + "\n")
      queries.foreach(_.processAllAvailable())
      val raw = spark.read.parquet(s"$outDir/raw")
      assert(raw.count() === 3) // malformed line dropped, 3 survive
      val agg = spark.read.parquet(s"$outDir/agg")
      val w = agg.filter("sensor_id = 'SENSOR_001'")
        .filter("window_start = timestamp'2024-01-01 00:00:00'").collect()
      assert(w.length === 1)
      assert(w.head.getAs[Long]("reading_count") === 2L)
      assert(w.head.getAs[Double]("avg_temperature") === 15.0)
    } finally queries.foreach(_.stop())
  }
}
