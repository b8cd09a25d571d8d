package graft.sources

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.SparkSpec

/** Commit-log tailing (X104): offsets are log versions, micro-batches
  * are the parsed actions of `(start, end]`, restart resumes mid-log,
  * rewrites under the tail follow the explicit policy, truncation past
  * the tail's offset fails loudly.
  */
class OccTailSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/t"

  /** The shared version-offset stream over the action feed's lane. */
  private def stream(dir: String, opts: (String, String)*): OccVersionStream =
    new OccVersionStream(dir, new CaseInsensitiveStringMap(opts.toMap.asJava),
      new OccFeedLane(dir))

  test("changesTo: a pure compaction emits ZERO change rows; per-version granularity separates adds from changes") {
    val dir = freshDir("graft_occtail_cdc")
    OccTable.init(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), dir)    // v0
    OccTable.append(Seq((3L, 30L)).toDF("id", "v"), dir)             // v1
    OccTable.rewrite(spark, dir, d => d.coalesce(1))                 // v2: pure compaction
    OccTable.rewrite(spark, dir,
      d => d.withColumn("v", when(col("id") === 1L, col("v") + 1)
        .otherwise(col("v"))))                                       // v3: real change
    val perVersion = scala.collection.mutable.Map
      .empty[Long, Seq[(Long, String)]]
    val q = OccStream.changesTo(spark, dir,
      Files.createTempDirectory("graft_occtail_cdc_ckpt").toString,
      Seq("id"), Seq("v"),
      (changes, to) => {
        perVersion(to) = changes.select("id", "status")
          .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        ()
      },
      maxVersionsPerTrigger = 1, trigger = Trigger.AvailableNow())
    q.awaitTermination()
    assert(perVersion(0L).sorted === Seq((1L, "added"), (2L, "added")))
    assert(perVersion(1L) === Seq((3L, "added")))
    // the CDF promise: files churned, rows did not — zero change rows
    assert(perVersion(2L) === Seq.empty,
      s"pure compaction leaked changes: ${perVersion(2L)}")
    assert(perVersion(3L) === Seq((1L, "changed")))
  }

  test("feed: one micro-batch per version under the admission cap; actions replay the log faithfully") {
    val dir = freshDir("graft_occtail_feed")
    OccTable.init(Seq((1L, 10L)).toDF("id", "v"), dir)                  // v0
    OccTable.appendStream(Seq((2L, 20L)).toDF("id", "v"), dir, "app", 7L) // v1
    OccTable.rewrite(spark, dir, d => d.coalesce(1))                    // v2
    val batches = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Seq[(Long, String)])]
    val q = OccStream.feed(spark, dir, maxVersionsPerTrigger = 1)
      .writeStream.outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_occtail_feed_ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        batches += ((id, b.select("version", "action")
          .collect().map(r => (r.getLong(0), r.getString(1))).toSeq))
        ()
      }.start()
    q.awaitTermination()

    // the cap made each version its own micro-batch, in order
    assert(batches.map(_._1).toSeq === Seq(0L, 1L, 2L))
    assert(batches.map(_._2.map(_._1).distinct).toSeq
      === Seq(Seq(0L), Seq(1L), Seq(2L)))
    val byAction = batches.flatMap(_._2).groupBy(_._2)
      .view.mapValues(_.map(_._1).toSeq).toMap
    // v0 = init's metadata action; v2 = the rewrite's one-time
    // nullability relaxation (a parquet read reports nullable, so the
    // first rewrite's output schema relaxes the init frame's literals)
    assert(byAction("schema") === Seq(0L, 2L))
    assert(byAction("txn") === Seq(1L))           // the SetTransaction fence
    assert(byAction("remove").forall(_ == 2L))    // only the rewrite removes
    assert(byAction("add").count(_ == 2L) >= 1)   // rewrite adds its output

    // the txn row carries its fence payload
    val txn = {
      val b = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      val q2 = OccStream.feed(spark, dir)
        .writeStream.outputMode("append")
        .option("checkpointLocation",
          Files.createTempDirectory("graft_occtail_feed_ckpt2").toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (d: org.apache.spark.sql.DataFrame, _: Long) =>
          b ++= d.filter(col("action") === "txn")
            .select("app_id", "txn_version")
            .collect().map(r => (r.getString(0), r.getLong(1)))
          ()
        }.start()
      q2.awaitTermination()
      b.toSeq
    }
    assert(txn === Seq(("app", 7L)))
  }

  test("tailTo: appends land exactly once across a mid-log restart; a racing compaction is skipped") {
    val dir = freshDir("graft_occtail_data")
    val dst = freshDir("graft_occtail_dst")
    val ckpt = Files.createTempDirectory("graft_occtail_ckpt").toString
    OccTable.init(Seq((1L, 10L)).toDF("id", "v"), dir)                  // v0
    OccTable.append(Seq((2L, 20L)).toDF("id", "v"), dir)                // v1
    OccTable.init(Seq.empty[(Long, Long)].toDF("id", "v"), dst)

    // run 1: consume v0..v1, then stop (mid-log)
    val q1 = OccStream.tailTo(spark, dir, ckpt,
      OccTable.streamingSink(dst, "tail"), onRewrite = "skipRewrites")
    q1.processAllAvailable()
    q1.stop()
    assert(OccTable.read(spark, dst)().as[(Long, Long)].collect().sorted
      === Array((1L, 10L), (2L, 20L)))

    // while the tail is down: more appends AND a compaction rewrite
    OccTable.append(Seq((3L, 30L)).toDF("id", "v"), dir)                // v2
    OccTable.rewrite(spark, dir, d => d.coalesce(1))                    // v3
    OccTable.append(Seq((4L, 40L)).toDF("id", "v"), dir)                // v4

    // run 2, same checkpoint: resumes at v2 — no duplicates, no gaps,
    // the rewrite commit skipped (its content was already delivered)
    val q2 = OccStream.tailTo(spark, dir, ckpt,
      OccTable.streamingSink(dst, "tail"), onRewrite = "skipRewrites")
    q2.processAllAvailable()
    q2.stop()
    assert(OccTable.read(spark, dst)().as[(Long, Long)].collect().sorted
      === Array((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)))
    // ≡ the plain table read — the tail reconstructed the table
    assert(OccTable.read(spark, dir)().as[(Long, Long)].collect().sorted
      === OccTable.read(spark, dst)().as[(Long, Long)].collect().sorted)
  }

  test("onRewrite=fail: a rewrite under the tail fails the stream loudly") {
    val dir = freshDir("graft_occtail_fail")
    OccTable.init(Seq((1L, 10L)).toDF("id", "v"), dir)
    OccTable.rewrite(spark, dir, d => d.coalesce(1))
    val q = OccStream.tailTo(spark, dir,
      Files.createTempDirectory("graft_occtail_fail_ckpt").toString,
      (_, _) => (), trigger = Trigger.AvailableNow())
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(m =>
      m.contains("rewrite files under the tail")
        && m.contains("skipRewrites")))
  }

  test("log truncation past the tail's offset fails the restart loudly") {
    val dir = freshDir("graft_occtail_trunc")
    val ckpt = Files.createTempDirectory("graft_occtail_trunc_ckpt").toString
    OccTable.init(Seq((1L, 10L)).toDF("id", "v"), dir)                  // v0
    val delivered = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q1 = OccStream.tailTo(spark, dir, ckpt,
      (d, _) => { delivered += d.count(); () })
    q1.processAllAvailable()
    q1.stop()                                                           // offset = v0

    OccTable.append(Seq((2L, 20L)).toDF("id", "v"), dir)                // v1
    OccTable.append(Seq((3L, 30L)).toDF("id", "v"), dir)                // v2
    OccTable.checkpoint(spark, dir)
    OccTable.truncateLog(spark, dir) // drops v0..v2 — the tail never saw v1..v2

    val q2 = OccStream.tailTo(spark, dir, ckpt, (_, _) => ())
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("truncated")))
    try q2.stop() catch { case _: Throwable => () }
  }

  test("schema evolution mid-tail propagates through the loop: the destination table evolves additively") {
    val src = freshDir("graft_occtail_evo_src")
    val dst = freshDir("graft_occtail_evo_dst")
    OccTable.init(Seq((1L, 10L)).toDF("id", "v"), src)                  // v0
    OccTable.init(Seq.empty[(Long, Long)].toDF("id", "v"), dst)
    val q = OccStream.tailTo(spark, src,
      Files.createTempDirectory("graft_occtail_evo_ckpt").toString,
      OccTable.streamingSink(dst, "evo_tail"))
    q.processAllAvailable()                                             // v0 delivered
    // the source evolves additively mid-tail (new nullable column)...
    OccTable.append(Seq((2L, 20L)).toDF("id", "v")
      .withColumn("w", lit(7L)), src)                                   // v1
    q.processAllAvailable()
    q.stop()
    // ...and the batch frame (planned with the evolved log schema)
    // carried the evolution into the DESTINATION's log via the fenced
    // append — both tables now read the same evolved content
    assert(OccTable.snapshot(spark, dst).schema.map(_.fieldNames.toSeq)
      === Some(Seq("id", "v", "w")))
    val rows = OccTable.read(spark, dst)()
      .select("id", "v", "w").as[(Long, Long, Option[Long])]
      .collect().sortBy(_._1).toSeq
    assert(rows === Seq((1L, 10L, None), (2L, 20L, Some(7L))))
  }

  test("startingVersion=latest subscribes to the future only; ignoreRemoves reprocesses rewrite adds") {
    val dir = freshDir("graft_occtail_latest")
    OccTable.init(Seq((1L, 10L)).toDF("id", "v"), dir)                  // v0
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = OccStream.tailTo(spark, dir,
      Files.createTempDirectory("graft_occtail_latest_ckpt").toString,
      (d, _) => { rows ++= d.as[(Long, Long)].collect(); () },
      startingVersion = "latest", onRewrite = "ignoreRemoves")
    q.processAllAvailable()
    assert(rows.isEmpty) // v0 predates the subscription
    OccTable.append(Seq((2L, 20L)).toDF("id", "v"), dir)                // v1
    q.processAllAvailable()
    assert(rows.sorted === Seq((2L, 20L)))
    // a compaction under ignoreRemoves REPROCESSES the folded content —
    // the documented at-least-once trade of that mode
    OccTable.rewrite(spark, dir, d => d.coalesce(1))                    // v2
    q.processAllAvailable()
    q.stop()
    assert(rows.sorted === Seq((1L, 10L), (2L, 20L), (2L, 20L)))
  }

  test("startingTimestamp subscribes from the first commit at or after it (X147)") {
    val dir = freshDir("graft_occtail_ts")
    OccTable.init(Seq((1L, 10L)).toDF("id", "v"), dir)   // v0
    OccTable.append(Seq((2L, 20L)).toDF("id", "v"), dir) // v1
    OccTable.append(Seq((3L, 30L)).toDF("id", "v"), dir) // v2
    // pin the commit clock deterministically (the version files' mtime
    // IS the clock versionAsOf and X147 resolve against)
    val fsys = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def vp(v: Long) = new org.apache.hadoop.fs.Path(
      s"$dir/_graft_occ/v${"%020d".format(v)}")
    Seq(0L -> 1000L, 1L -> 2000L, 2L -> 3000L).foreach { case (v, t) =>
      fsys.setTimes(vp(v), t, t) }
    assert(OccTable.firstVersionAtOrAfter(spark, dir, 1500L) === 1L)
    assert(OccTable.firstVersionAtOrAfter(spark, dir, 2000L) === 1L)
    val ms = stream(dir, "startingTimestamp" -> "1500")
    assert(ms.initialOffset() === OccVersionOffset(0L)) // v1 first delivered
    // after the latest commit: refuse loudly (Delta's behavior)
    assertThrows[IllegalArgumentException] {
      OccTable.firstVersionAtOrAfter(spark, dir, 9999L)
    }
    // startingVersion/startingTimestamp exclusivity
    assertThrows[IllegalArgumentException] {
      stream(dir, "startingVersion" -> "latest", "startingTimestamp" -> "1")
    }
    // end-to-end: the change feed from ts=1500 sees v1..v2 only — v0's
    // row never classifies as an add
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val q = OccStream.changesTo(spark, dir,
      Files.createTempDirectory("graft_occtail_ts_ckpt").toString,
      Seq("id"), Seq("v"),
      (d, _) => { rows ++= d.select("id", "status")
        .as[(Long, String)].collect(); () },
      startingTimestamp = Some(1500L))
    q.processAllAvailable()
    q.stop()
    assert(rows.sorted === Seq((2L, "added"), (3L, "added")))
  }

  test("latestOffset honors ReadMaxRows inside a CompositeReadLimit (AvailableNow + admission options)") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val dir = freshDir("graft_occtail_composite")
    OccTable.init(Seq((1L, 10L)).toDF("id", "v"), dir)     // v0
    (1 to 4).foreach(i =>
      OccTable.append(Seq((i.toLong, i * 10L)).toDF("id", "v"), dir)) // v1..v4
    val ms = stream(dir, "maxVersionsPerTrigger" -> "2")
    val start = OccVersionOffset(-1L)
    // bare ReadMaxRows: advance by exactly the cap
    val bare = ms.latestOffset(start, ReadLimit.maxRows(2L))
    assert(bare === OccVersionOffset(1L))
    // composite (AvailableNow wraps the admission cap): the tightest
    // ReadMaxRows still applies — a backlogged catch-up must NOT plan
    // the whole log in one trigger
    val composite = ReadLimit.compositeLimit(
      Array(ReadLimit.allAvailable(), ReadLimit.maxRows(2L)))
    assert(ms.latestOffset(start, composite) === OccVersionOffset(1L))
    // two ReadMaxRows in one composite: the minimum wins
    val two = ReadLimit.compositeLimit(
      Array(ReadLimit.maxRows(3L), ReadLimit.maxRows(1L)))
    assert(ms.latestOffset(start, two) === OccVersionOffset(0L))
    // a composite with no row cap falls back to all available
    val none = ReadLimit.compositeLimit(
      Array(ReadLimit.allAvailable(), ReadLimit.allAvailable()))
    assert(ms.latestOffset(start, none) === OccVersionOffset(4L))
  }

  test("offsets round-trip through their checkpoint JSON: N for a version, sN for a pending snapshot") {
    val dir = freshDir("graft_occtail_offset_json")
    OccTable.init(Seq((1L, 10L)).toDF("id", "v"), dir)
    val ms = stream(dir)
    assert(ms.deserializeOffset("3") === OccVersionOffset(3L))
    assert(ms.deserializeOffset("s3") ===
      OccVersionOffset(3L, snapshotPending = true))
    assert(OccVersionOffset(3L).json() === "3")
    assert(OccVersionOffset(3L, snapshotPending = true).json() === "s3")
    assert(ms.deserializeOffset(OccVersionOffset(-1L).json())
      === OccVersionOffset(-1L))
  }
}
