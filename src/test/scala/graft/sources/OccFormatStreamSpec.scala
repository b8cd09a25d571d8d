package graft.sources

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

import graft.SparkSpec

/** X150 — `spark.readStream.format("graft-occ").load(dir)`: the
  * by-format-name streaming read (Delta `readStream.format("delta")`
  * parity). Each micro-batch is one incremental parquet scan of the
  * window's added files; offsets are log versions checkpointed by the
  * engine, so a restart resumes mid-log exactly-once; rewrites follow
  * the tailTo trichotomy; `startingVersion=snapshot` serves compacted
  * histories; column-mapped tables stream under LOGICAL names with
  * mid-stream mapping changes refused loudly.
  */
class OccFormatStreamSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft_fstream").toString + "/t"

  private def slice(r: Range): DataFrame =
    r.map(i => (i.toLong, s"k$i")).toDF("id", "key").coalesce(1)

  /** Run the format stream to exhaustion (AvailableNow), collecting
    * every delivered row and the per-batch row counts.
    */
  private def drain(dir: String, ckpt: String,
      opts: Map[String, String] = Map.empty)
      : (Seq[(Long, String)], Seq[Long]) = {
    val rows = ArrayBuffer.empty[Row]
    val batches = ArrayBuffer.empty[Long]
    val r = spark.readStream.format("graft-occ")
    val q = opts.foldLeft(r) { case (b, (k, v)) => b.option(k, v) }
      .load(dir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val got = batch.collect()
        rows.synchronized { rows ++= got; batches += got.length.toLong }
        ()
      }
      .start()
    q.awaitTermination()
    (rows.map(r => (r.getLong(0), r.getString(1))).toSeq,
      batches.toSeq)
  }

  test("earliest replay delivers the table's rows exactly-once across restarts") {
    val dir = freshDir()
    OccTable.init(slice(0 until 10), dir)
    OccTable.append(slice(10 until 20), dir)
    OccTable.append(slice(20 until 30), dir)
    val ckpt = Files.createTempDirectory("graft_fstream_ck").toString
    val (rows, _) = drain(dir, ckpt)
    assert(rows.map(_._1).sorted === (0L until 30L),
      "the drained stream must equal the table")
    assert(rows.toSet === OccTable.read(spark, dir)()
      .as[(Long, String)].collect().toSet)
    // two more commits; SAME checkpoint → only the new versions arrive
    OccTable.append(slice(30 until 40), dir)
    OccTable.append(slice(40 until 50), dir)
    val (rows2, _) = drain(dir, ckpt)
    assert(rows2.map(_._1).sorted === (30L until 50L),
      "a resumed stream must deliver exactly the commits since its " +
        "checkpointed version — no duplicates, no gaps")
  }

  test("maxVersionsPerTrigger bounds each batch to an admission window") {
    val dir = freshDir()
    OccTable.init(slice(0 until 10), dir)
    OccTable.append(slice(10 until 20), dir)
    OccTable.append(slice(20 until 30), dir)
    val ckpt = Files.createTempDirectory("graft_fstream_ck").toString
    val (rows, batches) = drain(dir, ckpt,
      Map("maxVersionsPerTrigger" -> "1"))
    assert(rows.map(_._1).sorted === (0L until 30L))
    assert(batches.count(_ > 0) === 3,
      "one commit per micro-batch under maxVersionsPerTrigger=1")
  }

  test("rewrites: fail by default, skipRewrites skips, snapshot mode serves compacted history") {
    val dir = freshDir()
    OccTable.init(slice(0 until 10), dir)
    OccTable.append(slice(10 until 20), dir)
    OccTable.rewrite(spark, dir, d => d.coalesce(1)) // compaction
    OccTable.append(slice(20 until 30), dir)
    val e = intercept[StreamingQueryException] {
      drain(dir, Files.createTempDirectory("graft_fstream_ck").toString)
    }
    assert(e.getCause.getMessage.contains("rewrite files under the stream"))
    // skipRewrites: the compaction commit is ignored entirely — its
    // content was already delivered version by version
    val (rows, _) = drain(dir,
      Files.createTempDirectory("graft_fstream_ck").toString,
      Map("onRewrite" -> "skipRewrites"))
    assert(rows.map(_._1).sorted === (0L until 30L))
    // snapshot mode: the CURRENT live set first, then the tail — the
    // form that never replays pre-compaction history
    val (rows2, batches2) = drain(dir,
      Files.createTempDirectory("graft_fstream_ck").toString,
      Map("startingVersion" -> "snapshot"))
    assert(rows2.map(_._1).sorted === (0L until 30L))
    assert(batches2.count(_ > 0) === 1,
      "the pinned snapshot arrives as one undividable batch")
  }

  test("startingVersion=latest and a numeric startingVersion scope the subscription") {
    val dir = freshDir()
    OccTable.init(slice(0 until 10), dir)   // v0
    OccTable.append(slice(10 until 20), dir) // v1
    val ckpt = Files.createTempDirectory("graft_fstream_ck").toString
    val (none, _) = drain(dir, ckpt, Map("startingVersion" -> "latest"))
    assert(none.isEmpty, "latest subscribes to the FUTURE only")
    OccTable.append(slice(20 until 30), dir) // v2
    val (tail, _) = drain(dir, ckpt, Map("startingVersion" -> "latest"))
    assert(tail.map(_._1).sorted === (20L until 30L))
    val (fromV1, _) = drain(dir,
      Files.createTempDirectory("graft_fstream_ck").toString,
      Map("startingVersion" -> "1"))
    assert(fromV1.map(_._1).sorted === (10L until 30L),
      "a numeric startingVersion is the first version delivered")
  }

  test("a column-mapped table streams under LOGICAL names; a mid-stream mapping change refuses") {
    val dir = freshDir()
    OccTable.init(slice(0 until 10), dir)
    OccTable.renameColumn(spark, dir, "key", "name")
    OccTable.append(Seq((10L, "k10")).toDF("id", "name").coalesce(1), dir)
    val sdf = spark.readStream.format("graft-occ").load(dir)
    assert(sdf.columns.toSeq === Seq("id", "name"),
      "the streaming relation must surface logical names")
    // startingVersion=snapshot starts PAST the mapping commit, so the
    // pinned mapping covers every planned window
    val rows = ArrayBuffer.empty[(Long, String)]
    val q = sdf.writeStream
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_fstream_ck").toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        rows.synchronized {
          rows ++= b.select("id", "name").as[(Long, String)].collect() }
        ()
      }.start()
    q.awaitTermination()
    assert(rows.map(_._1).sorted.toSeq === (0L to 10L))
    assert(rows.toMap.apply(5L) === "k5")
    // a rename landing INSIDE a planned window fails loudly: the
    // stream's schema is pinned (Delta restarts the same way)
    val dir2 = freshDir()
    OccTable.init(slice(0 until 10), dir2)
    OccTable.renameColumn(spark, dir2, "key", "label") // v1: in-window
    val e = intercept[StreamingQueryException] {
      // pin the schema AS OF v0 by replaying from earliest with the
      // CURRENT resolution — the v1 mapping commit is inside the
      // window and differs from... the current pin carries v1's
      // mapping, so pin a PRE-change resolution via versionAsOf
      val rows2 = ArrayBuffer.empty[Row]
      val q2 = spark.readStream.format("graft-occ")
        .option("versionAsOf", "0") // resolve (pin) at v0
        .load(dir2)
        .writeStream
        .outputMode("append")
        .option("checkpointLocation",
          Files.createTempDirectory("graft_fstream_ck").toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          rows2.synchronized { rows2 ++= b.collect() }; ()
        }.start()
      q2.awaitTermination()
    }
    assert(e.getCause.getMessage.contains("changes the column mapping"))
  }

  test("format stream ≡ OccStream.tailTo on the same log (one delivery contract)") {
    val dir = freshDir()
    OccTable.init(slice(0 until 10), dir)
    OccTable.append(slice(10 until 20), dir)
    OccTable.append(slice(20 until 30), dir)
    val viaFormat = drain(dir,
      Files.createTempDirectory("graft_fstream_ck").toString)._1.toSet
    val viaTail = {
      val got = ArrayBuffer.empty[(Long, String)]
      val q = OccStream.tailTo(spark, dir,
        Files.createTempDirectory("graft_fstream_ck").toString,
        (df, _) => got.synchronized {
          got ++= df.as[(Long, String)].collect() },
        trigger = Trigger.AvailableNow())
      q.awaitTermination(); got.toSet
    }
    assert(viaFormat === viaTail,
      "the by-format-name stream and the Scala-API tail must deliver " +
        "identical rows from the same log")

    // a vacuumed skipRewrites log: each lane drains v0 on its own
    // checkpoint; two compactions, an append and a vacuum land; each
    // lane resumes. The vacuum reclaimed the skipped compactions' files,
    // which neither lane serves, so neither may refuse on them.
    val vac = freshDir()
    OccTable.init(Seq((1L, "10")).toDF("id", "key").coalesce(1), vac) // v0
    val skip = Map("onRewrite" -> "skipRewrites")
    val formatCk = Files.createTempDirectory("graft_fstream_ck").toString
    val tailCk = Files.createTempDirectory("graft_fstream_ck").toString
    def viaTailOn(ck: String): Seq[(Long, String)] = {
      val got = ArrayBuffer.empty[(Long, String)]
      val q = OccStream.tailTo(spark, vac, ck,
        (df, _) => got.synchronized {
          got ++= df.as[(Long, String)].collect() },
        onRewrite = "skipRewrites", trigger = Trigger.AvailableNow())
      q.awaitTermination(); got.toSeq
    }
    assert(drain(vac, formatCk, skip)._1 === Seq((1L, "10")))
    assert(viaTailOn(tailCk) === Seq((1L, "10")))
    OccTable.rewrite(spark, vac, d => d.coalesce(1))                 // v1
    OccTable.rewrite(spark, vac, d => d.coalesce(1))                 // v2
    OccTable.append(Seq((4L, "40")).toDF("id", "key"), vac)          // v3
    OccTable.vacuum(spark, vac)
    assert(OccTable.vacuumedThrough(spark, vac) === 2L)
    assert(drain(vac, formatCk, skip)._1 === Seq((4L, "40")))
    assert(viaTailOn(tailCk) === Seq((4L, "40")))
  }

  test("each onRewrite mode across a DV delete, on both lanes") {
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    // subscribe, deliver v0, DV-delete id 2 (v1), process again: the
    // rows served for v1, or the refusal
    def acrossDvDelete(lane: String,
        mode: String): Either[String, Seq[(Long, Long)]] = {
      val dir = freshDir()
      OccTable.init(Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v")
        .coalesce(1), dir)
      val got = ArrayBuffer.empty[(Long, Long)]
      val collect = (df: DataFrame, _: Long) =>
        got.synchronized { got ++= df.as[(Long, Long)].collect(); () }
      val ckpt = Files.createTempDirectory("graft_fstream_ck").toString
      val q =
        if (lane == "tail")
          OccStream.tailTo(spark, dir, ckpt, collect, onRewrite = mode)
        else spark.readStream.format("graft-occ").option("onRewrite", mode)
          .load(dir).writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .foreachBatch(collect)
          .start()
      try {
        q.processAllAvailable()
        assert(got.sorted.toSeq === Seq((1L, 10L), (2L, 20L), (3L, 30L)))
        got.clear()
        assert(OccTable.deleteRangeDv(spark, dir, "id", 2.0, 2.0)
          .markedRows === 1L)
        try { q.processAllAvailable(); Right(got.sorted.toSeq) }
        catch {
          case e: StreamingQueryException => Left(messages(e).mkString(" | "))
        }
      } finally q.stop()
    }
    for (lane <- Seq("tail", "format")) {
      val refused = acrossDvDelete(lane, "fail")
      assert(refused.left.exists(_.contains(s"rewrite files under the " +
        (if (lane == "tail") "tail" else "stream"))), s"$lane: $refused")
      assert(acrossDvDelete(lane, "skipRewrites") === Right(Seq.empty),
        s"$lane: skipRewrites serves nothing for the DV commit")
    }
    // Delta's ignoreChanges: the rewritten file's SURVIVORS, never the
    // deleted row
    assert(acrossDvDelete("tail", "ignoreRemoves")
      === Right(Seq((1L, 10L), (3L, 30L))))
    val formatIgnore = acrossDvDelete("format", "ignoreRemoves")
    assert(formatIgnore.left.exists(m =>
      m.contains("deletion vector") && m.contains("onRewrite=skipRewrites")),
      s"format: $formatIgnore")

    // a rename after the DV delete, in the same window: the DV commit's
    // file is read in its pre-rename era, into the renamed column, and
    // still through its DV
    val dir = freshDir()
    OccTable.init(Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v")
      .coalesce(1), dir)                                              // v0
    val ckpt = Files.createTempDirectory("graft_fstream_ck").toString
    def tailOnce(c: String): Seq[(Long, Long)] = {
      val got = ArrayBuffer.empty[(Long, Long)]
      OccStream.tailTo(spark, dir, ckpt,
        (df, _) => got.synchronized {
          got ++= df.select("id", c).as[(Long, Long)].collect() },
        onRewrite = "ignoreRemoves", trigger = Trigger.AvailableNow())
        .awaitTermination()
      got.sorted.toSeq
    }
    OccTable.renameColumn(spark, dir, "v", "reading")                 // v1
    assert(tailOnce("reading") === Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    OccTable.deleteRangeDv(spark, dir, "id", 2.0, 2.0)                // v2
    OccTable.renameColumn(spark, dir, "reading", "r")                 // v3
    assert(tailOnce("r") === Seq((1L, 10L), (3L, 30L)))
  }
}
