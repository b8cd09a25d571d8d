package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkSpec

/** Optimistic-concurrency table tests. The conflict cases are driven
  * DETERMINISTICALLY by nesting a commit inside another rewrite's
  * transform (the transform runs between snapshot-read and commit, so a
  * nested commit is exactly a concurrent writer winning the race) — no
  * sleeps, no flaky interleavings; a real multi-threaded smoke run
  * closes the suite.
  */
class OccTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft_occ").toString + "/t"

  private def table(dir: String) =
    OccTable.read(spark, dir)().select("id", "v").as[(Long, Long)]
      .collect().sortBy(_._1).toSeq

  test("init + append + rewrite: versions advance, snapshot is the folded log") {
    val dir = freshDir()
    val s0 = OccTable.init(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), dir)
    assert(s0.version === 0L)
    assert(table(dir) === Seq((1L, 10L), (2L, 20L)))

    assert(OccTable.append(Seq((3L, 30L)).toDF("id", "v"), dir) === 1L)
    assert(table(dir) === Seq((1L, 10L), (2L, 20L), (3L, 30L)))

    // rewrite replaces the snapshot's files wholesale
    assert(OccTable.rewrite(spark, dir,
      d => d.withColumn("v", col("v") * 2)) === 2L)
    assert(table(dir) === Seq((1L, 20L), (2L, 40L), (3L, 60L)))
    assert(OccTable.snapshot(spark, dir).version === 2L)

    // a second init on a live table must refuse
    assertThrows[IllegalArgumentException] {
      OccTable.init(Seq((9L, 9L)).toDF("id", "v"), dir)
    }
  }

  test("staged-but-uncommitted files are invisible; vacuum removes them and dead snapshot files") {
    val dir = freshDir()
    OccTable.init(Seq((1L, 10L)).toDF("id", "v"), dir)
    // a crashed writer's legacy: a data file referenced by no version
    Seq((99L, 99L)).toDF("id", "v").coalesce(1)
      .write.parquet(s"$dir/.crashed")
    val part = new java.io.File(s"$dir/.crashed").listFiles()
      .filter(_.getName.startsWith("part-")).head
    val orphan = new java.io.File(dir, "part-deadbeef-crashed.parquet")
    java.nio.file.Files.move(part.toPath, orphan.toPath)

    assert(table(dir) === Seq((1L, 10L))) // reader never lists it
    // rewrite makes the v0 file dead too; vacuum collects both
    OccTable.rewrite(spark, dir, d => d.withColumn("v", col("v") + 1))
    val removed = OccTable.vacuum(spark, dir)
    assert(removed.contains("part-deadbeef-crashed.parquet"))
    assert(removed.size >= 2) // orphan + at least the replaced v0 file
    assert(!orphan.exists())
    assert(table(dir) === Seq((1L, 11L))) // live snapshot untouched
  }

  test("retention-aware vacuum: time travel inside the window survives, below it fails by name, reclaim shrinks with retention") {
    def build(): String = {
      val d = freshDir()
      OccTable.init(Seq((1L, 10L)).toDF("id", "v"), d)                 // v0
      OccTable.rewrite(spark, d, x => x.withColumn("v", col("v") + 1)) // v1
      OccTable.rewrite(spark, d, x => x.withColumn("v", col("v") + 1)) // v2
      OccTable.rewrite(spark, d, x => x.withColumn("v", col("v") + 1)) // v3
      d
    }
    val dir = build()
    def at(v: Long) = OccTable.readAt(spark, dir, v)()
      .select("id", "v").as[(Long, Long)].collect().toSeq
    // reclaim shrinks with retention: an identically-built twin
    // vacuumed at retain-1 reclaims strictly more than retain-3 here
    val removed3 = OccTable.vacuum(spark, dir, retainVersions = 3L)
    val removedTwin1 = OccTable.vacuum(spark, build(), retainVersions = 1L)
    assert(removed3.nonEmpty && removedTwin1.size > removed3.size,
      s"retain-3 kept v1..v3's files: $removed3 vs twin $removedTwin1")
    assert(OccTable.vacuumedThrough(spark, dir) === 0L)
    // inside the window: v1..v3 still served byte-identically
    assert(at(1L) === Seq((1L, 11L)))
    assert(at(2L) === Seq((1L, 12L)))
    assert(at(3L) === Seq((1L, 13L)))
    // below the window: the NAMED refusal, at plan time
    val e = intercept[OccTable.VacuumedVersionException] { at(0L) }
    assert(e.version === 0L && e.vacuumedThrough === 0L)
    // a second, tighter vacuum shrinks the window further and the
    // marker moves monotonically
    val removed1 = OccTable.vacuum(spark, dir, retainVersions = 1L)
    assert(removed1.nonEmpty, "retain-1 then reclaims v1+v2's files")
    assert(OccTable.vacuumedThrough(spark, dir) === 2L)
    assert(intercept[OccTable.VacuumedVersionException] { at(1L) }
      .vacuumedThrough === 2L)
    assert(at(3L) === Seq((1L, 13L)))
    // a LONGER-retention vacuum later never re-promises reclaimed
    // history: marker stays at 2
    OccTable.vacuum(spark, dir, retainVersions = 100L)
    assert(OccTable.vacuumedThrough(spark, dir) === 2L)
    assertThrows[OccTable.VacuumedVersionException] { at(2L) }
  }

  test("partitionValues in the log: equality pruning never plans untouched partitions and composes with stats skipping") {
    val dir = freshDir()
    OccTable.init(
      Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L), (4L, "b", 40L),
        (5L, "c", 50L)).toDF("id", "k", "v"),
      dir, statsColumns = Seq("v"), partitionBy = Seq("k"))
    OccTable.append(Seq((6L, "a", 60L), (7L, "c", 70L)).toDF("id", "k", "v"),
      dir, statsColumns = Seq("v"), partitionBy = Seq("k"))
    val snap = OccTable.snapshot(spark, dir)
    // every live file records its partition value; layout stays FLAT
    assert(snap.files.forall(f => snap.pvs.get(f).exists(_.contains("k"))))
    assert(snap.files.forall(!_.contains("/")))
    // the pruning decision itself: only k=a files survive
    val keptA = OccTable.partitionPrunedFiles(snap, Seq("k" -> "a"))
    assert(keptA.nonEmpty && keptA.size < snap.files.size)
    assert(keptA.forall(f => snap.pvs(f)("k") == "a"))
    // planned scan ≡ plain filter; untouched partitions never planned
    val pruned = OccTable.readPartitionPruned(spark, dir, Seq("k" -> "a"))
    assert(pruned.select("id").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L, 6L))
    assert(pruned.inputFiles.nonEmpty &&
      pruned.inputFiles.forall(p => keptA.exists(p.endsWith)),
      s"planned ${pruned.inputFiles.toSeq} beyond kept $keptA")
    // partition equality composes with the X117 stats interval
    val both = OccTable.readPartitionPruned(spark, dir, Seq("k" -> "a"),
      Seq(("v", 55.0, 100.0)))
    assert(both.select("id").as[Long].collect().toSeq === Seq(6L))
    assert(both.inputFiles.length < pruned.inputFiles.length)
    // checkpoint re-emits pv lines byte-faithfully
    OccTable.checkpoint(spark, dir)
    OccTable.truncateLog(spark, dir)
    assert(OccTable.snapshot(spark, dir).pvs === snap.pvs)
    // a whole-table rewrite loses pv (unprunable, still correct)
    OccTable.rewrite(spark, dir, d => d.withColumn("v", col("v") + 1))
    val after = OccTable.snapshot(spark, dir)
    assert(after.pvs.isEmpty)
    assert(OccTable.readPartitionPruned(spark, dir, Seq("k" -> "a"))
      .select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 6L))
  }

  test("restore: a NEW commit returns the snapshot to a prior version; history above survives; stats and pv ride the re-add") {
    val dir = freshDir()
    OccTable.init(Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "k", "v"),
      dir, statsColumns = Seq("v"), partitionBy = Seq("k"))        // v0
    OccTable.append(Seq((3L, "a", 30L)).toDF("id", "k", "v"),
      dir, statsColumns = Seq("v"), partitionBy = Seq("k"))        // v1
    OccTable.rewrite(spark, dir,
      d => d.withColumn("v", -col("v")))                           // v2
    assert(OccTable.restore(spark, dir, 1L) === 3L)                // v3
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "v").as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(rows(OccTable.read(spark, dir)())
      === Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    // the rewrite's version is history, not erased by the restore
    assert(rows(OccTable.readAt(spark, dir, 2L)())
      === Seq((1L, -10L), (2L, -20L), (3L, -30L)))
    // stats and partition values rode the re-add: pruning works again
    val snap = OccTable.snapshot(spark, dir)
    assert(snap.files.forall(f => snap.pvs.get(f).exists(_.contains("k"))))
    assert(rows(OccTable.readPartitionPruned(spark, dir, Seq("k" -> "a")))
      === Seq((1L, 10L), (3L, 30L)))
    assert(rows(OccTable.readPruned(spark, dir, "v", 25.0, 100.0))
      === Seq((3L, 30L)))
    // a second restore to the same state is a no-op-shaped commit
    assert(OccTable.restore(spark, dir, 3L) === 3L)
    // below the vacuum marker the restore refuses by name
    OccTable.vacuum(spark, dir, retainVersions = 1L)
    assertThrows[OccTable.VacuumedVersionException] {
      OccTable.restore(spark, dir, 1L)
    }
  }

  test("tableChanges: change feed classifies added/removed/changed; files common to both versions never enter the plan") {
    val dir = freshDir()
    OccTable.init(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), dir)   // v0
    OccTable.append(Seq((3L, 30L)).toDF("id", "v"), dir)            // v1
    OccTable.append(Seq((4L, 40L)).toDF("id", "v"), dir)            // v2
    // append-only window: only v2's new file is churned
    val ch12 = OccTable.tableChanges(spark, dir, 1L, 2L,
      Seq("id"), Seq("v"))
    assert(ch12.select("id", "status").as[(Long, String)]
      .collect().toSeq === Seq((4L, "added")))
    val churn = OccTable.snapshotAt(spark, dir, 2L).files
      .filterNot(OccTable.snapshotAt(spark, dir, 1L).files.toSet)
    assert(ch12.inputFiles.nonEmpty &&
      ch12.inputFiles.forall(p => churn.exists(p.endsWith)),
      s"planned ${ch12.inputFiles.toSeq} beyond churned $churn")
    // a rewrite that drops id 2 and changes id 1: full classification
    OccTable.rewrite(spark, dir, d => d.filter(col("id") =!= 2L)
      .withColumn("v", when(col("id") === 1L, col("v") + 5)
        .otherwise(col("v"))))                                      // v3
    val ch03 = OccTable.tableChanges(spark, dir, 0L, 3L,
      Seq("id"), Seq("v"))
      .select("id", "status").as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    assert(ch03 === Seq((1L, "changed"), (2L, "removed"),
      (3L, "added"), (4L, "added")))
  }

  test("versionAsOf: wall-clock time travel maps commit mtimes to versions with Delta's two refusals") {
    val dir = freshDir()
    OccTable.init(Seq((1L, 10L)).toDF("id", "v"), dir)            // v0
    OccTable.append(Seq((2L, 20L)).toDF("id", "v"), dir)          // v1
    OccTable.append(Seq((3L, 30L)).toDF("id", "v"), dir)          // v2
    // pin commit times deterministically — no sleeps, no flakes
    def pin(v: Long, t: Long): Unit =
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(dir, "_graft_occ", f"v$v%020d"),
        java.nio.file.attribute.FileTime.fromMillis(t))
    pin(0L, 1000000L); pin(1L, 2000000L); pin(2L, 3000000L)
    assert(OccTable.versionAsOf(spark, dir, 1000000L) === 0L)
    assert(OccTable.versionAsOf(spark, dir, 1999999L) === 0L)
    assert(OccTable.versionAsOf(spark, dir, 2000000L) === 1L)
    assert(OccTable.versionAsOf(spark, dir, 2500000L) === 1L)
    assert(OccTable.versionAsOf(spark, dir, 3000000L) === 2L)
    // before the earliest commit / after the latest: loud, like Delta
    assertThrows[IllegalArgumentException] {
      OccTable.versionAsOf(spark, dir, 999999L)
    }
    assertThrows[IllegalArgumentException] {
      OccTable.versionAsOf(spark, dir, 3000001L)
    }
    assert(OccTable.readAsOf(spark, dir, 2500000L)()
      .select("id", "v").as[(Long, Long)].collect().sortBy(_._1).toSeq
      === Seq((1L, 10L), (2L, 20L)))
  }

  test("partitionValues: path-hostile values round-trip the staging escape and the log encoding") {
    val dir = freshDir()
    val weird = Seq("sp ace", "eq=sign", "semi;colon", "pct%20", "plus+x",
      "colon:slash/")
    val rows = weird.zipWithIndex.map { case (w, i) => (i.toLong, w) }
    OccTable.init(rows.toDF("id", "k"), dir, partitionBy = Seq("k"))
    val snap = OccTable.snapshot(spark, dir)
    val recorded = snap.pvs.values.map(_("k")).toSet
    assert(recorded === weird.toSet,
      s"recorded $recorded != written ${weird.toSet}")
    weird.foreach { w =>
      val got = OccTable.readPartitionPruned(spark, dir, Seq("k" -> w))
        .select("id").as[Long].collect().toSeq
      assert(got === Seq(rows.find(_._2 == w).get._1), s"value '$w'")
    }
  }

  test("racing rewrites serialize: the loser reruns its transform on the winner's snapshot") {
    val dir = freshDir()
    OccTable.init(Seq((1L, 10L)).toDF("id", "v"), dir)
    var outerRuns = 0
    OccTable.rewrite(spark, dir, d => {
      outerRuns += 1
      if (outerRuns == 1) {
        // a concurrent writer lands a FULL rewrite between our
        // snapshot read and our commit — our removes now clash
        OccTable.rewrite(spark, dir, inner =>
          inner.withColumn("v", col("v") * 2))
      }
      d.withColumn("v", col("v") + 1)
    })
    // both transforms applied, in commit order: (10 * 2) + 1 — the
    // loser's first attempt (+1 on the stale 10) never became visible
    assert(outerRuns === 2)
    assert(table(dir) === Seq((1L, 21L)))
    assert(OccTable.snapshot(spark, dir).version === 2L)
  }

  test("maxRetries = 0: the losing rewrite aborts with ConcurrentWriteException") {
    val dir = freshDir()
    OccTable.init(Seq((1L, 10L)).toDF("id", "v"), dir)
    var first = true
    assertThrows[OccTable.ConcurrentWriteException] {
      OccTable.rewrite(spark, dir, d => {
        if (first) {
          first = false
          OccTable.rewrite(spark, dir, inner =>
            inner.withColumn("v", col("v") * 2))
        }
        d.withColumn("v", col("v") + 1)
      }, maxRetries = 0)
    }
    assert(table(dir) === Seq((1L, 20L))) // only the winner's commit
  }

  test("append never conflicts with a racing rewrite (AddFile-only rule)") {
    val dir = freshDir()
    OccTable.init(Seq((1L, 10L)).toDF("id", "v"), dir)
    var appended = false
    OccTable.rewrite(spark, dir, d => {
      if (!appended) {
        appended = true
        // lands BETWEEN our snapshot read and our commit
        OccTable.append(Seq((2L, 20L)).toDF("id", "v"), dir)
      }
      d.withColumn("v", col("v") + 1)
    })
    // rewrite committed first-try (it removes only what it read; the
    // append removed nothing) and the appended row SURVIVES untransformed
    assert(table(dir) === Seq((1L, 11L), (2L, 20L)))
  }

  test("appendStream: a replayed batch id is fenced by LOG state and survives compaction") {
    val dir = freshDir()
    OccTable.init(Seq.empty[(Long, Long)].toDF("id", "v"), dir)
    OccTable.appendStream(Seq((1L, 10L)).toDF("id", "v"), dir, "app", 0L)
    OccTable.appendStream(Seq((2L, 20L)).toDF("id", "v"), dir, "app", 1L)
    // engine replay of batch 1, recomputed differently: fenced out
    OccTable.appendStream(Seq((99L, 99L)).toDF("id", "v"), dir, "app", 1L)
    assert(table(dir) === Seq((1L, 10L), (2L, 20L)))

    // compaction replaces every data FILE; the fence is log state, so
    // the replay stays fenced after it
    OccTable.rewrite(spark, dir, d => d.coalesce(1))
    OccTable.appendStream(Seq((98L, 98L)).toDF("id", "v"), dir, "app", 1L)
    assert(table(dir) === Seq((1L, 10L), (2L, 20L)))

    // a NEW batch id proceeds, and appIds fence independently
    OccTable.appendStream(Seq((3L, 30L)).toDF("id", "v"), dir, "app", 2L)
    OccTable.appendStream(Seq((4L, 40L)).toDF("id", "v"), dir, "other", 0L)
    assert(table(dir).map(_._1) === Seq(1L, 2L, 3L, 4L))
    assert(OccTable.snapshot(spark, dir).txns ===
      Map("app" -> 2L, "other" -> 0L))

    assertThrows[IllegalArgumentException] {
      OccTable.appendStream(Seq((5L, 5L)).toDF("id", "v"), dir, "bad app", 3L)
    }
  }

  test("time travel: readAt serves each historical version until vacuum reclaims it") {
    val dir = freshDir()
    OccTable.init(Seq((1L, 10L)).toDF("id", "v"), dir)                  // v0
    OccTable.append(Seq((2L, 20L)).toDF("id", "v"), dir)                // v1
    OccTable.rewrite(spark, dir, d => d.withColumn("v", col("v") * 2))  // v2
    def at(v: Long) = OccTable.readAt(spark, dir, v)()
      .select("id", "v").as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(at(0L) === Seq((1L, 10L)))
    assert(at(1L) === Seq((1L, 10L), (2L, 20L)))
    assert(at(2L) === Seq((1L, 20L), (2L, 40L)))
    // a checkpoint past a version must not poison reads BELOW it
    OccTable.checkpoint(spark, dir)
    assert(at(1L) === Seq((1L, 10L), (2L, 20L)))
    assertThrows[IllegalArgumentException] { OccTable.readAt(spark, dir, 9L)() }
    // vacuum reclaims history: v1's files are dead in the CURRENT view
    OccTable.vacuum(spark, dir)
    assertThrows[Exception] { at(1L) } // historical files gone — documented
    assert(at(2L) === Seq((1L, 20L), (2L, 40L))) // current still served
  }

  test("checkpoint: snapshot folds one file plus the tail; view and txn fences preserved") {
    val dir = freshDir()
    OccTable.init(Seq((1L, 10L)).toDF("id", "v"), dir)
    (2L to 5L).foreach(i => OccTable.appendStream(
      Seq((i, i * 10L)).toDF("id", "v"), dir, "app", i - 2))
    val before = table(dir)
    assert(OccTable.checkpoint(spark, dir) === 4L) // init + 4 appends
    assert(table(dir) === before)

    // the streaming fence came FROM the checkpoint, not the commits
    OccTable.appendStream(Seq((99L, 99L)).toDF("id", "v"), dir, "app", 3L)
    assert(table(dir) === before)
    assert(OccTable.snapshot(spark, dir).txns === Map("app" -> 3L))

    // commits continue past the checkpoint and fold as the tail
    OccTable.append(Seq((6L, 60L)).toDF("id", "v"), dir)
    assert(table(dir) === before :+ ((6L, 60L)))

    // re-checkpoint is idempotent-shaped: one generation survives
    assert(OccTable.checkpoint(spark, dir) === 5L)
    val chks = new java.io.File(s"$dir/_graft_occ").listFiles()
      .map(_.getName).filter(_.endsWith(".chk")).toSeq
    assert(chks === Seq("v" + "%020d".format(5L) + ".chk"))
    assert(table(dir) === before :+ ((6L, 60L)))
  }

  test("truncateLog: the view survives on checkpoint + tail; history below fails loudly; commits continue") {
    val dir = freshDir()
    OccTable.init(Seq((1L, 10L)).toDF("id", "v"), dir)              // v0
    OccTable.append(Seq((2L, 20L)).toDF("id", "v"), dir)            // v1
    OccTable.appendStream(Seq((3L, 30L)).toDF("id", "v"), dir, "app", 0L) // v2
    OccTable.checkpoint(spark, dir)                                 // chk@2
    val before = table(dir)

    val dropped = OccTable.truncateLog(spark, dir)
    assert(dropped === Seq(0L, 1L, 2L)) // everything the checkpoint absorbed
    assert(table(dir) === before)       // view reconstructed from chk alone
    assert(OccTable.snapshot(spark, dir).version === 2L)
    // the streaming fence rode the checkpoint through the truncation
    OccTable.appendStream(Seq((99L, 99L)).toDF("id", "v"), dir, "app", 0L)
    assert(table(dir) === before)

    // history below the checkpoint is no longer reconstructible
    assertThrows[IllegalArgumentException] { OccTable.readAt(spark, dir, 1L)() }
    // but the checkpointed version itself still serves
    assert(OccTable.readAt(spark, dir, 2L)().count() === 3)

    // commits continue past the truncated log at the right version
    assert(OccTable.append(Seq((4L, 40L)).toDF("id", "v"), dir) === 3L)
    assert(table(dir) === before :+ ((4L, 40L)))

    // a truncated log still refuses re-init
    assertThrows[IllegalArgumentException] {
      OccTable.init(Seq((9L, 9L)).toDF("id", "v"), dir)
    }
  }

  test("schema in the log: additive append evolves; time travel serves the pre-evolution shape") {
    val dir = freshDir()
    OccTable.init(Seq((1L, 10L)).toDF("id", "v"), dir)                 // v0
    assert(OccTable.snapshot(spark, dir).schema.map(_.fieldNames.toSeq)
      === Some(Seq("id", "v")))

    // additive: a new NULLABLE column evolves the log schema
    OccTable.append(Seq((2L, 20L)).toDF("id", "v")
      .withColumn("w", lit(7L)), dir)                     // v1
    assert(OccTable.snapshot(spark, dir).schema.map(_.fieldNames.toSeq)
      === Some(Seq("id", "v", "w")))
    // the added column is recorded NULLABLE in the log even though the
    // frame's literal was not — pre-evolution files cannot fill it
    assert(OccTable.snapshot(spark, dir).schema.get("w").nullable)
    // pre-evolution rows serve the added column as null (log-schema scan)
    val rows = OccTable.read(spark, dir)()
      .select("id", "v", "w").as[(Long, Long, Option[Long])]
      .collect().sortBy(_._1).toSeq
    assert(rows === Seq((1L, 10L, None), (2L, 20L, Some(7L))))
    // time travel serves the OLD shape at v0
    assert(OccTable.readAt(spark, dir, 0L)().columns.toSeq === Seq("id", "v"))

    // a column-SUBSET append is fine once the omitted column is nullable
    OccTable.append(Seq((3L, 30L)).toDF("id", "v"), dir)               // v2
    assert(OccTable.read(spark, dir)().filter(col("id") === 3L)
      .select("w").as[Option[Long]].collect().toSeq === Seq(None))

    // every commit under the schema-bearing log carries the hash stamp
    val logDir = new java.io.File(s"$dir/_graft_occ")
    val stamped = logDir.listFiles().filter(_.getName.matches("v\\d{20}"))
      .map(f => new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    assert(stamped.length === 3 &&
      stamped.forall(_.contains("schemaHash ")))
  }

  test("non-additive writes are refused at the commit boundary, before staging") {
    val dir = freshDir()
    OccTable.init(Seq((1L, 10L)).toDF("id", "v"), dir)
    val filesBefore = new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("part-"))

    // type change on a shared column
    assertThrows[OccTable.SchemaEvolutionException] {
      OccTable.append(Seq((2L, "x")).toDF("id", "v"), dir)
    }
    // omitting a NON-nullable log column
    assertThrows[OccTable.SchemaEvolutionException] {
      OccTable.append(Seq(Tuple1(3L)).toDF("id"), dir)
    }
    // the refusals staged nothing (no garbage for vacuum)
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("part-")) === filesBefore)
    assert(table(dir) === Seq((1L, 10L)))
    assert(OccTable.snapshot(spark, dir).version === 0L)
  }

  test("rewrite schema rules: additive ok; replacement needs overwriteSchema and serializes strictly") {
    val dir = freshDir()
    OccTable.init(Seq((1L, 10L)).toDF("id", "v"), dir)

    // default: replacing a column's type is refused
    assertThrows[OccTable.SchemaEvolutionException] {
      OccTable.rewrite(spark, dir,
        d => d.withColumn("v", col("v").cast("string")))
    }
    // explicit overwrite replaces the log schema
    OccTable.rewrite(spark, dir,
      d => d.withColumn("v", col("v").cast("string")),
      overwriteSchema = true)
    assert(OccTable.snapshot(spark, dir).schema.get("v").dataType
      === org.apache.spark.sql.types.StringType)

    // an overwrite racing ANY commit loses (strict serialization): a
    // nested plain append lands between read and commit
    var appended = false
    assertThrows[OccTable.ConcurrentWriteException] {
      OccTable.rewrite(spark, dir, d => {
        if (!appended) {
          appended = true
          OccTable.append(Seq(("2", 2L)).toDF("v", "id")
            .select(col("id"), col("v")), dir)
        }
        d.withColumn("v", col("v").cast("double"))
      }, maxRetries = 0, overwriteSchema = true)
    }
  }

  test("concurrent additive evolutions converge: the loser re-resolves against the union") {
    val dir = freshDir()
    OccTable.init(Seq((1L, 10L)).toDF("id", "v"), dir)
    var raced = false
    OccTable.rewrite(spark, dir, d => {
      if (!raced) {
        raced = true
        // a concurrent writer evolves FIRST (adds u)
        OccTable.append(Seq((2L, 20L)).toDF("id", "v")
          .withColumn("u", lit(1L)), dir)
      }
      d.withColumn("w", lit(2L))
    })
    // the rewrite's schema action conflicted, reran, and the union holds both
    assert(OccTable.snapshot(spark, dir).schema.map(_.fieldNames.toSet)
      === Some(Set("id", "v", "u", "w")))
    // a plain same-schema append NEVER conflicts with an evolution
    // (AddFile-only, no schema action of its own after the union exists)
    OccTable.append(Seq((3L, 30L)).toDF("id", "v"), dir)
    // init row + raced-evolution row + this append
    assert(OccTable.read(spark, dir)().count() === 3)
  }

  test("schema rides checkpoint + truncation; vacuum collects crashed staging dirs") {
    val dir = freshDir()
    OccTable.init(Seq((1L, 10L)).toDF("id", "v"), dir)
    OccTable.append(Seq((2L, 20L)).toDF("id", "v")
      .withColumn("w", lit(5L)), dir)
    OccTable.checkpoint(spark, dir)
    OccTable.truncateLog(spark, dir)
    // the evolved schema came through the checkpoint, not the commits
    assert(OccTable.snapshot(spark, dir).schema.map(_.fieldNames.toSeq)
      === Some(Seq("id", "v", "w")))
    assert(OccTable.read(spark, dir)().filter(col("id") === 1L)
      .select("w").as[Option[Long]].collect().toSeq === Seq(None))

    // a writer that died mid-stage: its staging dir is invisible and
    // vacuum reclaims it
    val crashed = new java.io.File(dir, ".occ-staging-deadcafe")
    crashed.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(crashed, "part-00000").toPath, Array[Byte](1, 2))
    assert(OccTable.read(spark, dir)().count() === 2)
    val removed = OccTable.vacuum(spark, dir)
    assert(removed.contains(".occ-staging-deadcafe"))
    assert(!crashed.exists())
    assert(OccTable.read(spark, dir)().count() === 2)
  }

  test("concurrent appends from many threads: every commit lands, versions are distinct") {
    val dir = freshDir()
    OccTable.init(Seq((0L, 0L)).toDF("id", "v"), dir)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val versions = Await.result(
      Future.sequence((1 to 4).map { t =>
        Future {
          (1 to 3).map { i =>
            val id = t * 10L + i
            OccTable.append(Seq((id, id)).toDF("id", "v"), dir)
          }
        }
      }), 120.seconds).flatten
    assert(versions.distinct.size === 12) // every claim unique
    assert(versions.max === 12L)          // contiguous through v12
    assert(table(dir).size === 13)        // init row + 12 appends
    assert(OccTable.snapshot(spark, dir).version === 12L)
  }

  test("stats in the log (X117): recorded per file, pruning skips files, result exact") {
    val dir = freshDir()
    // three value-disjoint single-file commits: [0,99], [100,199], [200,299]
    def slice(lo: Long): org.apache.spark.sql.DataFrame =
      (lo until lo + 100L).map(i => (i, i)).toDF("id", "v").coalesce(1)
    OccTable.init(slice(0L), dir, statsColumns = Seq("v"))
    OccTable.append(slice(100L), dir, statsColumns = Seq("v"))
    OccTable.append(slice(200L), dir, statsColumns = Seq("v"))
    val snap = OccTable.snapshot(spark, dir)
    assert(snap.files.size === 3)
    assert(snap.stats.keySet === snap.files.toSet) // every file has stats
    // pruning decision: [120, 180] must keep exactly the middle file
    val kept = OccTable.prunedFiles(snap, "v", 120.0, 180.0)
    assert(kept.size === 1)
    // result ≡ plain filter (residual keeps edge exactness)
    val pruned = OccTable.readPruned(spark, dir, "v", 120.0, 180.0)
      .select("id").as[Long].collect().sorted
    assert(pruned === (120L to 180L).toArray)
    // boundary intersection: [99, 100] touches two files
    assert(OccTable.prunedFiles(snap, "v", 99.0, 100.0).size === 2)
    // disjoint range prunes everything; read still answers (empty, typed)
    assert(OccTable.prunedFiles(snap, "v", 1000.0, 2000.0).isEmpty)
    assert(OccTable.readPruned(spark, dir, "v", 1000.0, 2000.0).count() === 0L)
  }

  test("stats ride checkpoint + truncation; stats-free and legacy files are never pruned") {
    val dir = freshDir()
    def slice(lo: Long): org.apache.spark.sql.DataFrame =
      (lo until lo + 50L).map(i => (i, i)).toDF("id", "v").coalesce(1)
    OccTable.init(slice(0L), dir, statsColumns = Seq("v"))
    OccTable.append(slice(50L), dir, statsColumns = Seq("v"))
    // a stats-FREE append (legacy writer): its file must never be pruned
    OccTable.append(slice(100L), dir)
    OccTable.checkpoint(spark, dir)
    OccTable.truncateLog(spark, dir)
    val snap = OccTable.snapshot(spark, dir) // folded from the checkpoint
    assert(snap.files.size === 3 && snap.stats.size === 2)
    // range inside the FIRST file: keeps file 1 (stats) + file 3 (no stats)
    val kept = OccTable.prunedFiles(snap, "v", 10.0, 20.0)
    assert(kept.size === 2)
    val got = OccTable.readPruned(spark, dir, "v", 10.0, 20.0)
      .select("id").as[Long].collect().sorted
    assert(got === (10L to 20L).toArray)
  }

  test("stats: all-NULL file pruned, rewrite refreshes stats, timestamps prune in micros") {
    val dir = freshDir()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(h: Int) = new java.sql.Timestamp(t0.getTime + h * 3600000L)
    val withTs = (0 until 48).map(h => (h.toLong, ts(h), h.toDouble))
      .toDF("id", "ts", "x").coalesce(1)
    OccTable.init(withTs.filter(col("id") < 24), dir,
      statsColumns = Seq("ts", "x"))
    OccTable.append(withTs.filter(col("id") >= 24), dir,
      statsColumns = Seq("ts", "x"))
    // an all-NULL x file: interval filters exclude nulls, so it prunes
    OccTable.append(Seq((99L, ts(100), null.asInstanceOf[java.lang.Double]))
      .toDF("id", "ts", "x").coalesce(1), dir, statsColumns = Seq("ts", "x"))
    val snap = OccTable.snapshot(spark, dir)
    assert(OccTable.prunedFiles(snap, "x", 0.0, 100.0).size === 2)
    // timestamp pruning in epoch micros: hours [24, 47] = second file only
    val loUs = (t0.getTime + 24 * 3600000L) * 1000.0
    val hiUs = (t0.getTime + 47 * 3600000L) * 1000.0
    assert(OccTable.prunedFiles(snap, "ts", loUs, hiUs).size === 1)
    assert(OccTable.readPruned(spark, dir, "ts", loUs, hiUs).count() === 24L)
    // rewrite with stats: the compacted files carry fresh stats
    OccTable.rewrite(spark, dir, d => d.filter(col("id") =!= 99L).coalesce(1),
      statsColumns = Seq("ts", "x"))
    val snap2 = OccTable.snapshot(spark, dir)
    assert(snap2.stats.keySet === snap2.files.toSet)
    assert(OccTable.readPruned(spark, dir, "x", 30.0, 40.0)
      .count() === 11L)
  }

  test("stats: a NaN-bearing file is never pruned — readPruned, merge and deleteRange match the full filter") {
    val dir = freshDir()
    OccTable.init(Seq((1L, 1.0), (2L, 5.0), (3L, Double.NaN))
      .toDF("id", "x").coalesce(1), dir, statsColumns = Seq("x"))
    val full = OccTable.read(spark, dir)().filter(col("x").between(0.5, 2.0))
    assert(full.count() === 1L)
    assert(OccTable.readPruned(spark, dir, "x", 0.5, 2.0).count() === 1L)
    // the column is untracked, and a NaN bound in an older log reads so
    val snap = OccTable.snapshot(spark, dir)
    assert(OccTable.statsFor(snap.stats(snap.files.head), "x") === None)
    assert(OccTable.statsFor("rows=3|x=1.0,NaN,0", "x") === None)
    // NaN = NaN in a Spark join: the NaN-keyed row's file is a candidate
    OccTable.merge(spark, dir, Seq((30L, Double.NaN)).toDF("id", "x"),
      Seq("x"), statsColumns = Seq("x"))
    assert(OccTable.read(spark, dir)().select("id").as[Long].collect()
      .sorted.toSeq === Seq(1L, 2L, 30L))
    // [0, 10] holds 1.0 and 5.0 but not NaN: the file is rewritten, not
    // dropped whole
    OccTable.deleteRange(spark, dir, "x", 0.0, 10.0)
    assert(OccTable.read(spark, dir)().select("id").as[Long].collect()
      .toSeq === Seq(30L))
  }

  test("readPrunedMulti: conjunction prunes on every column and filters exactly") {
    val dir = freshDir()
    // two files: (v in [0,99], w all 5) and (v in [100,199], w all 7)
    OccTable.init((0L until 100L).map(i => (i, i, 5L)).toDF("id", "v", "w")
      .coalesce(1), dir, statsColumns = Seq("v", "w"))
    OccTable.append((100L until 200L).map(i => (i, i, 7L)).toDF("id", "v", "w")
      .coalesce(1), dir, statsColumns = Seq("v", "w"))
    val snap = OccTable.snapshot(spark, dir)
    // v range spans both files, but w = 7 keeps only the second
    val kept = OccTable.prunedFiles(snap, "v", 50.0, 150.0)
    assert(kept.size === 2)
    val got = OccTable.readPrunedMulti(spark, dir,
      Seq(("v", 50.0, 150.0), ("w", 7.0, 7.0)))
      .select("id").as[Long].collect().sorted
    assert(got === (100L to 150L).toArray)
    // and the conjunction's FILE decision drops the w=5 file
    val keptBoth = OccTable.prunedFiles(
      snap.copy(files = kept), "w", 7.0, 7.0)
    assert(keptBoth.size === 1)
  }

  /** 1000 keys at version 1, key-clustered into 16 files with id stats. */
  private def cdcBase(dir: String) = {
    val big = spark.range(1000).select(col("id"), lit(1L).as("v"),
      concat(lit("r"), col("id")).as("tag"), col("id").cast("double").as("x"))
    OccTable.init(big.repartitionByRange(16, col("id")), dir,
      statsColumns = Seq("id"))
    big
  }

  private def cdcRows(dir: String) =
    OccTable.read(spark, dir)().select("id", "v", "tag", "x")
      .orderBy("id").collect().map(_.toSeq).toSeq

  test("merge: a CDC batch converges to latestWins, rewrites only touched files, and re-applies as a no-op") {
    val dir = freshDir()
    val big = cdcBase(dir)
    val before = OccTable.snapshot(spark, dir).files.toSet
    // one upserted key, one tombstoned key, one insert
    val updates = Seq(
      (7L, 2L, "seven2", 7.7, false),
      (8L, 2L, "gone", 0.0, true),
      (2000L, 2L, "new", 2.0, false)).toDF("id", "v", "tag", "x", "del")
    val r = OccTable.merge(spark, dir, updates, Seq("id"),
      deleteCol = Some("del"), statsColumns = Seq("id"))
    // 7 and 8 share one file; 2000 lies past every file's [min, max]
    assert(r.candidateFiles === 1 && r.totalFiles === 16, r)
    val after = OccTable.snapshot(spark, dir).files.toSet
    assert((before -- after).size === 1)
    val expected = graft.ops.Upsert.latestWins(
      big.withColumn("del", lit(false)), updates, Seq("id"), "v",
      deleteCol = Some("del"))
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(cdcRows(dir) === expected)
    // idempotent: the same batch again changes no row
    OccTable.merge(spark, dir, updates, Seq("id"), deleteCol = Some("del"),
      statsColumns = Seq("id"))
    assert(cdcRows(dir) === expected)
  }

  test("merge with an empty source commits no version and keeps every file") {
    val dir = freshDir()
    val big = cdcBase(dir)
    val snap = OccTable.snapshot(spark, dir)
    val rows = cdcRows(dir)
    val empty = big.filter(lit(false)).withColumn("del", lit(false))
    val nullable = spark.createDataFrame(java.util.List.of[Row](),
      StructType(empty.schema.map(_.copy(nullable = true))))
    Seq(empty, nullable).foreach { src =>
      val r = OccTable.merge(spark, dir, src, Seq("id"),
        deleteCol = Some("del"))
      assert(r.version === snap.version && r.candidateFiles === 0)
      val after = OccTable.snapshot(spark, dir)
      assert(after.version === snap.version && after.files === snap.files)
      assert(after.schemaJson === snap.schemaJson)
      assert(cdcRows(dir) === rows)
    }
  }

  test("merge inserts a source whose every key is NULL") {
    val dir = freshDir()
    OccTable.init(Seq((Option(1L), 1L)).toDF("id", "v"), dir)
    val r = OccTable.merge(spark, dir,
      Seq((Option.empty[Long], 2L)).toDF("id", "v"), Seq("id"))
    assert(r.version === 1L)
    assert(OccTable.read(spark, dir)().select("id", "v")
      .as[(Option[Long], Long)].collect().toSet ===
      Set((Some(1L), 1L), (None, 2L)))
  }

  test("merge: tombstoning every row of a file removes it, no resurrection; tombstoning the rest reads empty with its schema") {
    val dir = freshDir()
    OccTable.init(Seq((1L, 1L, "one"), (2L, 1L, "two")).toDF("id", "v", "tag")
      .coalesce(1), dir, statsColumns = Seq("id"))
    OccTable.append(Seq((3L, 1L, "three"), (4L, 1L, "four"))
      .toDF("id", "v", "tag").coalesce(1), dir, statsColumns = Seq("id"))
    val Seq(first, second) = OccTable.snapshot(spark, dir).files
    def tombstones(ids: Long*) =
      ids.map(i => (i, 2L, "gone", true)).toDF("id", "v", "tag", "del")
    OccTable.merge(spark, dir, tombstones(1L, 2L), Seq("id"),
      deleteCol = Some("del"))
    val snap = OccTable.snapshot(spark, dir)
    assert(!snap.files.contains(first) && snap.files.contains(second))
    assert(OccTable.read(spark, dir)().select("id").as[Long].collect()
      .sorted.toSeq === Seq(3L, 4L))
    OccTable.merge(spark, dir, tombstones(3L, 4L), Seq("id"),
      deleteCol = Some("del"))
    val gone = OccTable.read(spark, dir)()
    assert(gone.count() === 0L)
    assert(gone.columns.toSeq === Seq("id", "v", "tag"))
  }

  test("init of an empty frame reads back empty with its schema") {
    val dir = freshDir()
    val empty = Seq.empty[(Long, Long, String, Double)]
      .toDF("id", "v", "tag", "x")
    OccTable.init(empty, dir, statsColumns = Seq("id"))
    val back = OccTable.read(spark, dir)()
    assert(back.count() === 0L)
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      empty.schema.map(f => (f.name, f.dataType)))
  }

  test("mergeSink: a stream restarted on its checkpoint with the last batch replayed converges to latestWins of all changes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = freshDir()
    val ckpt = Files.createTempDirectory("graft_occ_msink_ckpt").toString
    val seed = Seq((1L, 0L, "one"), (2L, 0L, "two")).toDF("id", "ver", "tag")
    OccTable.init(seed, dir, statsColumns = Seq("id"))
    val sink = OccTable.mergeSink(dir, "cdc", Seq("id"),
      deleteCol = Some("del"), statsColumns = Seq("id"))
    val failOnce = new java.util.concurrent.atomic.AtomicInteger(0)
    val mem = MemoryStream[(Long, Long, String, Boolean)]
    def start() = mem.toDF().toDF("id", "ver", "tag", "del").writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        sink(batch, id)
        // the kill: batch 1 merged, its checkpoint commit never happens
        if (id == 1L && failOnce.getAndIncrement() == 0)
          throw new RuntimeException("injected post-merge crash")
      }
      .start()
    val changes = Seq(
      Seq((1L, 1L, "one-v1", false), (3L, 1L, "three", false)),
      Seq((2L, 2L, "gone", true), (1L, 2L, "one-v2", false)),
      Seq((4L, 3L, "four", false), (3L, 3L, "three-v3", false)))
    val q1 = start()
    mem.addData(changes(0): _*)
    q1.processAllAvailable()
    mem.addData(changes(1): _*)
    try q1.processAllAvailable() catch { case _: Throwable => () }
    assert(q1.exception.isDefined)
    q1.stop()
    val q2 = start() // same checkpoint: batch 1 replays under the same id
    try {
      mem.addData(changes(2): _*)
      q2.processAllAvailable()
    } finally q2.stop()
    // v0 init + three merges: the replayed batch committed nothing
    assert(OccTable.snapshot(spark, dir).version === 3L)
    val expected = graft.ops.Upsert.latestWins(
      seed.withColumn("del", lit(false)),
      changes.flatten.toDF("id", "ver", "tag", "del"), Seq("id"), "ver",
      deleteCol = Some("del"))
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(OccTable.read(spark, dir)().select("id", "ver", "tag")
      .orderBy("id").collect().map(_.toSeq).toSeq === expected)
  }

  test("readPruned on a y-clustered 64-file grid: a 5% range plans at most a quarter of the files and equals the full filter; unclustered x prunes nothing") {
    val dir = freshDir()
    // 40k rows over two independent uniform dims in [0, 200)
    val grid = spark.range(40000).select(
      (col("id") % 200).as("x"),
      ((col("id") * 2654435761L % 40000) / 200).cast("long").as("y"),
      col("id").as("payload"))
    OccTable.init(grid.repartitionByRange(64, col("y"))
      .sortWithinPartitions("y"), dir, statsColumns = Seq("y", "x"))
    val total = OccTable.snapshot(spark, dir).files.size
    assert(total === 64, s"live files: $total")
    val yPruned = OccTable.readPruned(spark, dir, "y", 0.0, 9.0)
    assert(yPruned.inputFiles.nonEmpty &&
      yPruned.inputFiles.length <= total / 4,
      s"y-range plans ${yPruned.inputFiles.length} of $total")
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)), sum("payload")).collect().toSeq
    assert(agg(yPruned) ===
      agg(OccTable.read(spark, dir)().filter(col("y").between(0, 9))))
    // x is uniform within every file: stats exclude nothing
    assert(OccTable.readPruned(spark, dir, "x", 0.0, 9.0)
      .inputFiles.length === total)
    // out-of-range: nothing planned, empty frame, the table's columns
    val none = OccTable.readPruned(spark, dir, "y", 10000.0, 20000.0)
    assert(none.count() === 0L)
    assert(none.columns.toSeq === Seq("x", "y", "payload"))
  }

  test("detail: size_bytes equals the live files' on-disk lengths through append, DV delete, optimize and clone") {
    val dir = freshDir()
    def onDisk(d: String): Long = {
      val fsys = new org.apache.hadoop.fs.Path(d)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      OccTable.snapshot(spark, d).files.map(f =>
        fsys.getFileStatus(new org.apache.hadoop.fs.Path(
          OccTable.resolvePath(d, f))).getLen).sum
    }
    def sizeBytes(d: String): Long =
      OccTable.detail(spark, d).select("size_bytes").as[Long].head()
    OccTable.init((0L until 20L).map(i => (i, i * 10)).toDF("id", "v")
      .coalesce(2), dir, statsColumns = Seq("id"))
    OccTable.append((20L until 30L).map(i => (i, i * 10)).toDF("id", "v")
      .coalesce(1), dir, statsColumns = Seq("id"))
    assert(sizeBytes(dir) === onDisk(dir))
    OccTable.deleteRangeDv(spark, dir, "id", 0.0, 4.0)
    assert(sizeBytes(dir) === onDisk(dir))
    OccTable.optimize(spark, dir)
    assert(OccTable.snapshot(spark, dir).files.size === 1)
    assert(sizeBytes(dir) === onDisk(dir))
    val fork = freshDir()
    OccTable.clone(spark, dir, fork)
    assert(sizeBytes(fork) === onDisk(fork) && onDisk(fork) === onDisk(dir))
    assert(onDisk(dir) > 0L)
  }
}
