package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.SparkSpec

/** X142 `graft-occ` connector: `spark.read.format("graft-occ")` serves
  * the current snapshot through a log-backed FileIndex, so an ad-hoc
  * `WHERE` file-skips AUTOMATICALLY with exactly the
  * [[OccTable.pruneFileSet]] survival decision the verb API uses. One
  * lane, DataSource V2 (Spark's ParquetScanBuilder — filter pushdown +
  * column pruning — over the index); a DV-carrying snapshot is served
  * by [[OccDvRewrite]] (the session's extensions) as a file scan over
  * the same index anti-joined with its DV sidecars, under any column
  * mapping. Streaming over DVs refuses loudly; versionAsOf/timestampAsOf
  * time-travel.
  */
class OccDataSourceSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft_dsv").toString + "/t"

  /** Four single-file commits of ids 0–39 with id stats + key blooms. */
  private def buildSliced(dir: String): Unit = {
    val blooms = Seq(OccBloom.BloomCol("key", numItems = 100L))
    def slice(r: Range) =
      r.map(i => (i.toLong, s"k$i", i * 1.5)).toDF("id", "key", "v")
        .coalesce(1)
    OccTable.init(slice(0 until 10), dir, statsColumns = Seq("id"),
      bloomColumns = blooms)
    Seq(10 until 20, 20 until 30, 30 until 40).foreach(r =>
      OccTable.append(slice(r), dir, statsColumns = Seq("id"),
        bloomColumns = blooms))
  }

  private def executed(df: DataFrame) = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
  }

  /** The V2 parquet scan of the executed plan. */
  private def v2ScanOf(df: DataFrame): ParquetScan =
    executed(df).collectLeaves().collectFirst {
      case b: BatchScanExec => b.scan.asInstanceOf[ParquetScan]
    }.getOrElse(fail("no BatchScanExec(ParquetScan) in the plan"))

  private def indexOf(scan: ParquetScan): OccFileIndex =
    scan.fileIndex.asInstanceOf[OccFileIndex]

  /** The file scan [[OccDvRewrite]] plans for a DV-carrying snapshot
    * (the anti-join may put it inside an adaptive query stage).
    */
  private def dvScanOf(df: DataFrame): FileSourceScanExec =
    collect(executed(df)) {
      case f: FileSourceScanExec
          if f.relation.location.isInstanceOf[OccFileIndex] => f
    }.headOption
      .getOrElse(fail("no FileSourceScanExec over OccFileIndex in the plan"))

  test("V2 load() serves the snapshot; a pushed range prunes the verb's file set") {
    val dir = freshDir()
    buildSliced(dir)
    val t = spark.read.format("graft-occ").load(dir)
    assert(t.count() === 40L)
    val q = t.filter(col("id") >= 10L && col("id") <= 19L)
    assert(q.select("id").as[Long].collect().sorted.toSeq ===
      (10L to 19L))
    val scan = v2ScanOf(q)
    val snap = OccTable.snapshot(spark, dir)
    val expected = OccTable.pruneFileSet(spark, dir, snap, Seq.empty,
      Seq(("id", 10.0, 19.0)), Seq.empty)
    assert(expected.size === 1 && snap.files.size === 4)
    assert(indexOf(scan).lastKept.toSet === expected.toSet,
      "the connector must skip exactly the files the verb API skips")
    // parquet pushdown + column pruning survive the V2 builder
    assert(scan.pushedFilters.mkString(",")
      .contains("GreaterThanOrEqual(id,10)"))
    val slim = t.filter(col("id") === 5L).select("key")
    val slimScan = v2ScanOf(slim)
    assert(slimScan.readDataSchema.fieldNames.toSet === Set("id", "key"))
  }

  test("useV1SourceList naming graft-occ fails loudly at load(): no second lane") {
    val dir = freshDir()
    buildSliced(dir)
    val key = "spark.sql.sources.useV1SourceList"
    val prev = spark.conf.get(key)
    spark.conf.set(key, prev + ",graft-occ")
    try {
      val e = intercept[Exception] {
        spark.read.format("graft-occ").load(dir)
      }
      assert(e.getMessage.contains("graft-occ"),
        s"the refusal must name the source: ${e.getMessage}")
    } finally spark.conf.set(key, prev)
    // the default lane is untouched by the failed attempt
    assert(spark.read.format("graft-occ").load(dir).count() === 40L)
  }

  test("a pushed equality probes the bloom sidecars like the verb does") {
    val dir = freshDir()
    buildSliced(dir)
    val t = spark.read.format("graft-occ").load(dir)
    val q = t.filter(col("key") === "k25")
    assert(q.select("id").as[Long].collect().toSeq === Seq(25L))
    val snap = OccTable.snapshot(spark, dir)
    val expected = OccTable.pruneFileSet(spark, dir, snap,
      Seq(("key", "k25")), Seq.empty, Seq(("key", Seq("k25"))))
    assert(indexOf(v2ScanOf(q)).lastKept.toSet === expected.toSet)
    assert(expected.size < snap.files.size,
      "the bloom must actually skip non-holding files")
  }

  test("IN-list and date/timestamp bounds translate; untranslatable filters only widen") {
    val dir = freshDir()
    OccTable.init((0 until 20).map(i =>
        (i.toLong, ts(f"2024-01-${i / 2 + 1}%02d 00:00:00")))
      .toDF("id", "t").coalesce(1), dir, statsColumns = Seq("id", "t"))
    OccTable.append((20 until 40).map(i =>
        (i.toLong, ts(f"2024-02-${i % 28 + 1}%02d 00:00:00")))
      .toDF("id", "t").coalesce(1), dir,
      statsColumns = Seq("id", "t"))
    val t = spark.read.format("graft-occ").load(dir)
    val inQ = t.filter(col("id").isin(3L, 7L))
    assert(inQ.count() === 2L)
    assert(indexOf(v2ScanOf(inQ)).lastKept.size === 1,
      "IN-list min/max must stats-prune")
    val tsQ = t.filter(col("t") >= lit(ts("2024-02-01 00:00:00")))
    assert(tsQ.count() === 20L)
    assert(indexOf(v2ScanOf(tsQ)).lastKept.size === 1,
      "timestamp bound must stats-prune")
    // an untranslatable predicate widens to all files but stays exact
    val odd = t.filter(col("id") % 2 === 1L)
    assert(odd.count() === 20L)
  }

  test("versionAsOf / timestampAsOf time-travel the relation") {
    val dir = freshDir()
    OccTable.init(Seq((1L, "a")).toDF("id", "s").coalesce(1), dir) // v0
    OccTable.append(Seq((2L, "b")).toDF("id", "s").coalesce(1), dir) // v1
    val fsys = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(0L -> 1000L, 1L -> 2000L).foreach { case (v, t) =>
      fsys.setTimes(new org.apache.hadoop.fs.Path(
        s"$dir/_graft_occ/v${"%020d".format(v)}"), t, t) }
    assert(spark.read.format("graft-occ").load(dir).count() === 2L)
    assert(spark.read.format("graft-occ").option("versionAsOf", "0")
      .load(dir).count() === 1L)
    assert(spark.read.format("graft-occ").option("timestampAsOf", "1500")
      .load(dir).count() === 1L)
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft-occ").option("versionAsOf", "0")
        .option("timestampAsOf", "1500").load(dir).collect()
    }
    assert(e.getMessage.contains("mutually exclusive"))
  }

  test("date stats and date bounds are ZONE-INDEPENDENT end to end") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference,
      GreaterThanOrEqual, Literal}
    import org.apache.spark.sql.types.DateType
    // reader side: the bound is fixed epoch-days arithmetic — no
    // session zone input, so a writer/reader zone mismatch can never
    // shift it and falsely prune
    val d = AttributeReference("d", DateType)()
    val f = Seq(GreaterThanOrEqual(d, Literal(20000, DateType)))
    val (_, b, _) = OccFilterTranslation.translate(f)
    assert(b === Seq(("d", 20000L * 86400.0, Double.PositiveInfinity)))
    // writer side: the recorded stat is the same arithmetic even when
    // the WRITING session's zone is not UTC (the pre-fix projection,
    // cast(date as timestamp), would have recorded local midnight)
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    val dir = freshDir()
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      OccTable.init(Seq(
          (1L, java.sql.Date.valueOf("2024-09-18")), // epoch day 19984
          (2L, java.sql.Date.valueOf("2024-09-20")))
        .toDF("id", "day").coalesce(1), dir, statsColumns = Seq("day"))
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
    // read back under UTC: the pushed day-range must still keep (not
    // falsely prune) the file and serve both rows
    val q = spark.read.format("graft-occ").load(dir)
      .filter(col("day") >= lit(java.sql.Date.valueOf("2024-09-18")))
    assert(q.count() === 2L)
    val snap = OccTable.snapshot(spark, dir)
    val stats = snap.stats(snap.files.head)
    val (mn, mx) = OccTable.statsFor(stats, "day").get
    assert(mn.get === 19984L * 86400.0 && mx.get === 19986L * 86400.0,
      "date stats must record epoch-days arithmetic regardless of the " +
        "writing session's zone")
  }

  test("DV-carrying snapshots refuse loudly on the V2 path") {
    val dir = freshDir()
    OccTable.init((0 until 10).map(i => (i.toLong, s"k$i"))
      .toDF("id", "key").coalesce(1), dir, statsColumns = Seq("id"))
    OccTable.deleteRangeDv(spark, dir, "id", 0.0, 2.0)
    // streaming stays on the V2 scan, which cannot apply DVs
    val sq = spark.readStream.format("graft-occ").load(dir)
      .writeStream.format("memory").queryName("occ_dv_refuse").start()
    val e1 = try intercept[StreamingQueryException] {
      sq.processAllAvailable()
    } finally sq.stop()
    assert(e1.getCause.getMessage.contains("deletion vectors"))
    // a scan builder reached without the analysis rule refuses and
    // names the extension that serves DVs
    val (d, snap, st) = OccDataSource.resolve(spark, Map("path" -> dir))
    val e2 = intercept[IllegalArgumentException] {
      new OccV2Table(spark, d, snap, st)
        .newScanBuilder(CaseInsensitiveStringMap.empty())
    }
    assert(e2.getMessage.contains("deletion vectors") &&
      e2.getMessage.contains("GraftExtensions"),
      "the refusal must point at the rule that serves DVs")
  }

  test("X151: a DV-carrying table serves through the default lane — DVs applied, pruning intact") {
    val dir = freshDir()
    buildSliced(dir) // 4 files (ids 0-9 / 10-19 / 20-29 / 30-39)
    OccTable.deleteRangeDv(spark, dir, "id", 5.0, 14.0)
    val t = spark.read.format("graft-occ").load(dir)
    // hash-equal to the verb read: deleted positions never surface
    assert(t.as[(Long, String, Double)].collect().toSet ===
      OccTable.read(spark, dir)()
        .as[(Long, String, Double)].collect().toSet)
    assert(t.select("id").as[Long].collect().sorted.toSeq ===
      ((0L to 4L) ++ (15L to 39L)))
    // a pushed range crosses the DV anti-join into the file scan
    val q = t.filter(col("id") >= 10L && col("id") <= 19L)
    assert(q.select("id").as[Long].collect().sorted.toSeq ===
      (15L to 19L))
    val scan = dvScanOf(q)
    val snap = OccTable.snapshot(spark, dir)
    val expected = OccTable.pruneFileSet(spark, dir, snap, Seq.empty,
      Seq(("id", 10.0, 19.0)), Seq.empty)
    assert(expected.size === 1 && snap.files.size === 4)
    assert(scan.relation.location.asInstanceOf[OccFileIndex]
      .lastKept.toSet === expected.toSet,
      "the DV lane must skip exactly the files the verb API skips")
    assert(scan.metadata("PushedFilters")
      .contains("GreaterThanOrEqual(id,10)"))
    // the sidecar anti-join keys on the scan's file identity
    assert(executed(q).toString.contains("file_name"))
  }

  test("X149: a column-mapped table SERVES through V2 — logical names out, physical pruning in") {
    val dir = freshDir()
    buildSliced(dir) // 4 files, id stats + key blooms, ids 0–39
    OccTable.renameColumn(spark, dir, "id", "ident")
    OccTable.renameColumn(spark, dir, "key", "name")
    // a post-rename append stages under the (unchanged) physical names
    OccTable.append(Seq((100L, "k100", 1.0)).toDF("ident", "name", "v")
      .coalesce(1), dir, statsColumns = Seq("ident"))
    val t = spark.read.format("graft-occ").load(dir)
    assert(t.columns.toSeq === Seq("ident", "name", "v"),
      "the relation must surface LOGICAL names")
    // result parity with the verb API, logical space end to end
    assert(t.select("ident").as[Long].collect().sorted.toSeq ===
      ((0L until 40L) :+ 100L))
    // a pushed range on the RENAMED column prunes the IDENTICAL file
    // set pruneFileSet does (stats are keyed by write-time physical)
    val q = t.filter(col("ident") >= 10L && col("ident") <= 19L)
    assert(q.select("ident").as[Long].collect().sorted.toSeq ===
      (10L to 19L))
    val snap = OccTable.snapshot(spark, dir)
    val expectedStats = OccTable.pruneFileSet(spark, dir, snap,
      Seq.empty, Seq(("ident", 10.0, 19.0)), Seq.empty)
    assert(expectedStats.size === 1 && snap.files.size === 5)
    assert(indexOf(v2ScanOf(q)).lastKept.toSet === expectedStats.toSet,
      "a pushed filter on a RENAMED column must prune the identical " +
        "file set the verb API prunes")
    // parquet row-group pushdown speaks PHYSICAL names (the bytes')
    assert(v2ScanOf(q).pushedFilters.mkString(",")
      .contains("GreaterThanOrEqual(id,10)"))
    // bloom pruning on the renamed string column
    val kq = t.filter(col("name") === "k25")
    assert(kq.select("ident").as[Long].collect().toSeq === Seq(25L))
    val expBloom = OccTable.pruneFileSet(spark, dir, snap,
      Seq(("name", "k25")), Seq.empty, Seq(("name", Seq("k25"))))
    assert(indexOf(v2ScanOf(kq)).lastKept.toSet === expBloom.toSet)
    assert(expBloom.size < snap.files.size)
    // column pruning reaches the scan in physical space
    val slim = t.filter(col("ident") === 5L).select("name")
    assert(v2ScanOf(slim).readDataSchema.fieldNames.toSet ===
      Set("id", "key"))
    assert(slim.as[String].collect().toSeq === Seq("k5"))
  }

  test("X149 × X151: a renamed, DV-deleted table reads by format name — verb parity, pruning intact") {
    val dir = freshDir()
    buildSliced(dir) // 4 files, id stats + key blooms, ids 0–39
    OccTable.renameColumn(spark, dir, "id", "ident")
    OccTable.deleteRangeDv(spark, dir, "ident", 5.0, 14.0)
    val t = spark.read.format("graft-occ").load(dir)
    assert(t.columns.toSeq === Seq("ident", "key", "v"),
      "the relation must surface LOGICAL names")
    assert(t.as[(Long, String, Double)].collect().toSet ===
      OccTable.read(spark, dir)()
        .as[(Long, String, Double)].collect().toSet)
    assert(t.select("ident").as[Long].collect().sorted.toSeq ===
      ((0L to 4L) ++ (15L to 39L)))
    // a pushed range on the RENAMED column reaches the file scan in
    // physical space and prunes the verb's file set
    val q = t.filter(col("ident") >= 10L && col("ident") <= 19L)
    assert(q.select("ident").as[Long].collect().sorted.toSeq ===
      (15L to 19L))
    val snap = OccTable.snapshot(spark, dir)
    val expected = OccTable.pruneFileSet(spark, dir, snap, Seq.empty,
      Seq(("ident", 10.0, 19.0)), Seq.empty)
    assert(expected.size === 1 && snap.files.size === 4)
    val scan = dvScanOf(q)
    assert(scan.relation.location.asInstanceOf[OccFileIndex]
      .lastKept.toSet === expected.toSet)
    assert(scan.metadata("PushedFilters")
      .contains("GreaterThanOrEqual(id,10)"))
  }

  test("X149: rename-back and colmapclear windows still serve exact bytes") {
    val dir = freshDir()
    buildSliced(dir)
    OccTable.renameColumn(spark, dir, "key", "name")
    OccTable.renameColumn(spark, dir, "name", "key") // identity again
    val t = spark.read.format("graft-occ").load(dir)
    assert(t.columns.toSeq === Seq("id", "key", "v"))
    assert(t.filter(col("key") === "k7").select("id").as[Long]
      .collect().toSeq === Seq(7L))
  }
}
