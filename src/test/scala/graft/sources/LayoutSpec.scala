package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Layout rewrites: z-order clustering (multi-dim row-group pruning as a
  * MEASURED number, not a doc claim), small-file compaction (lossless by
  * checksum, re-clustered by construction), and the scan-metrics helper
  * they are graded with.
  */
class LayoutSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** 40k rows over two independent uniform dims: x in [0,200), y in
    * [0,200), deterministically scrambled so neither dim is correlated
    * with row order. The shape where one-column sorting cannot help the
    * other column's predicates.
    */
  private def grid: DataFrame = {
    import spark.implicits._
    spark.range(40000)
      .select(
        (col("id") % 200).as("x"),
        ((col("id") * 2654435761L % 40000) / 200).cast("long").as("y"),
        col("id").as("payload"))
  }

  test("additive schema evolution: mergeSchema read unions generations; schemaGenerations audits them") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_evo").toString + "/t"
    // generation 1: (id, v); generation 2 adds tag
    Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")
      .repartition(1).write.mode("overwrite").parquet(dir)
    Seq((3L, 30.0, "a"), (4L, 40.0, "b")).toDF("id", "v", "tag")
      .repartition(1).write.mode("append").parquet(dir)

    val merged = Layout.readEvolved(spark, dir)
    assert(merged.columns.toSet === Set("id", "v", "tag"),
      merged.columns.mkString(","))
    val rows = merged.orderBy("id").collect()
    assert(rows.length === 4)
    // generation-1 rows read NULL in the added column; gen-2 keep values
    assert(rows.take(2).forall(_.isNullAt(rows.head.fieldIndex("tag"))))
    assert(rows.drop(2).map(_.getAs[String]("tag")).toSeq === Seq("a", "b"))

    // the audit sees exactly two schema generations, 2 vs 3 columns
    val gens = Layout.schemaGenerations(spark, dir).collect()
    assert(gens.length === 2)
    assert(gens.map(_.getAs[String]("schema_hash")).distinct.length === 2)
    assert(gens.map(_.getAs[Int]("n_cols")).sorted.toSeq === Seq(2, 3))

    // the fingerprint moves on rename, retype, and reorder — the three
    // changes that are NOT additive and need a rewrite, not mergeSchema
    val base = Seq((1L, "x")).toDF("id", "s").schema
    assert(Layout.schemaHash(base) !==
      Layout.schemaHash(Seq((1L, "x")).toDF("id2", "s").schema))
    assert(Layout.schemaHash(base) !==
      Layout.schemaHash(Seq((1, "x")).toDF("id", "s").schema))
    assert(Layout.schemaHash(base) !==
      Layout.schemaHash(Seq(("x", 1L)).toDF("s", "id").schema))
    assert(Layout.schemaHash(base) ===
      Layout.schemaHash(Seq((9L, "y")).toDF("id", "s").schema))
  }

  test("z-ordered layout prunes row groups on BOTH dims; single-sort only on its own") {
    val zDir = Files.createTempDirectory("graft_z").toString + "/z"
    val sDir = Files.createTempDirectory("graft_z").toString + "/s"
    Layout.writeZOrdered(grid, Seq("x", "y"), zDir, nFiles = 64)
    Layout.writeSorted(grid, "y", sDir, nFiles = 64)

    val total = 40000L
    def xQuery(path: String) =
      Layout.read(spark, path).filter(col("x").between(0, 9))
    def yQuery(path: String) =
      Layout.read(spark, path).filter(col("y").between(0, 9))

    // identical answers regardless of layout (the rewrite is lossless)
    assert(xQuery(zDir).agg(count(lit(1)), sum("payload")).collect().toSeq ===
      xQuery(sDir).agg(count(lit(1)), sum("payload")).collect().toSeq)

    // the y-sorted layout prunes y-predicates hard...
    val sortedY = Layout.rowsScanned(yQuery(sDir))
    assert(sortedY < total / 4, s"sorted layout, y predicate: $sortedY")
    // ...but reads essentially the whole table for an x predicate (x is
    // uniform within every file, so no file's stats exclude the range)
    val sortedX = Layout.rowsScanned(xQuery(sDir))
    assert(sortedX > (total * 9) / 10, s"sorted layout, x predicate: $sortedX")

    // the z-ordered layout prunes BOTH: each dim's 5% range reads a
    // bounded fraction, far below the full table the sorted layout pays
    val zX = Layout.rowsScanned(xQuery(zDir))
    val zY = Layout.rowsScanned(yQuery(zDir))
    assert(zX < total / 2, s"z layout, x predicate: $zX")
    assert(zY < total / 2, s"z layout, y predicate: $zY")
    assert(zX < sortedX / 2, s"z $zX vs sorted $sortedX on the unsorted dim")

    // conjunctive 2-dim predicate: at least as selective as either dim
    val zBoth = Layout.rowsScanned(
      Layout.read(spark, zDir)
        .filter(col("x").between(0, 9) && col("y").between(0, 9)))
    assert(zBoth <= math.min(zX, zY), s"z both-dims: $zBoth")
  }

  test("rowsScanned with no predicate delivers the whole table") {
    val dir = Files.createTempDirectory("graft_z").toString + "/full"
    Layout.writeZOrdered(grid, Seq("x", "y"), dir, nFiles = 8)
    assert(Layout.rowsScanned(Layout.read(spark, dir)) === 40000L)
  }

  test("interleaveBits is monotone in each coordinate with the other fixed") {
    import spark.implicits._
    val df = Seq((1L, 5L), (2L, 5L), (9L, 5L), (9L, 6L), (9L, 40L))
      .toDF("a", "b")
      .withColumn("z", Layout.interleaveBits(Seq(col("a"), col("b")), 16))
    val z = df.orderBy("a", "b").select("z").collect().map(_.getLong(0))
    assert(z(0) < z(1) && z(1) < z(2), z.toSeq) // a rises, b fixed
    assert(z(2) < z(3) && z(3) < z(4), z.toSeq) // b rises, a fixed
  }

  test("writeZOrdered rejects degenerate configs; empty input writes an empty layout") {
    val dir = Files.createTempDirectory("graft_z").toString + "/e"
    intercept[IllegalArgumentException] {
      Layout.writeZOrdered(grid, Seq("x"), dir, nFiles = 4)
    }
    intercept[IllegalArgumentException] {
      Layout.writeZOrdered(grid, Seq("x", "y"), dir, nFiles = 4, bits = 40)
    }
    Layout.writeZOrdered(grid.filter(lit(false)), Seq("x", "y"), dir, 4)
    assert(Layout.read(spark, dir).count() === 0L)
    // an ENTIRELY-null non-lead clustering column has no curve
    // coordinate: degrade to a plain rewrite, never NPE mid-write
    val nullY = grid.withColumn("y", lit(null).cast("long"))
    val dir2 = Files.createTempDirectory("graft_z").toString + "/nully"
    Layout.writeZOrdered(nullY, Seq("x", "y"), dir2, 4)
    assert(Layout.read(spark, dir2).count() === 40000L)
  }

  test("bloom-filter sidecars prune point lookups on a column the sort cannot help") {
    val plain = Files.createTempDirectory("graft_b").toString + "/plain"
    val bloom = Files.createTempDirectory("graft_b").toString + "/bloom"
    // sorted by y, so payload (the original id) is scrambled across
    // files: min/max stats cover ~the full range in every file
    Layout.writeSorted(grid, "y", plain, nFiles = 64)
    Layout.writeSorted(grid, "y", bloom, nFiles = 64,
      bloomCols = Seq("payload"))

    def lookup(path: String) =
      Layout.read(spark, path).filter(col("payload") === 12345L)
    assert(lookup(plain).count() === 1L)
    assert(lookup(bloom).count() === 1L)

    val without = Layout.rowsScanned(lookup(plain))
    val with_ = Layout.rowsScanned(lookup(bloom))
    // min/max can't exclude a scrambled column: ~full scan without the
    // filter; the bloom says "definitely absent" for almost every group
    assert(without > 35000L, s"plain layout scanned $without")
    assert(with_ < 5000L, s"bloom layout scanned $with_")
  }

  test("scanDays prunes to exactly the requested day partitions at planning time") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val dir = Files.createTempDirectory("graft_days").toString + "/lake"
    Layout.writeByDay(Tables.events(spark, sfDir), "ts", dir)
    val nDays = Layout.partDirs(spark, dir).size
    val q = Layout.scanDays(spark, dir, "2024-01-08", "2024-01-14")
    val scan = q.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }.head
    assert(scan.metadata("PartitionFilters").contains("day"),
      scan.metadata("PartitionFilters"))
    assert(scan.selectedPartitions.partitionCount === 7,
      s"selected ${scan.selectedPartitions.partitionCount} of $nDays days")
    // pruning is invisible in the result: equals a row-level date filter
    assert(q.count() ===
      Tables.events(spark, sfDir)
        .filter(to_date(col("ts")).between("2024-01-08", "2024-01-14"))
        .count())
  }

  test("dynamic partition pruning: a dim-driven day join scans only the dim's partitions") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val dir = Files.createTempDirectory("graft_dpp").toString + "/lake"
    Layout.writeByDay(Tables.events(spark, sfDir), "ts", dir)
    val nDays = Layout.partDirs(spark, dir).size
    // file-backed dim (severed lineage): one week of interesting days,
    // known to the engine only at RUNTIME through the join
    val dimPath = Files.createTempDirectory("graft_dpp").toString + "/dim"
    spark.range(8, 15)
      .select(to_date(concat(lit("2024-01-"),
        lpad(col("id").cast("string"), 2, "0"))).as("day"),
        lit("wanted").as("tag"))
      .write.parquet(dimPath)
    // the dim-side FILTER is what DPP's planner keys on (its
    // hasSelectivePredicate heuristic): join against the filtered dim
    val dim = spark.read.parquet(dimPath).filter(col("tag") === "wanted")
    val joined = Layout.read(spark, dir)
      .join(broadcast(dim), Seq("day"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("s"))
    joined.collect()
    // the fact scan's partition filter is a runtime (dynamicpruning)
    // subquery fed by the dim — only its 7 day-dirs are read, out of 30
    // (walk through AQE's stage wrappers, same shape as rowsScanned)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = {
      val self = p match { case s: FileSourceScanExec => Seq(s); case _ => Seq.empty }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case o => o.children
      }
      self ++ kids.flatMap(scans)
    }
    val scan = scans(joined.queryExecution.executedPlan)
      .find(_.metadata("Location").contains("lake")).get
    assert(scan.metadata("PartitionFilters").contains("dynamicpruning"),
      scan.metadata("PartitionFilters"))
    // static listing sees all days; the RUNTIME metric counts what the
    // dynamic filter let through
    assert(scan.selectedPartitions.partitionCount === nDays)
    assert(scan.metrics("numPartitions").value === 7,
      s"read ${scan.metrics("numPartitions").value} of $nDays days " +
        s"(metrics: ${scan.metrics.keys.mkString(",")})")
    // pruning invisible in the result
    val expect = Tables.events(spark, sfDir)
      .filter(to_date(col("ts")).between("2024-01-08", "2024-01-14"))
      .agg(count(lit(1)), round(sum("value"), 2)).collect().head
    assert(joined.collect().head.toSeq === expect.toSeq)
  }

  test("expireDays drops whole day partitions without reading data, exactly the pre-cutoff ones") {
    val dir = Files.createTempDirectory("graft_ttl").toString + "/days"
    val events = Tables.events(spark, sfDir)
    Layout.writeByDay(events, "ts", dir)
    val allDays = Layout.partDirs(spark, dir)
    assert(allDays.nonEmpty && allDays.forall(_.startsWith("day=")))

    val dropped = Layout.expireDays(spark, dir, beforeDay = "2024-01-15")
    assert(dropped === allDays.filter(_.stripPrefix("day=") < "2024-01-15"))

    // survivors match a row-level filter of the original, content intact
    val kept = Layout.read(spark, dir)
    val expected = events.filter(to_date(col("ts")) >= lit("2024-01-15"))
    assert(kept.count() === expected.count())
    assert(kept.agg(sum("event_id")).collect().head.getLong(0) ===
      expected.agg(sum("event_id")).collect().head.getLong(0))

    // idempotent: a second sweep at the same cutoff drops nothing
    assert(Layout.expireDays(spark, dir, "2024-01-15") === Seq.empty)
  }

  test("snapshotDiff classifies added/removed/changed/unchanged via one key agg, no join") {
    import spark.implicits._
    val a = Seq((1L, "x", 1.0), (2L, "y", 2.0), (3L, "z", 3.0))
      .toDF("id", "tag", "v")
    val b = Seq((1L, "x", 1.0), (2L, "Y2", 2.0), (4L, "new", 4.0))
      .toDF("id", "tag", "v")
    val d = Layout.snapshotDiff(a, b, Seq("id"), Seq("tag", "v"))
    val statuses = d.collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(statuses === Map(
      1L -> "unchanged", 2L -> "changed", 3L -> "removed", 4L -> "added"))
    val plan = d.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("Join"), plan)
    assert(plan.split("Exchange").length - 1 <= 1, plan)
    // null and empty string are DIFFERENT renderings (null takes the
    // \u001e sentinel), so they diff as changed — not a silent match
    val withNull = Seq((1L, null.asInstanceOf[String], 1.0)).toDF("id", "tag", "v")
    val withEmpty = Seq((1L, "", 1.0)).toDF("id", "tag", "v")
    assert(Layout.snapshotDiff(withNull, withEmpty, Seq("id"),
      Seq("tag", "v")).collect().head.getString(1) === "changed")
  }

  test("range-binned layout: stable boundaries keep appends bin-disjoint; rewritten scans partition-prune and stay exact") {
    import spark.implicits._
    def batch(from: Long, to: Long): DataFrame =
      spark.range(from, to).select(
        ((col("id") * 2654435761L % 100000) / 100.0).as("v"),
        col("id").as("payload"))
    val d1 = batch(0, 20000)
    val bounds = Layout.rangeBoundaries(d1, "v", nBins = 8)
    assert(bounds.size === 7 && bounds === bounds.sorted)
    val dir = Files.createTempDirectory("graft_range_binned").toString
    Layout.writeRangeBinned(d1, "v", bounds, dir)
    // incremental append under the SAME boundaries — no re-sampling
    Layout.writeRangeBinned(batch(20000, 30000), "v", bounds, dir,
      mode = "append")
    val all = spark.read.parquet(dir)
    assert(all.count() === 30000L)
    // bins stay value-disjoint across the append
    val ranges = all.groupBy(col("bin"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      .orderBy("bin")
      .as[(Int, Double, Double)].collect()
    assert(ranges.map(_._1).toSeq === (1 to 8))
    ranges.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 < b._2, s"bins ${a._1}/${b._1} overlap after append")
    }
    // rough balance (the audit query certifies the rank bound exactly)
    val counts = all.groupBy("bin").count().as[(Int, Long)].collect()
      .map(_._2)
    assert(counts.min > 1500 && counts.max < 7000, counts.toSeq.toString)
    // rewritten range scan: exact vs the plain filter, and the plan
    // partition-prunes on bin
    val lo = bounds(1) + 0.01
    val hi = bounds(3) - 0.01
    val pruned = Layout.rangeBinnedScan(all, "v", bounds, lo, hi)
    val plain = all.filter(col("v") >= lo && col("v") <= hi)
    assert(pruned.count() === plain.count())
    assert(pruned.exceptAll(plain).isEmpty && plain.exceptAll(pruned).isEmpty)
    val planStr = pruned.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters") && planStr.contains("bin"),
      "bin partition filters missing from the scan")
    Layout.rangeBinnedScan(all, "v", bounds, lo, hi).collect() // smoke
  }

  test("compact merges small files losslessly and restores ts clustering") {
    val events = Tables.events(spark, sfDir)
    val frag = Files.createTempDirectory("graft_c").toString + "/frag"
    val out = Files.createTempDirectory("graft_c").toString + "/out"
    events.repartition(24).write.parquet(frag)

    val (in, after) =
      Layout.compact(spark, frag, out, targetRecordsPerFile = 300,
        sortCol = Some("ts"))
    assert(in === 24, s"fragmented input files: $in")
    assert(after < in && after >= 1, s"compacted to $after files")

    // lossless: identical order-independent manifests (ts canonicalized
    // to epoch micros — the manifest doc's engine-portability rule)
    val cols = Seq("event_id", "ts_us", "user_id", "event_type", "props")
    def m(df: DataFrame) =
      Layout.manifest(df.withColumn("ts_us", unix_micros(col("ts"))), cols)
        .collect().head.toSeq
    assert(m(Layout.read(spark, out)) === m(events))

    // re-clustered: per-file ts ranges are pairwise disjoint, so a ts
    // range predicate prunes to the files that actually hold it
    val ranges = Layout.partFiles(spark, out).map { f =>
      val r = spark.read.parquet(s"$out/$f")
        .agg(min("ts").cast("long"), max("ts").cast("long"))
        .collect().head
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi <= lo2, ranges.toString)
      case _ =>
    }
  }

  test("compact without a sort column is a shuffle-free coalesce") {
    val frag = Files.createTempDirectory("graft_c").toString + "/frag2"
    val out = Files.createTempDirectory("graft_c").toString + "/out2"
    grid.repartition(16).write.parquet(frag)
    val (in, after) =
      Layout.compact(spark, frag, out, targetRecordsPerFile = 20000)
    assert(in === 16 && after <= 2, s"($in, $after)")
    assert(Layout.read(spark, out).count() === 40000L)
    // the plan carries no shuffle: coalesce is a partition union
    val shaped = Layout.read(spark, frag).coalesce(2)
    assert(!shaped.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("fileskip fixture: the week read over fileStatsLayout opens fewer files than the snapshot holds and equals the plain filter") {
    val t = graft.SparkEntry.fileStatsLayout(spark, sfDir)
    val (lo, hi) = graft.SparkEntry.fileSkipWeek(spark)
    val pruned = OccTable.readPruned(spark, t, "ts", lo.toDouble, hi.toDouble)
    val total = OccTable.snapshot(spark, t).files.size
    assert(pruned.inputFiles.nonEmpty && pruned.inputFiles.length < total,
      s"week plans ${pruned.inputFiles.length} of $total files")
    val week = col("ts").between(timestamp_micros(lit(lo)),
      timestamp_micros(lit(hi)))
    def agg(df: DataFrame) =
      df.agg(count(lit(1)), round(sum("value"), 2), min("event_id"),
        max("event_id"))
        .collect().toSeq
    val plain = agg(Tables.events(spark, sfDir).filter(week))
    assert(plain.head.getLong(0) > 0L)
    assert(agg(pruned) === plain)
  }
}
