package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

/** Data-lake layout for the fact stream at scale (SURVEY §4 partition
  * pruning, §7.4(6)): Parquet partitioned by event date, the distributed
  * analog of the reference's `(timestamp DESC)` B-tree index
  * (reference/init.sql:29-31) — time-range queries touch only the matching
  * `day=…` directories (static partition pruning; dynamic for join-driven
  * ranges), instead of index-scanning one node.
  */
object Layout {

  /** Write `df` partitioned by the date of `tsCol`, CLUSTERED by day
    * first (same shape as Rollups' day writes, guide §6): without the
    * repartition every input task writes one file into every day
    * directory it holds rows for — tasks × days small files plus as
    * many commit renames. One exchange on `day` makes it one file per
    * day, written in parallel, each internally ts-sorted so row-group
    * min/max statistics prune within the day as well. Per-day volume is
    * bounded by the day's row count — at 100 TB shard a hot day by
    * adding a small salt to the repartition (a few files per dir)
    * rather than returning to tasks × days.
    */
  def writeByDay(df: DataFrame, tsCol: String, path: String): Unit =
    df.withColumn("day", to_date(col(tsCol)))
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col("day"))
      .sortWithinPartitions(col("day"), col(tsCol))
      .write.partitionBy("day").mode("overwrite").parquet(path)

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Read a layout whose part-files span SCHEMA GENERATIONS (columns
    * added over the table's life — the first gap a fixed-schema lake
    * like the reference's `init.sql:2-11` hits once it grows). Plain
    * `spark.read.parquet` takes ONE file's footer as the table schema,
    * so whether a column added in generation 2 exists at all depends on
    * which file got sampled — a silent, nondeterministic drop.
    * `mergeSchema` unions every footer instead: additive evolution
    * reads correctly, with generation-1 rows NULL in the new columns
    * (the [[schemaGenerations]] audit says which files those are).
    *
    * Scale note: footer-merging is a distributed job over O(#files)
    * footers — cheap next to the scan, but not free; a production lake
    * caches the merged schema per [[manifest]] epoch rather than
    * re-merging per query. Renames/retypes are NOT additive evolution
    * — parquet will happily merge `a:int` files with `a:string` files
    * into a read error — gate those through a rewrite ([[compact]]).
    */
  def readEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Canonical fingerprint of a schema: md5 over `name:dataType` pairs
    * in FIELD ORDER. Field order matters (a reordered write is a
    * different physical generation even if logically equal); case
    * does too (parquet is case-sensitive at rest).
    */
  def schemaHash(schema: org.apache.spark.sql.types.StructType): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(schema.fields
        .map(f => s"${f.name}:${f.dataType.catalogString}")
        .mkString("").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Per-file schema audit of a layout: (file, schema_hash, n_cols) —
    * the versioning record that tells a maintainer WHICH files belong
    * to which schema generation (and so which rewrite a retype must
    * touch). Footer reads happen on the driver over the layout's file
    * list — O(#files) metadata, the same driver-resident class as a
    * table-format planner's file list; this is a maintenance-time audit,
    * not a query-path op.
    */
  def schemaGenerations(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    // partFiles returns bare names — qualify against the layout dir
    partFiles(spark, path)
      .map { f =>
        val s = spark.read.parquet(s"$path/$f").schema
        (f, schemaHash(s), s.fields.length)
      }
      .toDF("file", "schema_hash", "n_cols")
  }

  /** Day-bounded scan over a partitioned layout. The `day` predicate is a
    * partition filter (pruned at planning, zero I/O for other days); the
    * `tsCol` bounds additionally prune row groups within the day.
    */
  def scanDays(spark: SparkSession, path: String,
      fromDay: String, toDay: String): DataFrame =
    read(spark, path)
      .filter(col("day") >= lit(fromDay) && col("day") <= lit(toDay))

  /** Bucketed table layout for co-located fact-fact joins: both sides
    * bucketed (and sorted) on the join key with the same bucket count join
    * with NO shuffle exchange — the pre-partitioning that replaces the
    * per-query shuffle of repeated large joins (SURVEY §4 "shuffle/
    * partitioning control"). Bucket count should approximate
    * target-cluster parallelism at 100 TB (thousands), not the local 4
    * used in tests.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      nBuckets: Int): Unit =
    df.write
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .mode("overwrite")
      .saveAsTable(table)

  /** Z-order (Morton-curve) clustered rewrite: rows are range-partitioned
    * and in-file sorted by the bit-interleaving of their `cols` values,
    * each scaled to a `bits`-wide integer against its own global
    * [min, max] (one 1-row driver agg). The payoff is MULTI-dimensional
    * row-group pruning: because the curve keeps both coordinates locally
    * bounded within a file, every file carries a TIGHT parquet min/max
    * range on EVERY clustering column — so a range predicate on any one
    * of them (not just the lead sort key) skips most row groups at read
    * time via the pushed filter. A single-column sort gives tight stats
    * on that column only; a predicate on the second column then reads the
    * whole table. This is the OPTIMIZE ZORDER of a 100 TB lake, expressed
    * as a plain deterministic parquet rewrite.
    *
    * Scaling is literal codegen arithmetic (clamp + shift/or fold — no
    * UDF, no join); the only non-scan costs are the 1-row min/max agg and
    * the one range shuffle any clustering rewrite must pay. Timestamps
    * ride their numeric cast (epoch seconds); NULL sorts with the column
    * minimum. `nFiles` bounds output parallelism — size it so files land
    * near one row group (~128 MB) at the target scale; at 100 TB this is
    * thousands, not the test-scale handful.
    */
  def writeZOrdered(df: DataFrame, cols: Seq[String], path: String,
      nFiles: Int, bits: Int = 16, bloomCols: Seq[String] = Nil): Unit = {
    val clustered = zOrdered(df, cols, nFiles, bits)
    // empty input, or ANY clustering column entirely null (its min/max
    // are null and no curve coordinate exists): degrade to a plain
    // rewrite instead of NPE-ing on the null aggregate
    val w = clustered.getOrElse(df).write.mode("overwrite")
    // bloom sidecars for point lookups on columns the curve scrambles
    // (see writeSorted's bloomCols doc)
    bloomCols.foldLeft(w)((w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true"))
      .parquet(path)
  }

  /** The z-order clustering TRANSFORM behind [[writeZOrdered]], exposed
    * so table-format compaction ([[OccTable.optimize]]'s ZORDER BY) can
    * stage the clustered frame through its own commit path: scale each
    * column to `bits`-bit curve coordinates off one min/max aggregate,
    * Morton-interleave, range-partition + in-file sort on the curve
    * key. None when the input is empty or any clustering column is
    * entirely null — no curve coordinate exists; the caller degrades to
    * its plain rewrite.
    */
  def zOrdered(df: DataFrame, cols: Seq[String], nFiles: Int,
      bits: Int = 16): Option[DataFrame] = {
    require(cols.size >= 2,
      s"zOrdered: need >=2 clustering columns, got $cols — use a " +
        "plain sortWithinPartitions for one")
    require(bits >= 1 && bits * cols.size <= 62,
      s"zOrdered: $bits bits x ${cols.size} cols overflows a long")
    require(nFiles >= 1, s"zOrdered: nFiles=$nFiles")
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
    val row = df.agg(aggs.head, aggs.tail: _*).collect().head
    if ((0 until row.length).exists(row.isNullAt)) return None
    val top = (1L << bits) - 1
    val scaled = cols.zipWithIndex.map { case (c, i) =>
      val mn = row.getDouble(2 * i)
      val mx = row.getDouble(2 * i + 1)
      // span==0 (constant column) degrades to bucket 0 for every row
      val span = math.max(mx - mn, java.lang.Double.MIN_NORMAL)
      least(lit(top), greatest(lit(0L),
        floor((coalesce(col(c).cast("double"), lit(mn)) - lit(mn))
          / lit(span) * lit((top + 1).toDouble)).cast("long")))
    }
    Some(df.withColumn("__z", interleaveBits(scaled, bits))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z"))
  }

  /** Morton interleave: bit `b` of column `ci` lands at position
    * `b * nCols + ci`. A fold of literal shift/mask/or terms — fully
    * codegen'd, monotone in each coordinate when the others are fixed.
    */
  private[sources] def interleaveBits(scaled: Seq[Column], bits: Int): Column = {
    val n = scaled.size
    val terms = for {
      (c, ci) <- scaled.zipWithIndex
      b <- 0 until bits
    } yield shiftleft(shiftright(c, b).bitwiseAND(lit(1L)), b * n + ci)
    terms.reduce(_.bitwiseOR(_))
  }

  /** Single-column clustered rewrite (the comparison baseline for
    * [[writeZOrdered]], and the right layout when queries only ever
    * range on one column): range-partition + in-file sort on `sortCol`.
    *
    * `bloomCols` adds a parquet BLOOM FILTER sidecar per listed column —
    * the equality-predicate complement to min/max clustering: a point
    * lookup on a column the sort does NOT order (an id, a device serial)
    * skips every row group whose filter says "definitely absent", which
    * is almost all of them when the value lives in one file. Costs a few
    * KB per row group at write time; the reader consults it
    * automatically under pushdown. Use for high-cardinality columns
    * served by `=`/`IN` — range predicates gain nothing.
    */
  def writeSorted(df: DataFrame, sortCol: String, path: String,
      nFiles: Int, bloomCols: Seq[String] = Nil): Unit = {
    val w = df.repartitionByRange(nFiles, col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode("overwrite")
    bloomCols.foldLeft(w)((w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true"))
      .parquet(path)
  }

  /** Equi-depth range boundaries from a KLL sketch (X111): the B−1
    * interior quantiles of `c` at i/B, read from ONE mergeable sketch
    * aggregation — the scale answer to `repartitionByRange`'s
    * driver-side re-SAMPLING: a sample is cheap but unstable (every
    * write draws new boundaries, so two incremental writes of the same
    * table disagree about where bins fall), while the sketch is built
    * from the partials the lake already materializes (X107's per-day
    * state), is deterministic, and carries a GUARANTEED rank error —
    * each boundary's true rank is within errBound of i·n/B, so bin
    * balance is a theorem, not a sample's luck. Persist the returned
    * boundaries and every later append bins identically.
    */
  def rangeBoundaries(df: DataFrame, c: String, nBins: Int,
      k: Int = 256): Seq[Double] = {
    require(nBins >= 2, s"rangeBoundaries: nBins=$nBins")
    import df.sparkSession.implicits._
    val buf = df.filter(col(c).isNotNull)
      .agg(graft.ops.Kll.sketchColumn(k, col(c)).as("sk"))
      .select(col("sk.*")).as[graft.ops.KllBuf].head()
    (1 until nBins).map(i => graft.ops.Kll.quantile(buf, i.toDouble / nBins))
  }

  /** Bin id (1-based) for a value under FIXED boundaries: 1 + number of
    * boundaries strictly below the value — a narrow codegen'd
    * projection, no shuffle, no lookup table.
    */
  def rangeBin(c: Column, bounds: Seq[Double]): Column =
    lit(1) + size(filter(
      array(bounds.map(lit(_)): _*), b => b < c.cast("double")))

  /** Range-binned layout write under FIXED boundaries: one directory
    * per bin (`bin=i/`), rows sorted by `c` within files. APPEND-SAFE
    * BY CONSTRUCTION: because the boundaries are pinned (not re-sampled
    * per write), a later append lands its rows in the same bins — bin
    * directories stay value-disjoint across any number of incremental
    * writes, so a range predicate keeps pruning to the same O(1/B)
    * slice of directories forever. (`repartitionByRange` re-draws
    * boundaries per write: two appends overlap every file's range and
    * pruning decays toward full scans.)
    */
  def writeRangeBinned(df: DataFrame, c: String, bounds: Seq[Double],
      path: String, mode: String = "overwrite"): Unit = {
    require(bounds.nonEmpty, "writeRangeBinned: empty boundaries")
    df.filter(col(c).isNotNull)
      .withColumn("bin", rangeBin(col(c), bounds))
      .repartition(bounds.size + 1, col("bin"))
      .sortWithinPartitions(col(c))
      .write.partitionBy("bin").mode(mode).parquet(path)
  }

  /** Range query over a [[writeRangeBinned]] table: the value predicate
    * is REWRITTEN onto the bin partition column using the same fixed
    * boundaries (`bin ∈ [1+#{b<lo}, 1+#{b≤hi}]`), so the scan
    * partition-prunes to O((hi−lo)/range · B) directories — and because
    * boundaries never move, that rewrite stays correct across every
    * append. The residual value filter keeps exactness at the edges.
    */
  def rangeBinnedScan(t: DataFrame, c: String, bounds: Seq[Double],
      lo: Double, hi: Double): DataFrame = {
    val binLo = 1 + bounds.count(_ < lo)
    val binHi = 1 + bounds.count(_ <= hi)
    t.filter(col("bin") >= lit(binLo) && col("bin") <= lit(binHi) &&
      col(c) >= lit(lo) && col(c) <= lit(hi))
  }

  /** Oracled audit for [[rangeBoundaries]] (`q_range_layout_balance`):
    * per interior edge i, certify the boundary's TRUE rank interval
    * against target i·n/B within the sketch's own guaranteed bound
    * (the [[graft.ops.Kll.quantileBound]] audit at B−1 probes). `n` is
    * the replayable exact side; the booleans are theorems.
    */
  def rangeBinAudit(df: DataFrame, c: String, nBins: Int,
      k: Int = 256): DataFrame = {
    import df.sparkSession.implicits._
    val v = col(c).cast("double")
    val buf = df.filter(v.isNotNull)
      .agg(graft.ops.Kll.sketchColumn(k, col(c)).as("sk"))
      .select(col("sk.*")).as[graft.ops.KllBuf].head()
    val err = graft.ops.Kll.errBound(buf).toDouble
    val bounds = (1 until nBins)
      .map(i => graft.ops.Kll.quantile(buf, i.toDouble / nBins))
    val aggs = count(lit(1)).as("n") +:
      bounds.zipWithIndex.flatMap { case (b, i) => Seq(
        sum(when(v <= lit(b), 1L).otherwise(0L)).as(s"__le_$i"),
        sum(when(v < lit(b), 1L).otherwise(0L)).as(s"__lt_$i"))
      }
    val row = df.filter(v.isNotNull).agg(aggs.head, aggs.tail: _*)
    bounds.indices.map { i =>
      val target = ceil(col("n").cast("double") * ((i + 1).toDouble / nBins))
      row.select(lit((i + 1).toLong).as("edge"), col("n"),
        (col(s"__le_$i") >= target - lit(err) &&
          (col(s"__lt_$i") + 1) <= target + lit(err)).as("rank_ok"))
    }.reduce(_ unionByName _)
  }

  /** Time-partition expiry — the retention sweep of a [[writeByDay]]
    * layout: drops every `day=…` partition directory strictly before
    * `beforeDay` (ISO date). A METADATA operation: O(partitions)
    * directory deletes, zero data read or rewritten — which is why
    * time-partitioned layouts are how 100 TB lakes implement TTL (a
    * row-level retention DELETE would rewrite the table). Returns the
    * dropped partition names.
    */
  def expireDays(spark: SparkSession, path: String,
      beforeDay: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val expired = fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter { p =>
        val n = p.getName
        n.startsWith("day=") && n.stripPrefix("day=") < beforeDay
      }
    expired.foreach(p => fs.delete(p, true))
    expired.map(_.getName).sorted
  }

  /** Small-file compaction — the maintenance rewrite a 100 TB lake runs
    * continuously (streaming sinks and incremental loads leave thousands
    * of KB-scale files; every query then pays their per-file open/footer
    * cost and the scheduler their task overhead). Rewrites `inPath` into
    * `ceil(rows / targetRecordsPerFile)` files at `outPath`:
    *
    *   - `sortCol = None`: `coalesce` — a SHUFFLE-FREE merge (partitions
    *     are unioned in place), the cheap path when no clustering must
    *     be restored;
    *   - `sortCol = Some(c)`: range-partition + in-file sort on `c` — one
    *     shuffle, and the compacted files carry disjoint tight min/max
    *     ranges on `c`, so compaction doubles as re-clustering.
    *
    * Content preservation is CHECKABLE, not assumed: [[manifest]]'s
    * order-independent checksum over input and output must match (the
    * rewrite only moves rows between files). Returns
    * (filesIn, filesOut).
    */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      targetRecordsPerFile: Long, sortCol: Option[String] = None): (Int, Int) = {
    require(targetRecordsPerFile >= 1,
      s"compact: targetRecordsPerFile=$targetRecordsPerFile")
    val df = read(spark, inPath)
    val rows = df.count()
    val parts = math.max(1L,
      (rows + targetRecordsPerFile - 1) / targetRecordsPerFile).toInt
    val shaped = sortCol match {
      case Some(c) =>
        df.repartitionByRange(parts, col(c)).sortWithinPartitions(c)
      case None => df.coalesce(parts)
    }
    shaped.write.mode("overwrite").parquet(outPath)
    (partFiles(spark, inPath).size, partFiles(spark, outPath).size)
  }

  /** Partition subdirectories (`col=value`) of a partitioned layout,
    * sorted (markers and hidden dirs excluded).
    */
  def partDirs(spark: SparkSession, path: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
      .sorted
  }

  /** Data part-files of a parquet directory, via the path's own Hadoop
    * FileSystem (markers and sidecars excluded).
    */
  def partFiles(spark: SparkSession, path: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("part-"))
  }

  /** Rows the parquet readers actually DELIVERED while computing `df` —
    * the observable that makes row-group pruning a measured number
    * instead of a layout claim: runs the plan, then sums `numOutputRows`
    * across every file scan in the (AQE-final) executed plan. A
    * selective pushed predicate over a well-clustered layout delivers a
    * small fraction of the table; the same predicate over a layout with
    * loose per-file stats delivers all of it.
    */
  def rowsScanned(df: DataFrame): Long = {
    df.queryExecution.executedPlan // force planning
    // execute THIS queryExecution (a noop write would plan a fresh one,
    // leaving these scan metrics untouched) without materializing on the
    // driver — a large result would otherwise land in driver heap
    df.queryExecution.toRdd.foreach(_ => ())
    def walk(p: SparkPlan): Seq[FileSourceScanExec] = {
      val self = p match {
        case s: FileSourceScanExec => Seq(s)
        case _ => Seq.empty
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case o => o.children
      }
      self ++ kids.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
      .map(_.metrics("numOutputRows").value).sum
  }

  /** Build-once cached layout directory: returns a stable per-user tmp
    * dir derived from `cacheKey`, invoking `write(path)` only when the
    * dir's `_SUCCESS` commit marker is missing (parquet writes stamp it).
    * The dir is [[graft.Scratch.path]]'s, like the IVF layout cache
    * (`ext/Similarity.scala`): callers fold source length+mtime and every
    * layout parameter into the key so a regenerated source or changed
    * config can never be read through a stale layout.
    */
  def ensureLayoutDir(prefix: String, cacheKey: String)(
      write: String => Unit): String = synchronized {
    val path = graft.Scratch.path(prefix, cacheKey)
    if (!new java.io.File(path, "_SUCCESS").exists()) write(path)
    path
  }

  /** Per-key snapshot diff — the row-level companion to [[manifest]]'s
    * one-number verdict: classify every key as added / removed /
    * changed / unchanged between two versions of a table (the audit
    * behind "what did the last CDC window actually do" and "why did the
    * checksum flip"). Union-tag + ONE key aggregation — never a full
    * outer join: each side collapses to (key, row-hash, side), the
    * grouped max-per-side recovers both hashes, and the classification
    * is a projection. One shuffle, intermediate ≤ \|a\|+\|b\| —
    * diffable at snapshot scale. Keys must be unique per side (it is a
    * SNAPSHOT diff); `cols` is the compared payload — hashes are
    * engine-local (both sides computed here), so any column type rides,
    * but canonicalize floats/timestamps if the diff must be stable
    * across engines writing the inputs.
    */
  def snapshotDiff(a: DataFrame, b: DataFrame, keyCols: Seq[String],
      cols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty && cols.nonEmpty,
      s"snapshotDiff: empty keys ($keyCols) or compare cols ($cols)")
    def side(df: DataFrame, tag: Int): DataFrame = {
      val canon = concat_ws("\\u001f",
        cols.map(c => coalesce(col(c).cast("string"), lit("\\u001e"))): _*)
      df.select(keyCols.map(col)
        :+ graft.ext.PortableHash.hash60(canon).as("__h")
        :+ lit(tag).as("__side"): _*)
    }
    side(a, 0).unionByName(side(b, 1))
      .groupBy(keyCols.map(col): _*)
      .agg(max(when(col("__side") === 0, col("__h"))).as("__ha"),
        max(when(col("__side") === 1, col("__h"))).as("__hb"))
      .withColumn("status",
        when(col("__ha").isNull, "added")
          .when(col("__hb").isNull, "removed")
          .when(col("__ha") === col("__hb"), "unchanged")
          .otherwise("changed"))
      .select(keyCols.map(col) :+ col("status"): _*)
  }

  /** Content manifest of a table — the integrity record a 100 TB
    * pipeline stamps at every handoff (post-ingest, post-curation,
    * pre-training) so silent corruption, partial writes, and
    * re-generation drift are detectable by DIFFING two one-row frames:
    * row count, per-column null counts, and an order-independent
    * content checksum (`bit_xor` of the portable 60-bit md5 of each
    * row's canonical rendering — XOR commutes, so the checksum is
    * invariant under row order, partitioning, and engine, and any
    * single-row change flips it). ONE map-side-combinable aggregation
    * pass; no shuffle beyond the 1-row final combine.
    *
    * Canonical rendering = the named columns cast to string (NULL → a
    * \\u001e sentinel) joined with \\u001f, in the GIVEN column order —
    * so two manifests only compare if built with the same column list.
    * Cast-to-string of doubles/timestamps can format differently across
    * engines; canonicalize such columns yourself (round/unix_micros)
    * before manifesting if the checksum must be engine-portable.
    */
  def manifest(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "manifest: empty column list")
    val canon = concat_ws("\u001f",
      cols.map(c => coalesce(col(c).cast("string"), lit("\u001e"))): _*)
    val aggs =
      expr("bit_xor(__h)").as("checksum") +:
      cols.map(c =>
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c"))
    df.withColumn("__h", graft.ext.PortableHash.hash60(canon))
      .agg(count(lit(1)).as("row_count"), aggs: _*)
  }
}
