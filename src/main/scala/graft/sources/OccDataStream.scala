package graft.sources

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition,
  PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit,
  MicroBatchStream, Offset, ReadLimit, ReadMaxRows,
  SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The one OCC streaming source. Three subscriptions read an
  * [[OccTable]] commit log incrementally: [[OccStream.tailTo]] and
  * [[OccStream.changesTo]] over the `graft-occ-tail` action feed
  * ([[OccTailSource]]), and `spark.readStream.format("graft-occ")`
  * ([[OccDataLane]]) — the reference's hot path
  * (spark_streaming.py:125-130) as a by-format-name subscription, the
  * Delta `readStream.format("delta")` parity. All three run on
  * [[OccVersionStream]]'s version offsets, and every served-data
  * decision — the rewrite policy, the vacuum-lag probe, the era
  * grouping — is made once, by [[OccWindow.window]].
  *
  * Offset model (the Structured Streaming source contract: replayable
  * offsets, one planned batch per offset range): a plain offset IS a
  * log version ("every commit ≤ v delivered", −1 = nothing yet); the
  * `s<v>` form marks a pending initial snapshot at v
  * (`startingVersion=snapshot`, format stream only), re-derived from
  * the log on replay. A version range is immutable once committed, so
  * recovery replays identical batches. Options:
  *   - `startingVersion`: `earliest` (default), `latest` (new commits
  *     only), `snapshot` (format stream: the pinned snapshot first,
  *     the form that works on compacted histories), or a version
  *     number (the first version delivered).
  *   - `startingTimestamp`: the first commit at or after the timestamp,
  *     mutually exclusive with `startingVersion`.
  *   - `maxVersionsPerTrigger`: admission cap, in commits.
  *   - `onRewrite` (format stream; `tailTo` takes it as a parameter):
  *     see [[OccWindow.RewriteModes]].
  */
object OccWindow {
  /** What a commit that removes files or adds deletion vectors means
    * to an append-only subscriber (Delta's streaming-source trichotomy):
    * `fail` (default) refuses it; `skipRewrites` skips the commit
    * (Delta's `skipChangeCommits`); `ignoreRemoves` serves its adds
    * again — a rewritten file's SURVIVING rows, so downstream may see
    * rows twice but never a deleted one (Delta's `ignoreChanges`).
    */
  val RewriteModes: Set[String] = Set("fail", "skipRewrites", "ignoreRemoves")

  def requireMode(onRewrite: String): Unit =
    require(RewriteModes(onRewrite),
      s"onRewrite must be fail | skipRewrites | ignoreRemoves, got '$onRewrite'")

  /** One served add, with its deletion-vector sidecar if the add
    * carries one.
    */
  final case class Served(version: Long, file: String, dv: Option[String])

  /** A planned window `(after, upTo]`: its parsed commits and the adds
    * the policy serves.
    */
  final class Window private[OccWindow] (spark: SparkSession, dir: String,
      upTo: Long, val actions: Seq[(Long, OccTable.Actions)],
      val served: Seq[Served]) {
    /** The table now: the logical space every era is served in. */
    lazy val current: OccTable.Snapshot = OccTable.snapshot(spark, dir)

    /** The served adds in era stretches, each with the snapshot its
      * files were written under ([[OccTable.scanFilesAs]] reads them
      * into [[current]]'s logical space, so a replay across a rename or
      * a `colmapclear` overwrite serves real values). Consecutive
      * versions with no schema or mapping action between them share
      * one fold. A never-mapped table, or a last stretch that stays
      * stable through [[current]], reads as [[current]] with no fold —
      * the steady state of a long-lived tail. A stretch the vacuum
      * marker covers reads as [[current]]: its files survived, and a
      * mapping clear since would have removed them.
      */
    lazy val eras: Seq[(OccTable.Snapshot, Seq[Served])] =
      if (served.isEmpty) Seq.empty
      else if (!current.everMapped) Seq(current -> served)
      else {
        val changes = actions.collect {
          case (v, a) if a.schemaJson.nonEmpty || a.colmapSet.nonEmpty => v }
        lazy val stableAfterWindow =
          OccTable.metadataStableBetween(spark, dir, upTo, current.version)
        served.groupBy(s => changes.count(_ <= s.version)).toSeq
          .sortBy(_._1).map { case (_, stretch) =>
            val from = stretch.head.version
            val era =
              if (!changes.exists(_ > from) && stableAfterWindow) current
              else try OccTable.snapshotAt(spark, dir, from)
              catch { case _: OccTable.VacuumedVersionException => current }
            era -> stretch
          }
      }
  }

  /** Plan `(after, upTo]` under `onRewrite`: parse the window once
    * (a truncated version refuses, [[OccTable.actionsBetween]]), refuse
    * or skip its rewrites, and probe the served adds the vacuum marker
    * covers — refused BY NAME here instead of failing mid-scan, the
    * "retention window longer than the lag" contract enforced. Adds
    * above the marker are never probed: vacuum guarantees them.
    */
  def window(spark: SparkSession, dir: String, after: Long, upTo: Long,
      onRewrite: String): Window = {
    val actions =
      if (upTo > after) OccTable.actionsBetween(spark, dir, after, upTo)
      else Seq.empty
    val rewrites = actions.collect {
      case (v, a) if a.removes.nonEmpty || a.addDvs.nonEmpty => v }.toSet
    if (onRewrite == "fail" && rewrites.nonEmpty)
      throw new IllegalStateException(
        s"OccStream: commit(s) v${rewrites.toSeq.sorted.mkString(", v")} " +
          s"of $dir rewrite files under the stream (compaction, merge, " +
          "delete or deletion vector). An append-only tail cannot " +
          "represent commits that rewrite files under the tail: set " +
          "onRewrite=skipRewrites to skip them (Delta's " +
          "skipChangeCommits) or onRewrite=ignoreRemoves to serve their " +
          "adds again (downstream may see reprocessed rows).")
    val served = actions.flatMap { case (v, a) =>
      if (onRewrite == "skipRewrites" && rewrites(v)) Seq.empty
      else a.adds.map(f => Served(v, f, a.addDvs.get(f)))
    }
    if (served.nonEmpty) {
      val through = OccTable.vacuumedThrough(spark, dir)
      val fsys = new Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val gone = served.filter(s => s.version <= through &&
        !fsys.exists(new Path(OccTable.resolvePath(dir, s.file))))
      if (gone.nonEmpty) throw new IllegalStateException(
        s"OccStream: lag exceeded the vacuum retention of $dir — file(s) " +
          s"${gone.map(_.file).mkString(", ")} of version(s) " +
          s"v${gone.map(_.version).distinct.sorted.mkString(", v")} were " +
          s"reclaimed (vacuumedThrough=$through). Vacuum with a " +
          "retention window longer than the subscriber's lag.")
    }
    new Window(spark, dir, upTo, actions, served)
  }
}

/** "Every commit ≤ version delivered"; `snapshotPending` marks the
  * undelivered initial snapshot of `startingVersion=snapshot`.
  */
final case class OccVersionOffset(version: Long,
    snapshotPending: Boolean = false) extends Offset {
  override def json(): String =
    if (snapshotPending) s"s$version" else version.toString
}

/** What one subscription plans per batch over the shared offsets. */
trait OccLane {
  /** The version a `startingVersion=snapshot` start serves in full;
    * None for a lane that has no snapshot start.
    */
  def snapshotVersion: Option[Long]
  def plan(start: OccVersionOffset, end: Long): Array[InputPartition]
  def readerFactory: PartitionReaderFactory
}

/** The one version-offset `MicroBatchStream` under both the
  * `graft-occ-tail` feed and the `graft-occ` stream: option checks,
  * initial offset, the admission cap and the AvailableNow pin. All
  * offset work is driver-side (the log is metadata).
  */
final class OccVersionStream(dir: String, options: CaseInsensitiveStringMap,
    lane: OccLane) extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {
  private val startingVersion =
    Option(options.get("startingVersion")).getOrElse("earliest")
  private val startingTimestamp =
    Option(options.get("startingTimestamp")).map(_.toLong)
  private val maxVersions = options.getInt("maxVersionsPerTrigger", 0)
  require(startingVersion == "earliest" || startingVersion == "latest" ||
    (startingVersion == "snapshot" && lane.snapshotVersion.nonEmpty) ||
    (startingVersion.nonEmpty && startingVersion.forall(_.isDigit)),
    "startingVersion must be 'earliest', 'latest', " +
      (if (lane.snapshotVersion.nonEmpty) "'snapshot' " else "") +
      s"or a version number, got '$startingVersion'")
  require(startingTimestamp.isEmpty || startingVersion == "earliest",
    "startingTimestamp and startingVersion are mutually exclusive — set one")
  require(maxVersions >= 0,
    s"maxVersionsPerTrigger must be >= 0 (0 = unbounded), got $maxVersions")

  private def spark: SparkSession = SparkSession.active
  private def latest: Long =
    OccTable.latestVersion(spark, dir).getOrElse(-1L)

  /** AvailableNow pin: versions committed after prepare() are left for
    * the next run instead of chasing a live writer forever.
    */
  @volatile private var availableNowTarget: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(latest)

  override def initialOffset(): Offset = startingTimestamp match {
    // resolved against the version files' commit clock, the same clock
    // versionAsOf time-travels by
    case Some(ts) =>
      OccVersionOffset(OccTable.firstVersionAtOrAfter(spark, dir, ts) - 1)
    case None => startingVersion match {
      case "earliest" => OccVersionOffset(-1L)
      case "latest" => OccVersionOffset(latest)
      case "snapshot" =>
        OccVersionOffset(lane.snapshotVersion.get, snapshotPending = true)
      case n => OccVersionOffset(n.toLong - 1)
    }
  }

  override def getDefaultReadLimit: ReadLimit =
    if (maxVersions > 0) ReadLimit.maxRows(maxVersions.toLong)
    else ReadLimit.allAvailable()

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) drives this source")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[OccVersionOffset].version
    val l = availableNowTarget.getOrElse(latest)
    // AvailableNow wraps the admission cap in a CompositeReadLimit:
    // the tightest ReadMaxRows among the sub-limits applies
    def maxRowsOf(rl: ReadLimit): Option[Long] = rl match {
      case r: ReadMaxRows => Some(r.maxRows())
      case c: CompositeReadLimit =>
        c.getReadLimits.toSeq.flatMap(maxRowsOf)
          .reduceOption((a: Long, b: Long) => math.min(a, b))
      case _ => None
    }
    // a pending snapshot is one undividable batch: the plain end offset
    // at (at least) its own version differs from the start, which
    // forces the batch even when no commit followed
    OccVersionOffset(math.max(s,
      maxRowsOf(limit).map(m => math.min(l, s + m)).getOrElse(l)))
  }

  override def reportLatestOffset(): Offset = OccVersionOffset(latest)

  override def deserializeOffset(json: String): Offset = {
    val t = json.trim
    if (t.startsWith("s"))
      OccVersionOffset(t.drop(1).toLong, snapshotPending = true)
    else OccVersionOffset(t.toLong)
  }
  // log retention is the table's business
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] =
    lane.plan(start.asInstanceOf[OccVersionOffset],
      end.asInstanceOf[OccVersionOffset].version)

  override def createReaderFactory(): PartitionReaderFactory =
    lane.readerFactory
}

/** The `graft-occ` stream's lane: each micro-batch is ONE incremental
  * parquet scan of the window's served files, planned through the batch
  * connector's `ParquetScan` machinery (whole-stage codegen, columnar
  * reads, log-recorded file sizes, the column-mapping rename).
  *
  * The read schema is PINNED at stream start (the resolved snapshot's
  * physical schema), because a streaming source's schema is fixed for
  * the query's life. A schema or column-mapping commit inside a window
  * refuses unless the pin can serve it: serving a narrower schema would
  * silently drop the new column — Delta fails the same way and asks for
  * a restart. Pure additive history BEHIND the pin needs no handling:
  * pre-evolution files serve the pinned columns as null, and physical
  * names never change under a rename. A served file that carries a
  * deletion vector (an `ignoreRemoves` DV commit) refuses too: a
  * parquet scan cannot apply one.
  */
final class OccDataLane(dir: String, pinned: OccTable.Snapshot,
    template: OccParquetScan, onRewrite: String) extends OccLane {
  OccWindow.requireMode(onRewrite)

  private def spark: SparkSession = SparkSession.active

  override def snapshotVersion: Option[Long] = Some(pinned.version)

  // an era schema names a pinned column by its LOGICAL name (eras at or
  // after the pin's mapping) or by its PHYSICAL one (pre-rename eras) —
  // the resurrection refusals guarantee the two identities never serve
  // different columns, so index the pin under both
  private lazy val pinTypes: Map[String, DataType] =
    pinned.schema.map(_.fields.flatMap(f => Seq(
      f.name -> f.dataType,
      pinned.physName(f.name) -> f.dataType)).toMap).getOrElse(Map.empty)

  private def refuse(why: String): Nothing =
    throw new IllegalStateException(s"graft-occ stream: $why")

  override def plan(start: OccVersionOffset,
      end: Long): Array[InputPartition] = {
    // the snapshot batch re-derives its file set FROM THE LOG, so a
    // post-crash replay plans the identical batch
    val snapshotFiles =
      if (start.snapshotPending)
        OccTable.snapshotAt(spark, dir, start.version).files
      else Seq.empty
    val w = OccWindow.window(spark, dir, start.version, end, onRewrite)
    w.actions.foreach { case (v, a) =>
      // mapping first: a rename commit carries both actions, and "the
      // mapping changed" is the precise refusal for it
      if (a.colmapSet.exists(_ != pinned.colmap))
        refuse(s"commit v$v of $dir changes the column mapping under a " +
          "running stream — restart the stream or subscribe with " +
          "startingVersion=snapshot")
      // a shared field must be type-equal or losslessly below the pin's
      // type (parquet promotes natively; nullability is read-irrelevant)
      a.schemaJson.filterNot(pinned.schemaJson.contains).foreach { j =>
        val bad = DataType.fromJson(j).asInstanceOf[StructType].fields
          .flatMap { f =>
            pinTypes.get(f.name) match {
              case Some(t) if t == f.dataType ||
                  OccTable.isLosslessWidening(f.dataType, t) => None
              case Some(t) => Some(s"${f.name} (${f.dataType.simpleString} " +
                s"vs pinned ${t.simpleString})")
              case None => Some(s"${f.name} (not in the pinned schema)")
            }
          }
        if (bad.nonEmpty)
          refuse(s"commit v$v of $dir carries a schema this stream's " +
            s"pinned read schema cannot serve — ${bad.mkString("; ")}. " +
            "Restart the stream to adopt the current schema, or " +
            "subscribe with startingVersion=snapshot")
      }
    }
    w.served.find(_.dv.nonEmpty).foreach { s =>
      refuse(s"commit v${s.version} of $dir serves ${s.file} with a " +
        "deletion vector under onRewrite=ignoreRemoves; a parquet scan " +
        "cannot apply it and would resurrect deleted rows. Subscribe " +
        "with onRewrite=skipRewrites, or tail through OccStream.tailTo, " +
        "which applies it")
    }
    val files = (snapshotFiles ++ w.served.map(_.file)).distinct
    if (files.isEmpty) return Array.empty
    // the pinned snapshot re-scoped to the batch file set keeps the
    // log-recorded sizes (files it no longer carries — skipRewrites
    // lag — fall back to a stat)
    template.copy(
      fileIndex = new OccFileIndex(spark, dir,
        pinned.copy(files = files.toIndexedSeq), template.dataSchema),
      partitionFilters = Seq.empty, dataFilters = Seq.empty)
      .toBatch.planInputPartitions()
  }

  override def readerFactory: PartitionReaderFactory =
    template.toBatch.createReaderFactory()
}
