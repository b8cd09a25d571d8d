package graft.sources

import java.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `graft-occ-tail`: an [[OccTable]] commit log as a stream of its
  * parsed ACTIONS — the read side that closes the lakehouse loop
  * ([[OccTable.appendStream]] ingests exactly-once; this feed lets a
  * standing pipeline subscribe to what lands, Delta's streaming source
  * and change feed shape). The reference's dashboard POLLS the full
  * store per refresh (reference/streamlit_dashboard.py:89-121); tailing
  * the log reads only the versions committed since the last batch.
  *
  * The feed runs on [[OccVersionStream]]'s offsets (see
  * [[OccWindow]]); a micro-batch over (start, end] emits one row per
  * action of exactly those commits:
  *
  *   (version LONG, action STRING, file STRING,
  *    app_id STRING, txn_version LONG, schema_json STRING)
  *
  * with `action` ∈ add | remove | txn | schema. A version missing from
  * a planned range (log truncation outran the tail) fails the stream
  * loudly. [[OccStream.tailTo]] and [[OccStream.changesTo]] take only
  * each batch's version bounds from the feed; what `tailTo` serves is
  * [[OccWindow.window]]'s decision.
  */
object OccTailSource {
  val ShortName = "graft-occ-tail"

  val schema: StructType = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("action", StringType, nullable = false),
    StructField("file", StringType, nullable = true),
    StructField("app_id", StringType, nullable = true),
    StructField("txn_version", LongType, nullable = true),
    StructField("schema_json", StringType, nullable = true)))
}

class OccTailSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = OccTailSource.ShortName
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    OccTailSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new OccTailTable(new CaseInsensitiveStringMap(properties))
}

final class OccTailTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  private val dir = {
    val d = options.get("dir")
    require(d != null && d.nonEmpty,
      s"${OccTailSource.ShortName} requires option 'dir' (the OccTable root)")
    d
  }
  override def name(): String = s"${OccTailSource.ShortName}($dir)"
  override def schema(): StructType = OccTailSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = OccTailSource.schema
        override def toMicroBatchStream(ckpt: String): MicroBatchStream =
          new OccVersionStream(dir, options, new OccFeedLane(dir))
      }
    }
}

/** The feed's lane: one partition per commit of the window. */
final class OccFeedLane(dir: String) extends OccLane {
  override def snapshotVersion: Option[Long] = None
  override def plan(start: OccVersionOffset,
      end: Long): Array[InputPartition] =
    if (end <= start.version) Array.empty
    else OccTable.actionsBetween(SparkSession.active, dir, start.version, end)
      .map { case (v, a) =>
        OccTailPartition(v, a.adds, a.removes, a.txns,
          a.schemaJson): InputPartition
      }.toArray
  override def readerFactory: PartitionReaderFactory = new OccTailReaderFactory
}

/** One commit's parsed actions — tiny, shipped to the executor whole. */
final case class OccTailPartition(version: Long, adds: Seq[String],
    removes: Seq[String], txns: Seq[(String, Long)],
    schemaJson: Option[String]) extends InputPartition

final class OccTailReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[OccTailPartition]
    val u = UTF8String.fromString _
    // commit-body order: removes, adds, txn, schema
    val rows: Iterator[InternalRow] =
      (part.removes.iterator.map(f =>
        InternalRow(part.version, u("remove"), u(f), null, null, null)) ++
        part.adds.iterator.map(f =>
          InternalRow(part.version, u("add"), u(f), null, null, null)) ++
        part.txns.iterator.map { case (app, ver) =>
          InternalRow(part.version, u("txn"), null, u(app), ver, null) } ++
        part.schemaJson.iterator.map(j =>
          InternalRow(part.version, u("schema"), null, null, null, u(j))))
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean =
        if (rows.hasNext) { current = rows.next(); true } else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}

/** The user-facing tails over [[OccTailSource]]. */
object OccStream {

  /** The raw commit FEED as a streaming DataFrame — offsets are log
    * versions, rows are the parsed actions of each commit.
    */
  def feed(spark: SparkSession, dir: String,
      startingVersion: String = "earliest",
      maxVersionsPerTrigger: Int = 0,
      startingTimestamp: Option[Long] = None): DataFrame = {
    val r = spark.readStream.format(OccTailSource.ShortName)
      .option("dir", dir)
      .option("startingVersion", startingVersion)
      .option("maxVersionsPerTrigger", maxVersionsPerTrigger.toString)
    startingTimestamp.fold(r)(ts =>
      r.option("startingTimestamp", ts.toString)).load()
  }

  /** The DATA tail: subscribe to the table's appends. Each micro-batch
    * takes its version bounds from the feed, plans them with
    * [[OccWindow.window]] under `onRewrite` (see
    * [[OccWindow.RewriteModes]]) and hands `sink` one frame: each era
    * stretch scanned under the mapping in force when its files landed,
    * in the table's current logical space (pre-evolution files serve
    * evolved columns as null), through the add's deletion vector where
    * it carries one. Compose with [[OccTable.streamingSink]] or
    * [[graft.streaming.TxnSink]] for an exactly-once pipeline (the
    * engine checkpoint replays identical version ranges after a crash;
    * the sink fence drops the replayed batch). A batch that serves no
    * add skips the sink call.
    *
    * Under `skipRewrites` the tail reads files a later compaction may
    * have removed — run [[OccTable.vacuum]] with a retention window
    * longer than the tail's lag, the same contract Delta documents for
    * its source.
    */
  def tailTo(spark: SparkSession, dir: String, checkpointDir: String,
      sink: (DataFrame, Long) => Unit,
      startingVersion: String = "earliest",
      maxVersionsPerTrigger: Int = 0,
      onRewrite: String = "fail",
      trigger: Trigger = Trigger.ProcessingTime(0L),
      queryName: Option[String] = None): StreamingQuery = {
    OccWindow.requireMode(onRewrite)
    val writer = feed(spark, dir, startingVersion, maxVersionsPerTrigger)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // a version with no feed row has no add, remove or schema action
        val vs = batch.select("version").collect().map(_.getLong(0))
        if (vs.nonEmpty) {
          val w = OccWindow.window(spark, dir, vs.min - 1L, vs.max, onRewrite)
          if (w.served.nonEmpty) sink(w.eras.map { case (era, files) =>
            val scan = OccTable.scanFilesAs(spark, dir, era, w.current,
              files.map(_.file))
            val dvs = files.collect {
              case OccWindow.Served(_, f, Some(d)) => f -> d }
            if (dvs.isEmpty) scan
            else OccTable.applyDvs(spark, dir, era.copy(dvs = dvs.toMap), scan)
          }.reduce(_.unionByName(_, allowMissingColumns = true)), batchId)
        }
        ()
      }
    queryName.fold(writer)(writer.queryName).start()
  }

  /** The CHANGE-FEED tail (X125, Delta's streaming `readChangeFeed`
    * parity): subscribe to the table's ROW-LEVEL changes. Each
    * micro-batch covers a commit-version range (s, e] and hands
    * `sink` the [[OccTable.tableChanges]] frame between snapshot s
    * and snapshot e (keys added/removed/changed over the range, with
    * a `to_version` column stamping e), reading only the range's
    * CHURNED files. Unlike [[tailTo]], rewrites are first-class: a
    * pure compaction's version shows up as ZERO change rows (files
    * churn, rows do not) — exactly the CDF promise an append-only
    * tail cannot make. The first batch from `earliest` diffs against
    * the pre-creation empty table, so v0's rows arrive as adds.
    * `maxVersionsPerTrigger = 1` gives per-version granularity;
    * larger ranges coalesce to NET changes over the range (a row
    * added then removed inside one range emits nothing — Delta
    * coalesces the same way only at version granularity, so run
    * per-version when the consumer needs every intermediate).
    * Requires per-snapshot-unique `keyCols`, the same contract as
    * [[OccTable.tableChanges]].
    */
  def changesTo(spark: SparkSession, dir: String, checkpointDir: String,
      keyCols: Seq[String], cols: Seq[String],
      sink: (DataFrame, Long) => Unit,
      startingVersion: String = "earliest",
      maxVersionsPerTrigger: Int = 0,
      trigger: Trigger = Trigger.ProcessingTime(0L),
      queryName: Option[String] = None,
      startingTimestamp: Option[Long] = None): StreamingQuery = {
    val writer = feed(spark, dir, startingVersion, maxVersionsPerTrigger,
      startingTimestamp)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // metadata-sized: the batch IS the commit-log slice
        val vs = batch.select("version").collect().map(_.getLong(0))
        if (vs.nonEmpty) {
          val to = vs.max
          val from = vs.min - 1L // exclusive lower bound of the range
          val changes = OccTable
            .tableChanges(spark, dir, from, to, keyCols, cols)
            .withColumn("to_version", org.apache.spark.sql.functions.lit(to))
          sink(changes, to)
        }
        ()
      }
    queryName.fold(writer)(writer.queryName).start()
  }
}
