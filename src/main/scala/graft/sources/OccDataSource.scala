package graft.sources

import java.util

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, And,
  AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual,
  In, InSet, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table,
  TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  PartitionDirectory, PartitioningAwareFileIndex, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation,
  FileScanBuilder}
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetScan, ParquetScanBuilder}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** X142 — the OCC table as a registered Spark data source:
  * `spark.read.format("graft-occ").load(dir)` plans the CURRENT
  * snapshot's live files with the log schema, and an analyst's ad-hoc
  * `WHERE` prunes files AUTOMATICALLY — the same pv ∧ stats ∧ bloom
  * survival decision as [[OccTable.readFiltered]]
  * ([[OccTable.pruneFileSet]] is shared), but driven by Catalyst's
  * pushed data filters instead of a caller picking the right verb.
  * The reference's dashboard pull (streamlit_dashboard.py:74-79 — a
  * `ts >=` range over the telemetry table) becomes a plain filtered
  * read that file-skips without knowing the verb exists.
  *
  * ONE read lane, DataSource V2: [[TableProvider]] → a `SupportsRead`
  * table whose ScanBuilder wraps Spark's own `ParquetScanBuilder` over
  * the log-backed [[OccFileIndex]] — the builder carries filter
  * pushdown (`SupportsPushDownCatalystFilters` → `pushedFilters` on the
  * scan) and column pruning (`readDataSchema`), [[OccScanBuilder]]
  * translates logical↔physical names under a column mapping (X149),
  * and `FileScan.partitions` hands the pushed data filters to
  * [[OccFileIndex.listFiles]], which is where the log-level file
  * skipping happens. The scan also serves
  * `spark.readStream.format("graft-occ")` (X150,
  * [[OccDataLane]]). A path-named read and a SQL catalog
  * table (`CREATE TABLE … USING graft-occ`) resolve the same way.
  *
  * Deletion vectors (X151): a plain parquet scan would resurrect
  * DV-deleted rows, so a BATCH relation over a DV-carrying snapshot
  * never reaches a scan builder — [[OccDvRewrite]], an analysis rule
  * in [[graft.plans.GraftExtensions]] (which [[graft.Session]]
  * installs), replaces it with the plan
  * [[OccTable.applyDvs]] builds: a file relation over the SAME
  * [[OccFileIndex]] anti-joined with the DV sidecars, so pushed
  * filters still reach `listFiles` and prune with the same brain,
  * under any column mapping. [[OccV2Table.newScanBuilder]] refuses a
  * DV-carrying snapshot loudly; only streaming reads and sessions
  * without the extension reach that refusal, so DV correctness never
  * silently depends on the rule being installed.
  *
  * Parquet row-group pushdown and whole-stage codegen carry over;
  * every pruning layer is free of false negatives and Spark re-applies
  * the full residual filter above the scan, so results are identical
  * to the unpruned scan regardless of translation gaps. File metadata
  * (size, modTime) comes from the LOG (X148), so relation open makes
  * zero per-file filesystem calls and `sizeInBytes` feeds join
  * planning without touching storage.
  *
  * Read options (Delta parity): `versionAsOf` / `timestampAsOf` (epoch
  * millis or ISO instant) time-travel the relation; mutually
  * exclusive; streaming adds `startingVersion`/`startingTimestamp`/
  * `maxVersionsPerTrigger`/`onRewrite`.
  */
class OccDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-occ"

  override def supportsExternalMetadata(): Boolean = false

  /** ONE snapshot per read: Spark calls inferSchema then getTable on
    * the same provider instance (instantiated fresh per read), and
    * resolving twice would take two independent snapshots — a commit
    * landing between them lets the resolved schema disagree with the
    * snapshot the scan serves. The instance cache keys on the
    * normalized options so both calls see the same (dir, snapshot,
    * schema) triple; getTable ignores the schema argument BECAUSE it
    * is this cache's own inferSchema result handed back.
    */
  @volatile private var lastResolved
      : Option[(Map[String, String],
                (String, OccTable.Snapshot, StructType))] = None

  private def resolveCached(spark: SparkSession,
      parameters: Map[String, String])
      : (String, OccTable.Snapshot, StructType) = {
    val norm = parameters.map { case (k, v) => k.toLowerCase -> v }
    lastResolved match {
      case Some((p, r)) if p == norm => r
      case _ =>
        val r = OccDataSource.resolve(spark, norm)
        lastResolved = Some((norm, r))
        r
    }
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    resolveCached(SparkSession.active,
      scala.jdk.CollectionConverters
        .MapHasAsScala(options.asCaseSensitiveMap()).asScala.toMap)._3

  override def getTable(schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val spark = SparkSession.active
    val params = scala.jdk.CollectionConverters
      .MapHasAsScala(properties).asScala.toMap
    val (dir, snap, st) = resolveCached(spark, params)
    new OccV2Table(spark, dir, snap, st)
  }
}

private[sources] object OccDataSource {
  /** Option handling: path and time travel. Returns (dir, snapshot,
    * logical schema).
    */
  def resolve(spark: SparkSession, parameters: Map[String, String])
      : (String, OccTable.Snapshot, StructType) = {
    val params = parameters.map { case (k, v) => k.toLowerCase -> v }
    val dir = params.getOrElse("path",
      throw new IllegalArgumentException("graft-occ: no table path — " +
        "spark.read.format(\"graft-occ\").load(<table dir>)"))
    val verOpt = params.get("versionasof").map(v =>
      v.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"graft-occ: versionAsOf must be a version number, got '$v'")))
    val tsOpt = params.get("timestampasof").map(v =>
      v.toLongOption.getOrElse(java.time.Instant.parse(v).toEpochMilli))
    require(verOpt.isEmpty || tsOpt.isEmpty,
      "graft-occ: versionAsOf and timestampAsOf are mutually exclusive")
    val snap = verOpt.map(OccTable.snapshotAt(spark, dir, _))
      .orElse(tsOpt.map(t =>
        OccTable.snapshotAt(spark, dir,
          OccTable.versionAsOf(spark, dir, t))))
      .getOrElse(OccTable.snapshot(spark, dir))
    val schema = snap.schema.getOrElse(throw new IllegalStateException(
      s"graft-occ: legacy log at $dir records no schema"))
    (dir, snap, schema)
  }
}

/** The V2 table: Spark's own parquet ScanBuilder (filter pushdown +
  * column pruning) over the log-backed index — the file skipping rides
  * `FileScan.partitions` → [[OccFileIndex.listFiles]]. Under an active
  * column mapping (X137/X149) the SCAN operates entirely in PHYSICAL
  * name space — the files' bytes, the log's stats/pv/bloom keys, and
  * the parquet row-group filters all speak physical — and only
  * `readSchema()` renames back to logical, which is metadata-only
  * (V2 rows are positional). Catalyst hands logical-named predicates
  * and projections to [[OccScanBuilder]], which translates on the way
  * in, so a pushed filter on a RENAMED column prunes the identical
  * file set the verb API prunes.
  */
final class OccV2Table(spark: SparkSession,
    private[sources] val dir: String,
    private[sources] val snap: OccTable.Snapshot, logicalSchema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"graft-occ($dir@v${snap.version})"
  override def schema(): StructType = logicalSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = {
    // batch reads over DVs are rewritten by OccDvRewrite before any
    // scan is built; what reaches here is streaming, or a session
    // without the extension
    require(snap.dvs.isEmpty,
      s"graft-occ: table at $dir carries deletion vectors at " +
        s"v${snap.version} — a plain parquet scan would resurrect " +
        "deleted rows. Batch reads apply them through " +
        "graft.plans.GraftExtensions (spark.sql.extensions; " +
        "graft.Session installs it); streaming reads cannot — read " +
        "through OccTable.read/readFiltered or purge them " +
        "(OccTable.purgeDvs)")
    val physSchema = OccTable.physicalSchema(logicalSchema, snap.colmap)
    new OccScanBuilder(spark, dir, snap,
      new OccFileIndex(spark, dir, snap, physSchema),
      physSchema,
      logicalSchema.fields.map(f =>
        f.name -> snap.physName(f.name)).toMap,
      options)
  }
}

/** X151 — deletion vectors in the one read lane: replaces a batch
  * [[OccV2Table]] relation whose snapshot carries DVs with the plan
  * [[OccTable.applyDvs]] builds — a parquet file relation over the
  * log-backed [[OccFileIndex]] (physical schema, renamed to logical
  * names under a column mapping) LEFT ANTI joined with the DV sidecars
  * on (`_metadata.file_name`, `row_index`) — projected back onto the
  * relation's own output attributes, so the plan above never notices
  * the swap. Pushed filters cross the rename and the anti-join into
  * the file scan, whose `listFiles` prunes with
  * [[OccFilterTranslation]] exactly as the V2 scan does. Streaming
  * relations are a different node and stay on the V2 scan (which
  * refuses DVs). Injected at post-hoc resolution by
  * [[graft.plans.GraftExtensions]], modelled on
  * [[graft.plans.CosineRewrite]].
  */
final case class OccDvRewrite(session: SparkSession)
    extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case r @ DataSourceV2Relation(t: OccV2Table, _, _, _, _, _)
          if t.snap.dvs.nonEmpty =>
        val physSchema = OccTable.physicalSchema(t.schema(), t.snap.colmap)
        val scan = session.baseRelationToDataFrame(HadoopFsRelation(
          location = new OccFileIndex(session, t.dir, t.snap, physSchema),
          partitionSchema = StructType(Nil),
          dataSchema = physSchema,
          bucketSpec = None,
          fileFormat = new ParquetFileFormat,
          options = Map.empty)(session))
        // analyzed here, so its `_metadata` references are resolved
        val served = OccTable.applyDvs(session, t.dir, t.snap,
          OccTable.logicalView(t.snap, t.schema(), scan))
          .queryExecution.analyzed
        // both outputs follow the logical schema's column order
        Project(r.output.zip(served.output).map { case (a, s) =>
          Alias(s, a.name)(exprId = a.exprId) }, served)
    }
}

/** X149 — the logical↔physical translation layer over Spark's own
  * `ParquetScanBuilder`: Catalyst talks LOGICAL names (the table
  * schema), the inner builder and everything below it (parquet
  * row-group filters, [[OccFileIndex.listFiles]] file skipping, the
  * column-pruned read schema) talk PHYSICAL. Extends `FileScanBuilder`
  * so the optimizer's catalyst-filter pushdown recognizes it, but
  * delegates every decision to the inner builder; `pushFilters`
  * returns the ORIGINAL logical filters as the residual (exactly what
  * `FileScanBuilder` itself does — file-source pushdown is advisory),
  * so a translation gap can only cost pruning, never correctness.
  * Identity translation (unmapped tables) adds nothing but the
  * [[OccParquetScan]] wrapper type.
  */
final class OccScanBuilder(spark: SparkSession, dir: String,
    snap: OccTable.Snapshot, index: OccFileIndex,
    physSchema: StructType, logToPhys: Map[String, String],
    options: CaseInsensitiveStringMap)
    extends FileScanBuilder(spark, index, physSchema) {
  private val inner =
    ParquetScanBuilder(spark, index, physSchema, physSchema, options)
  private val physToLog = logToPhys.collect {
    case (l, p) if l != p => (p, l) }

  private def toPhys(e: Expression): Expression = e.transform {
    case a: AttributeReference if logToPhys.getOrElse(a.name, a.name)
        != a.name => a.withName(logToPhys(a.name))
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    inner.pruneColumns(StructType(requiredSchema.fields.map(f =>
      f.copy(name = logToPhys.getOrElse(f.name, f.name)))))

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    inner.pushFilters(filters.map(toPhys))
    filters // full residual in LOGICAL space, like FileScanBuilder
  }

  override def pushedFilters
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    inner.pushedFilters

  override def build(): Scan = {
    val b = inner.build() // the inner builder's state, fully resolved
    new OccParquetScan(spark, dir, snap, b.hadoopConf, index, physSchema,
      b.readDataSchema, b.readPartitionSchema, b.pushedFilters, options,
      b.partitionFilters, b.dataFilters, physToLog)
  }
}

/** The scan the graft-occ lane produces for DV-free snapshots, batch
  * and streaming: Spark's `ParquetScan` (whole-stage codegen,
  * row-group pushdown, `FileScan.partitions` → the log-backed index)
  * with `readSchema()` renamed back to LOGICAL names under a column
  * mapping — the rows are positional, so the rename is plan-level
  * metadata only. (DV-carrying batch reads are served by
  * [[OccDvRewrite]] over the same index instead.)
  */
final class OccParquetScan(spark: SparkSession, dir: String,
    snap: OccTable.Snapshot,
    hadoopConf: org.apache.hadoop.conf.Configuration,
    index: OccFileIndex, physSchema: StructType,
    readDataSchema: StructType, readPartitionSchema: StructType,
    pushedDataFilters: Array[org.apache.spark.sql.sources.Filter],
    options: CaseInsensitiveStringMap,
    partitionFiltersSeq: Seq[Expression], dataFiltersSeq: Seq[Expression],
    physToLog: Map[String, String])
    extends ParquetScan(spark, hadoopConf, index, physSchema,
      readDataSchema, readPartitionSchema, pushedDataFilters, options,
      None, partitionFiltersSeq, dataFiltersSeq) {
  override def readSchema(): StructType =
    if (physToLog.isEmpty) super.readSchema()
    else StructType(super.readSchema().fields.map(f =>
      f.copy(name = physToLog.getOrElse(f.name, f.name))))

  /** X150: `readStream.format("graft-occ")` — the version-windowed
    * incremental read over this scan's machinery; see [[OccDataLane]].
    */
  override def toMicroBatchStream(
      checkpointLocation: String): org.apache.spark.sql.connector.read
      .streaming.MicroBatchStream =
    new OccVersionStream(dir, options, new OccDataLane(dir, snap, this,
      Option(options.get("onRewrite")).getOrElse("fail")))
}

/** The log-backed file index of the `graft-occ` lane, under both of
  * its scans — the V2 [[OccParquetScan]] and, for DV-carrying
  * snapshots, the file relation [[OccDvRewrite]] plans: the file LIST
  * is the snapshot (never a directory listing — staged or orphaned
  * files are invisible by construction; one root listing only
  * resolves sizes of legacy adds), and [[listFiles]] applies the
  * [[OccTable.pruneFileSet]] survival decision to the translated data
  * filters. Extends [[PartitioningAwareFileIndex]] so Spark's V2
  * parquet ScanBuilder accepts it; the partition spec is empty (the
  * LOG is the source of partitioning truth — layouts stay flat, pv
  * pruning happens here, not via directories). `lastKept` records the
  * most recent decision for the plan-pinning spec.
  */
class OccFileIndex(spark: SparkSession, dir: String,
    snap: OccTable.Snapshot, logicalSchema: StructType)
    extends PartitioningAwareFileIndex(spark, Map.empty,
      Some(logicalSchema)) {
  private val fsys = new Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val qualDir = fsys.makeQualified(new Path(dir))

  // X148: file size/mtime come from the LOG (the add actions record
  // them at commit time — Delta `AddFile.size` parity), so relation
  // open touches the filesystem ZERO times per file: a shallow-cloned
  // 10^6-file table opens from its v0 alone. Only size-less adds
  // (legacy logs) fall back to one root listing plus per-file stats
  // for absolute references.
  private val statusByName: Map[String, FileStatus] = {
    def qualify(n: String): Path =
      fsys.makeQualified(new Path(OccTable.resolvePath(dir, n)))
    val (known, unknown) = snap.files.partition(snap.sizes.contains)
    val fromLog = known.map { n =>
      val (len, mt) = snap.sizes(n)
      n -> new FileStatus(len, false, 1, 134217728L, mt, qualify(n))
    }.toMap
    val legacy: Map[String, FileStatus] =
      if (unknown.isEmpty) Map.empty
      else {
        val local = fsys.listStatus(qualDir).iterator
          .filterNot(_.isDirectory).map(s => s.getPath.getName -> s).toMap
        unknown.map { n =>
          val abs = new Path(n).isAbsolute || n.contains(":/")
          n -> (if (abs) fsys.getFileStatus(new Path(n))
                else local.getOrElse(n, fsys.getFileStatus(qualify(n))))
        }.toMap
      }
    fromLog ++ legacy
  }

  @volatile private[sources] var lastKept: Seq[String] = snap.files

  override def partitionSpec(): PartitionSpec = PartitionSpec.emptySpec
  private lazy val leafMap: mutable.LinkedHashMap[Path, FileStatus] =
    mutable.LinkedHashMap(snap.files.map(n =>
      statusByName(n).getPath -> statusByName(n)): _*)
  override protected def leafFiles
      : mutable.LinkedHashMap[Path, FileStatus] = leafMap
  private lazy val childMap: Map[Path, Array[FileStatus]] =
    Map(qualDir -> snap.files.map(statusByName).toArray)
  override protected def leafDirToChildrenFiles
      : Map[Path, Array[FileStatus]] = childMap
  override def rootPaths: Seq[Path] = Seq(qualDir)
  override def refresh(): Unit = ()
  override def inputFiles: Array[String] =
    snap.files.map(n => OccTable.resolvePath(dir, n)).toArray
  override def sizeInBytes: Long =
    statusByName.valuesIterator.map(_.getLen).sum

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val (pvEq, intervals, equality) =
      OccFilterTranslation.translate(dataFilters)
    val kept = OccTable.pruneFileSet(spark, dir, snap, pvEq, intervals,
      equality)
    lastKept = kept
    Seq(PartitionDirectory(InternalRow.empty,
      kept.map(statusByName).toArray[FileStatus]))
  }
}

/** Catalyst data filters → the [[OccTable.pruneFileSet]] vocabulary:
  * stats INTERVALS (in stat-projection units: epoch micros for
  * timestamps, epoch seconds for dates, double for numerics), BLOOM /
  * pv EQUALITY values (in the write-time `cast("string")` form).
  * Translation is conservative: anything not provably convertible is
  * simply not pruned on (Spark applies the full residual filter above
  * the scan, so skipping a conjunct can never change the result), and
  * an In/EqualTo list is only emitted when EVERY value converts — a
  * partial list would create false negatives.
  */
private[sources] object OccFilterTranslation {
  def translate(filters: Seq[Expression])
      : (Seq[(String, String)], Seq[(String, Double, Double)],
         Seq[(String, Seq[String])]) = {
    val conjuncts = filters.flatMap(splitAnd)
    val pvEq = Seq.newBuilder[(String, String)]
    val intervals = Seq.newBuilder[(String, Double, Double)]
    val equality = Seq.newBuilder[(String, Seq[String])]
    conjuncts.foreach {
      case GreaterThanOrEqual(a: AttributeReference, Literal(v, dt)) =>
        bound(v, dt).foreach(lo =>
          intervals += ((a.name, lo, Double.PositiveInfinity)))
      case GreaterThan(a: AttributeReference, Literal(v, dt)) =>
        bound(v, dt).foreach(lo =>
          intervals += ((a.name, lo, Double.PositiveInfinity)))
      case LessThanOrEqual(a: AttributeReference, Literal(v, dt)) =>
        bound(v, dt).foreach(hi =>
          intervals += ((a.name, Double.NegativeInfinity, hi)))
      case LessThan(a: AttributeReference, Literal(v, dt)) =>
        bound(v, dt).foreach(hi =>
          intervals += ((a.name, Double.NegativeInfinity, hi)))
      // literal-first spellings mirror with the comparison flipped
      case GreaterThanOrEqual(Literal(v, dt), a: AttributeReference) =>
        bound(v, dt).foreach(hi =>
          intervals += ((a.name, Double.NegativeInfinity, hi)))
      case GreaterThan(Literal(v, dt), a: AttributeReference) =>
        bound(v, dt).foreach(hi =>
          intervals += ((a.name, Double.NegativeInfinity, hi)))
      case LessThanOrEqual(Literal(v, dt), a: AttributeReference) =>
        bound(v, dt).foreach(lo =>
          intervals += ((a.name, lo, Double.PositiveInfinity)))
      case LessThan(Literal(v, dt), a: AttributeReference) =>
        bound(v, dt).foreach(lo =>
          intervals += ((a.name, lo, Double.PositiveInfinity)))
      case EqualTo(a: AttributeReference, Literal(v, dt)) if v != null =>
        point(a.name, v, dt, pvEq, intervals, equality)
      case EqualTo(Literal(v, dt), a: AttributeReference) if v != null =>
        point(a.name, v, dt, pvEq, intervals, equality)
      case In(a: AttributeReference, vs)
          if vs.nonEmpty && vs.forall {
            case Literal(v, _) => v != null
            case _ => false
          } =>
        val dt = vs.head.dataType
        val raw = vs.map { case Literal(v, _) => v }
        multi(a.name, raw, dt, intervals, equality)
      case InSet(a: AttributeReference, vs)
          if vs.nonEmpty && !vs.contains(null) =>
        multi(a.name, vs.toSeq, a.dataType, intervals, equality)
      case _ => () // not translatable: residual-only, never wrong
    }
    (pvEq.result(), intervals.result(), equality.result())
  }

  private def splitAnd(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitAnd(l) ++ splitAnd(r)
    case other => Seq(other)
  }

  private def point(name: String, v: Any, dt: DataType,
      pvEq: scala.collection.mutable.Builder[(String, String), _],
      intervals:
        scala.collection.mutable.Builder[(String, Double, Double), _],
      equality:
        scala.collection.mutable.Builder[(String, Seq[String]), _])
      : Unit = {
    bound(v, dt).foreach(d => intervals += ((name, d, d)))
    str(v, dt).foreach { s =>
      pvEq += ((name, s))
      equality += ((name, Seq(s)))
    }
  }

  private def multi(name: String, vs: Seq[Any], dt: DataType,
      intervals:
        scala.collection.mutable.Builder[(String, Double, Double), _],
      equality:
        scala.collection.mutable.Builder[(String, Seq[String]), _])
      : Unit = {
    val ds = vs.map(bound(_, dt))
    if (ds.forall(_.nonEmpty)) {
      val flat = ds.flatten
      intervals += ((name, flat.min, flat.max))
    }
    val ss = vs.map(str(_, dt))
    if (ss.forall(_.nonEmpty)) equality += ((name, ss.flatten))
  }

  /** The literal in [[OccTable.statProjection]] units — Catalyst holds
    * timestamps as epoch MICROS (the projection's unit) and dates as
    * epoch days. Date stats are recorded ZONE-INDEPENDENTLY (epoch
    * days × 86400, `unix_date` on the write side), so the bound is the
    * same fixed arithmetic — no session zone on either side, and a
    * writer/reader zone mismatch can no longer shift a bound and
    * falsely prune.
    */
  private def bound(v: Any, dt: DataType): Option[Double] = dt match {
    case TimestampType => Some(v.asInstanceOf[Long].toDouble)
    case DateType =>
      Some(v.asInstanceOf[Int].toLong * 86400.0)
    case ByteType => Some(v.asInstanceOf[Byte].toDouble)
    case ShortType => Some(v.asInstanceOf[Short].toDouble)
    case IntegerType => Some(v.asInstanceOf[Int].toDouble)
    case LongType => Some(v.asInstanceOf[Long].toDouble)
    case FloatType => Some(v.asInstanceOf[Float].toDouble)
    case DoubleType => Some(v.asInstanceOf[Double])
    case _: DecimalType =>
      Some(v.asInstanceOf[org.apache.spark.sql.types.Decimal].toDouble)
    case _ => None
  }

  /** The literal in the write-time `cast("string")` form — restricted
    * to types whose Catalyst `toString` provably matches it (strings,
    * integrals, booleans); float/timestamp formatting differences
    * would create false negatives.
    */
  private def str(v: Any, dt: DataType): Option[String] = dt match {
    case StringType => Some(v.toString)
    case ByteType | ShortType | IntegerType | LongType => Some(v.toString)
    case BooleanType => Some(v.toString)
    case _ => None
  }
}
