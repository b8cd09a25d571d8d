package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ColumnPath
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation.{DateLogicalTypeAnnotation, DecimalLogicalTypeAnnotation, IntLogicalTypeAnnotation, TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{DOUBLE, FLOAT, INT32, INT64}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, count, expr, input_file_name, lit, max, min, sum, unix_date, unix_micros, when}
import org.apache.spark.sql.types.{ByteType, DataType, DateType, Decimal, DoubleType, FloatType, IntegerType, LongType, NumericType, ShortType, StructField, StructType, TimestampType}

/** Optimistic-concurrency MULTI-WRITER commits over a plain-parquet
  * lake — the Delta-style transaction log the maintenance family
  * (compaction X61, expiry, CDC merge X64/X65) needs the moment two of
  * those processes run against one table at once. Without it, a
  * compactor and a merge job racing on the same directory silently
  * lose one side's files; with it, every commit is an atomic version
  * claim plus file-level conflict detection, and the loser retries on
  * the new snapshot instead of corrupting the table.
  *
  * Protocol (the published Delta/Iceberg OCC shape, file-granular):
  *
  *   - The log at `<dir>/_graft_occ/v<20-digit>` is one file per
  *     version, each listing `add <file>` / `remove <file>` actions.
  *     A snapshot at version V = union of adds minus removes over
  *     v0..vV; data files are UUID-named and IMMUTABLE once committed
  *     (rewrites add new files and remove old ones — never in-place).
  *   - A writer stages its data files into the directory first (unique
  *     names — invisible to readers until referenced by the log), then
  *     claims version `latest + 1` by ATOMIC EXCLUSIVE CREATE of the
  *     version file. Losing the race (file exists) means another
  *     commit landed: re-read the log, re-validate, try `latest + 1`
  *     again.
  *   - Conflict rule, file-granular: a commit that REMOVES files
  *     conflicts with any intervening commit that already removed one
  *     of them (write-write on the same file — the snapshot this
  *     writer transformed is gone) → abort/retry the TRANSFORM, not
  *     just the claim. Pure appends (no removes) never conflict —
  *     the Delta AddFile-only rule — so ingest never blocks behind
  *     compaction; a rewrite racing an append keeps the appended file
  *     (it only removes what it read).
  *   - SCHEMA IN THE LOG (X104, the Delta `metaData` action): v0 and
  *     every evolution commit carry `schema <StructType.json>`; every
  *     commit under a schema-bearing log is stamped
  *     `schemaHash <md5-8>` of the schema in force after it. Appends
  *     whose frame schema is not ADDITIVE against the current log
  *     schema are REFUSED at the commit boundary (before any file is
  *     staged), so X82's evolution discipline is enforced by the
  *     table, not by writer convention. Readers plan with the LOG
  *     schema, so pre-evolution files serve the new columns as null —
  *     the `readEvolved` behavior, but from the commit log instead of
  *     a footer merge. Two concurrent schema-changing commits
  *     conflict (schema changes serialize); plain appends never
  *     conflict with an evolution that read their schema.
  *
  * Crash safety: a writer dying before its claim leaves only
  * unreferenced staged files — readers never see them; [[vacuum]]
  * removes them once they cannot belong to an in-flight writer. A
  * writer dying after the claim has COMMITTED (the version file is
  * the commit point, written via temp + atomic-create so a torn write
  * is impossible).
  *
  * Scale posture: the log is O(#commits) tiny files and snapshot
  * reconstruction is a driver-side fold over them — the same
  * O(metadata) planning cost every table format pays; readers scan
  * only the live file list (explicit paths, no directory listing of
  * data). At 100 TB the data never moves for a commit — only names
  * move through the log.
  */
object OccTable {

  private val LogDirName = "_graft_occ"

  /** Consecutive claim attempts that fail WITHOUT the destination
    * version existing (a transient-IO rename failure, not a lost race)
    * before the commit loop surfaces the filesystem error instead of
    * spinning and burning version numbers.
    */
  private val MaxClaimIoFailures = 10

  final case class Snapshot(version: Long, files: Seq[String],
      txns: Map[String, Long] = Map.empty,
      schemaJson: Option[String] = None,
      stats: Map[String, String] = Map.empty,
      pvs: Map[String, Map[String, String]] = Map.empty,
      blooms: Map[String, Map[String, (Int, Int)]] = Map.empty,
      constraints: Map[String, String] = Map.empty,
      dvs: Map[String, String] = Map.empty,
      colmap: Map[String, String] = Map.empty,
      colTombs: Set[String] = Set.empty,
      gencols: Map[String, String] = Map.empty,
      everMapped: Boolean = false,
      features: Set[String] = Set.empty,
      wfeatures: Set[String] = Set.empty,
      sizes: Map[String, (Long, Long)] = Map.empty) {
    /** The log schema in force at this version, if the log records one
      * (v0 of every table initialized since X104 does).
      */
    def schema: Option[StructType] =
      schemaJson.map(j => DataType.fromJson(j).asInstanceOf[StructType])

    /** Column mapping (X137): the PHYSICAL (file-level) name a logical
      * column's bytes live under. Identity until a rename/drop commits
      * a mapping; unmapped columns are their own physical name.
      */
    def physName(logical: String): String =
      colmap.getOrElse(logical, logical)

    /** X148: every live file carries its log-recorded (size, modTime)
      * — the Delta `AddFile.size` parity that lets the connector open
      * a relation from log metadata alone (zero per-file filesystem
      * RPCs). False for legacy logs whose adds predate the extension.
      */
    def sizesComplete: Boolean = files.forall(sizes.contains)
  }

  /** The parsed action set of one commit (or checkpoint) file.
    * `addStats` carries the per-file column statistics of X117's
    * extended add action (`add <name>\t<stats>`); `addPvs` the
    * per-file partition values of the Delta-parity `partitionValues`
    * extension (`add <name>\t<stats>\tpv=…`); `adds` always holds the
    * bare names, so every pre-X117 consumer (tail source, fold,
    * vacuum) reads every log generation identically.
    */
  final case class Actions(adds: Seq[String], removes: Seq[String],
      txns: Seq[(String, Long)], schemaJson: Option[String],
      schemaHash: Option[String],
      addStats: Map[String, String] = Map.empty,
      addPvs: Map[String, Map[String, String]] = Map.empty,
      addBlooms: Map[String, Map[String, (Int, Int)]] = Map.empty,
      op: Option[String] = None,
      constraintAdds: Seq[(String, String)] = Seq.empty,
      constraintDrops: Seq[String] = Seq.empty,
      addDvs: Map[String, String] = Map.empty,
      colmapSet: Option[Map[String, String]] = None,
      colTombAdds: Seq[String] = Seq.empty,
      gencolAdds: Seq[(String, String)] = Seq.empty,
      gencolDrops: Seq[String] = Seq.empty,
      featureAdds: Seq[String] = Seq.empty,
      wfeatureAdds: Seq[String] = Seq.empty,
      addFs: Map[String, (Long, Long)] = Map.empty)

  /** Thrown when a commit's removes conflict with an intervening
    * commit and retries are exhausted.
    */
  final class ConcurrentWriteException(msg: String)
    extends RuntimeException(msg)

  /** Thrown when a write's rows (or, for [[addCheckConstraint]], the
    * table's existing rows) violate a CHECK constraint — the
    * commit-boundary refusal that keeps a declared invariant true for
    * every row every reader ever sees.
    */
  final class ConstraintViolationException(msg: String)
    extends RuntimeException(msg)

  /** Thrown when a write's frame schema cannot be reconciled with the
    * log schema under the additive rule — the commit-boundary refusal
    * that makes X82's discipline enforced rather than conventional.
    */
  final class SchemaEvolutionException(msg: String)
    extends RuntimeException(msg)

  /** Thrown by [[snapshotAt]]/[[readAt]] when the asked version's data
    * files may have been reclaimed by a [[vacuum]] — the loud guard
    * that turns a would-be missing-file scan error deep in a job into
    * a named refusal at plan time. `vacuumedThrough` is the highest
    * version vacuum stopped guaranteeing; `vacuumedThrough + 1` is the
    * earliest readable history.
    */
  final class VacuumedVersionException(
      val version: Long, val vacuumedThrough: Long)
    extends RuntimeException(
      s"OccTable: version $version was vacuumed away (history " +
        s"reclaimed through $vacuumedThrough; earliest readable " +
        s"version is ${vacuumedThrough + 1})")

  /** Thrown when the log declares a TABLE FEATURE this build does not
    * implement (X139 — Delta's protocol/table-features contract): a
    * reader that does not understand deletion vectors, column mapping,
    * or any future feature must refuse BY NAME instead of silently
    * serving deleted rows or misnamed columns.
    */
  final class UnsupportedTableFeatureException(
      val unsupported: Set[String])
    extends RuntimeException(
      s"OccTable: the log declares table feature(s) this build does " +
        s"not implement: ${unsupported.toSeq.sorted.mkString(", ")} — " +
        "upgrade the engine to use this table")

  /** Every table feature THIS build reads and writes correctly. A
    * feature-declaring commit makes every older reader (one without
    * the name in its set) refuse loudly at snapshot time.
    */
  val SupportedFeatures: Set[String] = Set(
    "deletion_vectors", "column_mapping", "generated_columns",
    "type_widening", "check_constraints")

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A log file name resolves against the table directory UNLESS it is
    * absolute — the Delta `AddFile.path` convention that makes shallow
    * CLONE (X133) possible: a clone's v0 references the source's data
    * files by absolute path, zero bytes copied. Locally-staged names
    * are always relative, so there is no collision.
    */
  private[sources] def resolvePath(dir: String, name: String): String =
    if (new Path(name).isAbsolute ||
        name.contains(":/")) name else s"$dir/$name"

  /** The scan-visible identity of a log name: `_metadata.file_name` is
    * a basename, and basenames stay uuid-unique across clones' absolute
    * references — DV sidecars key on it.
    */
  private def baseName(n: String): String = n.split('/').last

  private def versionPath(dir: String, v: Long): Path =
    new Path(s"$dir/$LogDirName/v${"%020d".format(v)}")

  private def listVersions(fsys: FileSystem, dir: String): Seq[Long] = {
    val log = new Path(s"$dir/$LogDirName")
    if (!fsys.exists(log)) Seq.empty
    else fsys.listStatus(log).toSeq.map(_.getPath.getName)
      .filter(_.matches("v\\d{20}"))
      .map(_.stripPrefix("v").toLong).sorted
  }

  private def checkpointPath(dir: String, v: Long): Path =
    new Path(s"$dir/$LogDirName/v${"%020d".format(v)}.chk")

  /** True iff no commit in (fromVersion, toVersion] replaces the
    * schema or the column mapping — every era in that window reads
    * identically at toVersion (what [[scanFilesAs]] keys on). One
    * version-file read per commit; [[OccWindow]] asks it for the
    * versions between its window and the current snapshot, so a
    * long-lived tail over an ever-mapped table folds no era in the
    * steady state. A truncated or missing file proves nothing and
    * returns false (the caller folds, and the fold's vacuum guard
    * decides).
    */
  private[sources] def metadataStableBetween(spark: SparkSession,
      dir: String, fromVersion: Long, toVersion: Long): Boolean = {
    val fsys = fs(spark, dir)
    ((fromVersion + 1) to toVersion).forall { v =>
      try {
        val a = readActions(fsys, dir, v)
        a.schemaJson.isEmpty && a.colmapSet.isEmpty
      } catch {
        case _: java.io.FileNotFoundException => false
      }
    }
  }

  /** X141 — Delta `_last_checkpoint` parity: a one-line pointer to the
    * latest checkpoint version, written by [[checkpoint]] so that
    * [[snapshot]] opens LISTING-FREE: one pointer read, one checkpoint
    * read, then direct existence probes up the commit tail — no
    * O(#commits) directory listing on the read path, even when the log
    * is never truncated. A missing, torn, or stale pointer degrades to
    * the listing fold, never to a wrong answer; [[truncateLog]] bases
    * retention on the POINTER (not the newest checkpoint file), so a
    * commit above the pointer is never deleted and a pointer-guided
    * tail walk can only miss files a fallback-triggering racer removed
    * mid-fold (caught, re-listed).
    */
  private def lastCheckpointPath(dir: String): Path =
    new Path(s"$dir/$LogDirName/_last_checkpoint")

  /** The X141 pointer's path, for probes/tests that exercise the
    * pointer-less fallback — kept HERE so a probe deleting "the
    * pointer" can never drift from the path [[snapshot]] actually
    * reads if the log layout ever changes.
    */
  private[graft] def lastCheckpointPointerPath(dir: String): Path =
    lastCheckpointPath(dir)

  private def readLastCheckpoint(fsys: FileSystem,
      dir: String): Option[Long] =
    try {
      val p = lastCheckpointPath(dir)
      if (!fsys.exists(p)) None
      else {
        val in = fsys.open(p)
        val s = try scala.io.Source.fromInputStream(in, "UTF-8")
          .mkString.trim finally in.close()
        Some(s.toLong)
      }
    } catch { case _: Exception => None } // torn/corrupt: fall back to listing

  private def writeLastCheckpoint(fsys: FileSystem, dir: String,
      v: Long): Unit = {
    val out = fsys.create(lastCheckpointPath(dir), true)
    try out.write(s"$v\n".getBytes("UTF-8")) finally out.close()
  }

  private def vacuumMarkerPath(dir: String): Path =
    new Path(s"$dir/$LogDirName/vacuumedThrough")

  /** Highest version [[vacuum]] stopped guaranteeing (−1 = never
    * vacuumed / full history intact).
    */
  def vacuumedThrough(spark: SparkSession, dir: String): Long = {
    val fsys = fs(spark, dir)
    val p = vacuumMarkerPath(dir)
    if (!fsys.exists(p)) -1L
    else {
      val in = fsys.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
      finally in.close()
    }
  }

  private def writeVacuumMarker(fsys: FileSystem, dir: String,
      through: Long): Unit = {
    val out = fsys.create(vacuumMarkerPath(dir), true)
    try out.write(s"$through\n".getBytes("UTF-8")) finally out.close()
  }

  private def listCheckpoints(fsys: FileSystem, dir: String): Seq[Long] = {
    val log = new Path(s"$dir/$LogDirName")
    if (!fsys.exists(log)) Seq.empty
    else fsys.listStatus(log).toSeq.map(_.getPath.getName)
      .filter(_.matches("v\\d{20}\\.chk"))
      .map(_.stripPrefix("v").stripSuffix(".chk").toLong).sorted
  }

  private def readActions(fsys: FileSystem, dir: String, v: Long): Actions =
    parseActions(fsys, versionPath(dir, v))

  private def parseActions(fsys: FileSystem, p: Path): Actions = {
    val in = fsys.open(p)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).toList
      finally in.close()
    // add-line fields after the name are prefix-discriminated: `pv=` =
    // partition values, `bf=` = bloom parameters (X126), `dv=` = the
    // deletion-vector sidecar, `fs=` = file size,modTime (X148), any
    // other non-empty field = the stats payload — position-independent,
    // so every log generation parses identically
    val addPairs = lines.collect {
      case s if s.startsWith("add ") => s.stripPrefix("add ")
    }.map { l =>
      val fields = l.split('\t')
      val name = fields.head
      val stats = fields.tail.find(f => f.nonEmpty &&
        !f.startsWith("pv=") && !f.startsWith("bf=") &&
        !f.startsWith("dv=") && !f.startsWith("fs="))
      val pv = fields.tail.find(_.startsWith("pv=")).map(parsePv)
      val bf = fields.tail.find(_.startsWith("bf=")).map(parseBf)
      val dv = fields.tail.find(_.startsWith("dv="))
        .map(f => urlDec(f.stripPrefix("dv=")))
      val fsm = fields.tail.find(_.startsWith("fs=")).map { f =>
        val Array(len, mt) = f.stripPrefix("fs=").split(",", 2)
        (len.toLong, mt.toLong)
      }
      (name, stats, pv, bf, dv, fsm)
    }
    Actions(
      addPairs.map(_._1),
      lines.collect { case s if s.startsWith("remove ") => s.stripPrefix("remove ") },
      lines.collect { case s if s.startsWith("txn ") =>
        val Array(app, ver) = s.stripPrefix("txn ").split(" ", 2)
        (app, ver.toLong)
      },
      lines.collectFirst { case s if s.startsWith("schema ") =>
        s.stripPrefix("schema ") },
      lines.collectFirst { case s if s.startsWith("schemaHash ") =>
        s.stripPrefix("schemaHash ") },
      addPairs.collect { case (n, Some(s), _, _, _, _) => n -> s }.toMap,
      addPairs.collect { case (n, _, Some(p), _, _, _) => n -> p }.toMap,
      addPairs.collect { case (n, _, _, Some(b), _, _) => n -> b }.toMap,
      lines.collectFirst { case s if s.startsWith("op ") =>
        s.stripPrefix("op ") },
      lines.collect { case s if s.startsWith("constraint ") =>
        val Array(n, e) = s.stripPrefix("constraint ").split(" ", 2)
        (n, urlDec(e))
      },
      lines.collect { case s if s.startsWith("dropconstraint ") =>
        s.stripPrefix("dropconstraint ") },
      addPairs.collect { case (n, _, _, _, Some(d), _) => n -> d }.toMap,
      // colmap lines REPLACE the whole mapping (like the schema
      // action); identity entries serialize too, so a rename-back
      // still registers as a mapping commit; `colmapclear` (schema
      // overwrite) resets to identity explicitly
      if (lines.contains("colmapclear")) Some(Map.empty[String, String])
      else Some(lines.collect { case s if s.startsWith("colmap ") =>
        val Array(l, p) = s.stripPrefix("colmap ").split(" ", 2)
        urlDec(l) -> urlDec(p)
      }.toMap).filter(_ => lines.exists(_.startsWith("colmap "))),
      lines.collect { case s if s.startsWith("colmaptomb ") =>
        urlDec(s.stripPrefix("colmaptomb ")) },
      lines.collect { case s if s.startsWith("gencol ") =>
        val Array(n, e) = s.stripPrefix("gencol ").split(" ", 2)
        (n, urlDec(e))
      },
      lines.collect { case s if s.startsWith("dropgencol ") =>
        s.stripPrefix("dropgencol ") },
      lines.collect { case s if s.startsWith("feature ") =>
        s.stripPrefix("feature ") },
      lines.collect { case s if s.startsWith("wfeature ") =>
        s.stripPrefix("wfeature ") },
      addPairs.collect { case (n, _, _, _, _, Some(f)) => n -> f }.toMap)
  }

  /** Commit-log versions and their parsed actions over `(after, upTo]`
    * — the incremental read [[OccWindow.window]] and the action feed
    * ([[OccTailSource]]) plan from. Missing versions in the window mean
    * a truncation outran the reader: fail LOUDLY (a silent skip would
    * silently drop data from the feed).
    */
  def actionsBetween(spark: SparkSession, dir: String, after: Long,
      upTo: Long): Seq[(Long, Actions)] = {
    val fsys = fs(spark, dir)
    val vs = listVersions(fsys, dir).toSet
    ((after + 1) to upTo).map { v =>
      if (!vs.contains(v)) throw new IllegalStateException(
        s"OccTable: commit v$v is gone from $dir/$LogDirName (truncated " +
          "past the reader's offset) — restart the tail from a " +
          "reconstructible version")
      (v, readActions(fsys, dir, v))
    }
  }

  /** Highest committed version (commits or checkpoints), if any. */
  def latestVersion(spark: SparkSession, dir: String): Option[Long] = {
    val fsys = fs(spark, dir)
    (listVersions(fsys, dir) ++ listCheckpoints(fsys, dir)).maxOption
  }

  private def schemaHashOf(json: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(json.getBytes("UTF-8")).map("%02x".format(_)).mkString
      .take(8)

  /** Schema lines a commit carries: the evolution action itself when
    * the schema changes, and the audit stamp of the schema in force
    * after the commit (only once the log records schemas at all —
    * legacy logs stay stamp-free).
    */
  private def schemaLines(newSchemaJson: Option[String],
      inForceAfter: Option[String]): Seq[String] =
    newSchemaJson.map(j => s"schema $j").toSeq ++
      inForceAfter.map(j => s"schemaHash ${schemaHashOf(j)}").toSeq

  /** Serialize a column mapping as FULL-MAP `colmap` lines (X137).
    * Identity entries serialize too — a mapping commit always carries
    * one line per mapped logical column, so the fold's replace-all
    * rule can distinguish "no mapping change" (zero lines) from a
    * mapping that happens to be identity again after a rename-back.
    */
  private def colmapLines(m: Map[String, String]): Seq[String] =
    m.toSeq.sortBy(_._1).map { case (l, p) =>
      s"colmap ${urlEnc(l)} ${urlEnc(p)}" }

  /** A snapshot's FULL declared-metadata state as log lines —
    * constraints, column mapping (with the explicit clear marker for a
    * once-mapped log), tombstones, generation rules, features. The ONE
    * serializer [[checkpoint]] and [[clone]] both use, so a new kind
    * of log state cannot be carried by one and silently dropped by the
    * other.
    */
  private def metaLines(s: Snapshot): Seq[String] =
    s.constraints.toSeq.sortBy(_._1).map { case (n, e) =>
      s"constraint $n ${urlEnc(e)}" } ++
      colmapLines(s.colmap) ++
      (if (s.everMapped && s.colmap.isEmpty) Seq("colmapclear")
       else Seq.empty) ++
      s.colTombs.toSeq.sorted.map(p => s"colmaptomb ${urlEnc(p)}") ++
      s.gencols.toSeq.sortBy(_._1).map { case (n, e) =>
        s"gencol $n ${urlEnc(e)}" } ++
      s.features.toSeq.sorted.map(f => s"feature $f") ++
      s.wfeatures.toSeq.sorted.map(f => s"wfeature $f")

  /** The `feature <name>` declaration a commit must carry on a
    * feature's FIRST use (X139) — empty once declared. The require
    * makes a typo'd name (which would brick the table for every
    * reader, this build included) impossible.
    */
  private def declareFeature(s: Snapshot, name: String,
      writerOnly: Boolean = false): Seq[String] = {
    require(SupportedFeatures.contains(name),
      s"OccTable: declaring unknown feature '$name'")
    if (writerOnly) {
      // X146 reader/writer split (Delta's readerFeatures vs
      // writerFeatures): a writer-only feature constrains WRITERS
      // (enforce the rule at commit time) but any reader serves the
      // materialized bytes correctly — old readers keep working, old
      // writers refuse via [[requireWritable]]
      if (s.wfeatures(name)) Seq.empty else Seq(s"wfeature $name")
    }
    else if (s.features(name)) Seq.empty else Seq(s"feature $name")
  }

  /** X146 WRITER gate — the write-side half of the feature protocol:
    * refuse to COMMIT against a table declaring writer-only features
    * this build does not implement (an unenforced CHECK constraint or
    * generation rule would corrupt the table's contract), while
    * readers tolerate the same declarations (the data is materialized
    * — Delta's reader/writer feature split). Every data- or
    * metadata-committing verb calls this on its fresh snapshot.
    */
  private def requireWritable(snap: Snapshot): Unit = {
    val unknown = snap.wfeatures -- SupportedFeatures
    if (unknown.nonEmpty) throw new UnsupportedTableFeatureException(unknown)
  }

  /** One add action line: `add <name>`, `add <name>\t<stats>` (X117,
    * the tab-extended Delta `AddFile.stats` shape), with the file's
    * partition values as a `pv=k=v;…` field (Delta `AddFile
    * .partitionValues` parity), with the file's bloom-index
    * parameters as a `bf=col:m:k;…` field (X126 — the bits live in
    * sidecars, [[OccBloom]]), and/or with the file's size and modTime
    * as a `fs=<bytes>,<epochMillis>` field (X148 — Delta
    * `AddFile.size`/`modificationTime` parity, what lets a reader
    * build its FileIndex from the log alone). Fields after the name
    * are PREFIX-DISCRIMINATED, not positional (`pv=`/`bf=`/`dv=`/
    * `fs=`/anything else = stats), so every log generation parses
    * identically.
    */
  private def addLine(name: String, stats: Option[String],
      pv: Option[Map[String, String]] = None,
      bf: Option[Map[String, (Int, Int)]] = None,
      dv: Option[String] = None,
      fsMeta: Option[(Long, Long)] = None): String = {
    val pvField = pv.filter(_.nonEmpty).map(m =>
      "pv=" + m.toSeq.sortBy(_._1).map { case (k, v) =>
        s"${urlEnc(k)}=${urlEnc(v)}" }.mkString(";"))
    val bfField = bf.filter(_.nonEmpty).map(m =>
      "bf=" + m.toSeq.sortBy(_._1).map { case (c, (mm, kk)) =>
        s"${urlEnc(c)}:$mm:$kk" }.mkString(";"))
    val dvField = dv.map(n => s"dv=${urlEnc(n)}")
    val fsField = fsMeta.map { case (len, mt) => s"fs=$len,$mt" }
    val fields = stats.toSeq ++ pvField.toSeq ++ bfField.toSeq ++
      dvField.toSeq ++ fsField.toSeq
    if (fields.isEmpty) s"add $name"
    else s"add $name\t${fields.mkString("\t")}"
  }

  /** X148 write-side stat: the (size, modTime) of a just-staged file,
    * recorded in its add action so readers never pay a per-file
    * filesystem RPC. Best-effort BY DESIGN: a name the filesystem
    * cannot stat (a test's fabricated add, a racing delete) simply
    * commits size-less — readers fall back to listing for exactly
    * those files, never to a wrong answer. O(#adds) per commit, the
    * same class as the staged-footer stats read.
    */
  private def statFsMeta(fsys: FileSystem, dir: String,
      name: String): Option[(Long, Long)] =
    try {
      val st = fsys.getFileStatus(new Path(resolvePath(dir, name)))
      Some((st.getLen, st.getModificationTime))
    } catch { case scala.util.control.NonFatal(_) => None }

  private def parseBf(field: String): Map[String, (Int, Int)] =
    field.stripPrefix("bf=").split(';').iterator.filter(_.nonEmpty).map {
      ent =>
        val parts = ent.split(':')
        require(parts.length == 3,
          s"OccTable: malformed bloom entry '$ent'")
        urlDec(parts(0)) -> ((parts(1).toInt, parts(2).toInt))
    }.toMap

  private def urlEnc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def urlDec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  private def parsePv(field: String): Map[String, String] =
    field.stripPrefix("pv=").split(';').iterator.filter(_.nonEmpty).map {
      kv =>
        val i = kv.indexOf('=')
        require(i > 0, s"OccTable: malformed partition-value entry '$kv'")
        urlDec(kv.substring(0, i)) -> urlDec(kv.substring(i + 1))
    }.toMap

  /** Per-file stats encoding: `rows=<n>|<col>=<min>,<max>,<nulls>|…`
    * with min/max as `Double.toString` of the column's STAT PROJECTION
    * (numerics cast to double; timestamps as epoch micros — exact in a
    * double below 2^53) and empty when the file's column is all-NULL.
    * A zero bound is written `0.0` whatever its sign: -0.0 and 0.0
    * compare equal in every interval test, and parquet footers report
    * a zero min as -0.0. Deterministic and order-fixed, so checkpoints
    * re-emit byte-equal lines.
    */
  private[sources] def encodeStats(rows: Long,
      cols: Seq[(String, Option[Double], Option[Double], Long)]): String =
    (s"rows=$rows" +: cols.map { case (c, mn, mx, nulls) =>
      def bound(v: Option[Double]) = v.map(d => (d + 0.0).toString)
        .getOrElse("")
      s"$c=${bound(mn)},${bound(mx)},$nulls"
    }).mkString("|")

  /** Parse one column's (min, max) out of a stats string; None when the
    * column is untracked, Some((None, None, …)) when all-NULL. A NaN
    * bound (logs written before stats came from footers recorded
    * `max=NaN` for a NaN-bearing file) reads as untracked: every
    * interval test against NaN is false, which would prune the file.
    */
  private[sources] def statsFor(stats: String, c: String)
      : Option[(Option[Double], Option[Double])] =
    stats.split('|').toSeq.collectFirst {
      case s if s.startsWith(s"$c=") =>
        val parts = s.stripPrefix(s"$c=").split(",", -1)
        (Option(parts(0)).filter(_.nonEmpty).map(_.toDouble),
          Option(parts(1)).filter(_.nonEmpty).map(_.toDouble))
    }.filterNot { case (mn, mx) => (mn ++ mx).exists(_.isNaN) }

  /** The column's recorded null count — what lets [[deleteRange]] prove
    * a file is ALL-match (droppable without reading): a null never
    * satisfies an interval predicate, so full-drop needs nulls == 0.
    */
  private[sources] def statsNullsFor(stats: String, c: String): Option[Long] =
    stats.split('|').toSeq.collectFirst {
      case s if s.startsWith(s"$c=") =>
        s.stripPrefix(s"$c=").split(",", -1)(2).toLong
    }

  /** The STAT PROJECTION of a column — what min/max are computed over
    * and what [[readPruned]]'s bounds are expressed in: timestamps as
    * epoch micros, dates as epoch days × 86400 (zone-INDEPENDENT —
    * `cast(date as timestamp)` lands on local midnight in the writing
    * session's zone, so a stats file written under one zone would be
    * pruned against bounds computed under another, silently dropping
    * rows; `unix_date` has no zone input on either side), numerics as
    * double. Refuses other types loudly (a silently-untracked column
    * would read as "never prunable"). Logs whose date stats predate
    * this rule were written under the harness's pinned UTC session,
    * where the two formulas coincide.
    */
  private[sources] def statProjection(schema: StructType, c: String): Column =
    schema(c).dataType match {
      case TimestampType => unix_micros(col(c)).cast("double")
      case DateType => unix_date(col(c)).cast("double") * lit(86400.0)
      case _: NumericType => col(c).cast("double")
      case dt => throw new IllegalArgumentException(
        s"OccTable stats: unsupported type ${dt.simpleString} for column $c")
    }

  /** Staged files read back in LOGICAL column space: physical names
    * renamed through the mapping, log columns the batch legally omits
    * filled as typed nulls (so declared expressions analyze). Shared by
    * the validating and the bloom-building passes.
    */
  private def stagedLogicalScan(spark: SparkSession, dir: String,
      names: Seq[String], colmap: Map[String, String],
      schemaJson: Option[String])
      : (DataFrame, Map[String, String]) = {
    val raw = spark.read.parquet(names.map(n => resolvePath(dir, n)): _*)
    val physToLog = colmap.collect {
      case (l, p) if l != p && raw.columns.contains(p) => (p, l) }
    val renamed = physToLog.foldLeft(raw) { case (d, (p, l)) =>
      d.withColumnRenamed(p, l) }
    // an ADDITIVE batch may legally omit nullable log columns; a
    // declared expression referencing one must see NULL (what the
    // committed scan will serve), not fail analysis — fill the
    // missing log columns as typed nulls before evaluating
    val scan = schemaJson.map(j =>
      DataType.fromJson(j).asInstanceOf[StructType].fields
        .filterNot(f => renamed.columns.contains(f.name))
        .foldLeft(renamed)((d, f) =>
          d.withColumn(f.name, lit(null).cast(f.dataType))))
      .getOrElse(renamed)
    (scan, physToLog)
  }

  /** The declared rules a staged scan is checked against, as per-row
    * violation indicators (1 = the row breaks the rule): the CHECK
    * constraints, then the GENERATED columns. A generation rule whose
    * column the staged schema lacks cannot be validated here (and
    * cannot be violated — no bytes); callers compute absent generated
    * columns into the batch, so that filter is a no-op on the write
    * paths.
    */
  private def ruleIndicators(schema: StructType,
      constraints: Map[String, String], gencols: Map[String, String])
      : (Seq[(String, String)], Seq[(String, String)], Seq[Column]) = {
    val cNamed = constraints.toSeq.sortBy(_._1)
    val gNamed = gencols.toSeq.sortBy(_._1)
      .filter { case (n, _) => schema.fieldNames.contains(n) }
    (cNamed, gNamed,
      cNamed.map { case (_, e) =>
        when(expr(e) === lit(false), 1L).otherwise(0L) } ++
      gNamed.map { case (n, e) =>
        when(!(col(n) <=> expr(e)), 1L).otherwise(0L) })
  }

  /** Refuse a staged write whose rows break a declared rule; `total(i)`
    * is the violating row count of [[ruleIndicators]]' i-th rule. The
    * staged part files AND any bloom sidecars already written are
    * deleted before the exception surfaces, so a refused write leaves
    * no unreferenced garbage behind.
    */
  private def refuseViolations(spark: SparkSession, dir: String,
      names: Seq[String], blooms: Seq[OccBloom.BloomCol], what: String,
      cNamed: Seq[(String, String)], gNamed: Seq[(String, String)],
      total: Int => Long): Unit = {
    val cBad = cNamed.zipWithIndex.collect {
      case ((n, e), i) if total(i) > 0 =>
        s"$n (${total(i)} rows violate `$e`)" }
    val gBad = gNamed.zipWithIndex.collect {
      case ((n, e), i) if total(cNamed.size + i) > 0 =>
        s"$n (${total(cNamed.size + i)} rows differ from `$e`)" }
    if (cBad.nonEmpty || gBad.nonEmpty) {
      discardStaged(spark, dir, names, blooms)
      if (cBad.nonEmpty) throw new ConstraintViolationException(
        s"OccTable: $what violates CHECK constraint(s) " +
          cBad.mkString("; "))
      throw new ConstraintViolationException(
        s"OccTable: $what violates GENERATED column(s) " +
          gBad.mkString("; "))
    }
  }

  /** X140 — post-stage validation (the guarantee of Delta's
    * InvariantCheckExec, anchored on the staged bytes): the write
    * batch's lineage executes EXACTLY ONCE — in the staging write — and
    * every write-time contract (CHECK constraints, GENERATED-column
    * agreement) is validated against the STAGED FILES in one global
    * aggregation over them. This closes the validate/stage TOCTOU of
    * the pre-X140 path, where a NONDETERMINISTIC batch (rand(),
    * uncheckpointed sampling) could pass validation on one evaluation
    * and stage different bytes on the next, and removes the up-to-3x
    * re-evaluation of an expensive batch lineage (validate-gencols,
    * validate-constraints, stage). Staged bytes live under PHYSICAL
    * names (X137) while declared expressions speak LOGICAL names — the
    * scan is renamed to logical space for evaluation. Validating a
    * COMPUTED generated column re-evaluates its expression over the
    * staged bytes — sound because declared expressions are required
    * deterministic (see [[requireDeterministic]]), and it upgrades "we
    * computed it" to "the committed bytes satisfy name = expr", the
    * X138 invariant. No rules, no scan. Computes no stats: those come
    * from the footers ([[footerStats]]).
    */
  private def validateStaged(spark: SparkSession, dir: String,
      names: Seq[String], colmap: Map[String, String],
      constraints: Map[String, String], gencols: Map[String, String],
      what: String, schemaJson: Option[String]): Unit = {
    if (names.isEmpty || (constraints.isEmpty && gencols.isEmpty)) return
    val (scan, _) = stagedLogicalScan(spark, dir, names, colmap,
      schemaJson)
    val (cNamed, gNamed, rules) =
      ruleIndicators(scan.schema, constraints, gencols)
    if (rules.isEmpty) return
    val totals = rules.map(r => coalesce(sum(r), lit(0L)))
    val row = scan.agg(totals.head, totals.tail: _*).head()
    refuseViolations(spark, dir, names, Seq.empty, what, cNamed, gNamed,
      row.getLong)
  }

  /** Bloom build + validation over just-staged files (X126 + X140;
    * guide §1.2: don't scan the same bytes twice): ONE shuffled pass
    * over the new batch grouped by file builds every requested bloom
    * and totals any CHECK / GENERATED violations. Every per-row input
    * (violation indicators, bloom value strings) is computed as codegen
    * expressions BEFORE the per-file grouping; the group fold streams
    * the bloom bit sets into fixed-size arrays (sized by the DECLARED
    * `numItems`/`fpp`, so no key buffering), and the sidecars are
    * written FROM THE EXECUTORS ([[OccBloom]] layout; the bits never
    * centralize on the driver — a bulk init committing 10^6 files would
    * otherwise ship a terabyte of bitsets through one JVM). Null values
    * are not added (an equality lookup never matches NULL); sidecar
    * writes are idempotent overwrites, so task retries re-emit
    * identical bytes. Zero-row part files get no bloom (unprunable,
    * safe). Computes no stats: those come from the footers
    * ([[footerStats]]).
    */
  private def stagedBlooms(spark: SparkSession, dir: String,
      names: Seq[String], colmap: Map[String, String],
      constraints: Map[String, String], gencols: Map[String, String],
      blooms: Seq[OccBloom.BloomCol], what: String,
      schemaJson: Option[String])
      : Map[String, Map[String, (Int, Int)]] = {
    require(blooms.map(_.col).distinct.size == blooms.size,
      s"OccTable blooms: duplicate column in ${blooms.map(_.col)}")
    val (scan, physToLog) = stagedLogicalScan(spark, dir, names, colmap,
      schemaJson)
    val (cNamed, gNamed, rules) =
      ruleIndicators(scan.schema, constraints, gencols)
    val specs = blooms.map(b =>
      (b.col, OccBloom.params(b.numItems, b.fpp))).toArray
    val valCols = specs.toSeq.map { case (c, _) =>
      col(physToLog.getOrElse(c, c)).cast("string") }
    val projected = scan.select(
      (input_file_name() +: (rules ++ valCols))
        .zipWithIndex.map { case (c, i) => c.as(s"__p$i") }: _*)
    val nRules = rules.size
    val dirStr = dir
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    import spark.implicits._
    val perFile = projected
      .groupByKey(_.getString(0))
      .mapGroups { (fpath, rows) =>
        val fname = fpath.split('/').last
        val viol = new Array[Long](nRules)
        val bits = specs.map { case (_, (m, _)) =>
          new Array[Byte]((m + 7) / 8) }
        rows.foreach { r =>
          var j = 0
          while (j < nRules) {
            viol(j) += r.getLong(1 + j)
            j += 1
          }
          var b = 0
          while (b < specs.length) {
            val v = r.getString(1 + nRules + b)
            if (v != null) {
              val (c, (m, k)) = specs(b)
              OccBloom.add(bits(b), c, v, m, k)
            }
            b += 1
          }
        }
        val fsysT = new Path(dirStr).getFileSystem(conf.value)
        specs.zipWithIndex.foreach { case ((c, (m, k)), b) =>
          OccBloom.write(fsysT,
            OccBloom.sidecarPath(dirStr, fname, c), m, k, bits(b))
        }
        (fname, viol)
      }.collect()
    refuseViolations(spark, dir, names, blooms, what, cNamed, gNamed,
      i => perFile.map(_._2(i)).sum)
    val paramMap = specs.map { case (c, (m, k)) => c -> ((m, k)) }.toMap
    perFile.map(t => t._1 -> paramMap).toMap
  }

  /** X117 per-file stats off the staged files' PARQUET FOOTERS: the
    * writer already recorded, per row group, the row count and, per
    * column chunk, the null count and min/max — the numbers a grouped
    * scan of the just-written bytes would recompute (Iceberg collects
    * file metrics from footers for the same reason). Keyed by staged
    * name, in [[encodeStats]]' format; zero-row files get no stats.
    * Footers of up to `driverMax` files are read on the driver (no
    * Spark job); above it ONE job reads them across executors, the
    * [[bloomPrunedFiles]] pattern (`driverMax` is a knob for tests).
    */
  private[sources] def footerStats(spark: SparkSession, dir: String,
      names: Seq[String], physStatsCols: Seq[String],
      driverMax: Int = BloomProbeDriverMax): Map[String, String] = {
    if (physStatsCols.isEmpty) return Map.empty
    val paths = names.map(n => n -> resolvePath(dir, n))
    val cols = physStatsCols
    val perFile =
      if (paths.size <= driverMax) {
        val conf = spark.sparkContext.hadoopConfiguration
        paths.flatMap { case (n, p) =>
          fileFooterStats(conf, p, cols).map(n -> _) }
      } else {
        val conf = new org.apache.spark.util.SerializableConfiguration(
          spark.sparkContext.hadoopConfiguration)
        val slices = math.max(1, math.min(paths.size,
          spark.sparkContext.defaultParallelism * 2))
        spark.sparkContext.parallelize(paths, slices).flatMap {
          case (n, p) => fileFooterStats(conf.value, p, cols).map(n -> _)
        }.collect().toSeq
      }
    perFile.toMap
  }

  /** One file's footer folded into its stats string; None for a
    * zero-row file. Per stats column (physical name) the row groups'
    * null counts sum and their min/max fold in the stat projection's
    * double ([[footerProjection]]). A column the file lacks is
    * all-NULL (the log schema serves it as null). A column is
    * UNTRACKED — no entry, so [[statsFor]] never prunes the file — when
    * a row group holding non-null values has no usable min/max: INT96
    * or another type without a projection, statistics missing, or a
    * NaN present (parquet-mr then leaves the chunk's min/max undefined;
    * the NaN test here guards writers that do not).
    */
  private def fileFooterStats(conf: Configuration, path: String,
      cols: Seq[String]): Option[String] = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(path), conf))
    val footer = try reader.getFooter finally reader.close()
    val blocks = footer.getBlocks.asScala.toSeq
    val rows = blocks.map(_.getRowCount).sum
    if (rows == 0L) return None
    val schema = footer.getFileMetaData.getSchema
    def colStats(c: String): Option[(Option[Double], Option[Double], Long)] =
      if (!schema.containsField(c)) Some((None, None, rows))
      else {
        val t = schema.getType(schema.getFieldIndex(c))
        val proj =
          if (t.isPrimitive) footerProjection(t.asPrimitiveType) else None
        val cp = ColumnPath.get(c)
        blocks.foldLeft(Option((Option.empty[Double], Option.empty[Double],
            0L))) {
          case (None, _) => None
          case (Some((mn, mx, nulls)), b) =>
            b.getColumns.asScala.find(_.getPath == cp)
              .map(_.getStatistics)
              .filter(st => st != null && st.isNumNullsSet)
              .flatMap { st =>
                val n = nulls + st.getNumNulls
                if (!st.hasNonNullValue)
                  // no bounds: usable only when the chunk is all-NULL
                  if (st.getNumNulls >= b.getRowCount) Some((mn, mx, n))
                  else None
                else proj
                  .map(f => (f(st.genericGetMin.asInstanceOf[AnyRef]),
                    f(st.genericGetMax.asInstanceOf[AnyRef])))
                  .filterNot { case (lo, hi) => lo.isNaN || hi.isNaN }
                  .map { case (lo, hi) =>
                    (Some(mn.fold(lo)(math.min(_, lo))),
                      Some(mx.fold(hi)(math.max(_, hi))), n)
                  }
              }
        }
      }
    Some(encodeStats(rows, cols.flatMap(c =>
      colStats(c).map { case (mn, mx, n) => (c, mn, mx, n) })))
  }

  /** A footer min/max value in [[statProjection]]'s units, by the
    * column's parquet type: TIMESTAMP(MICROS) as is and (MILLIS)
    * × 1000, DATE days × 86400, signed integers and floats as is,
    * DECIMAL through Spark's own `Decimal.toDouble` (what the read
    * side's `cast("double")` computes). None — untracked — for every
    * other type (INT96, unsigned, NANOS, non-numeric).
    */
  private def footerProjection(t: PrimitiveType): Option[AnyRef => Double] =
    (t.getPrimitiveTypeName, t.getLogicalTypeAnnotation) match {
      case (_, d: DecimalLogicalTypeAnnotation) => Some { v =>
        val unscaled = v match {
          case b: Binary => new java.math.BigInteger(b.getBytes)
          case n => java.math.BigInteger.valueOf(
            n.asInstanceOf[Number].longValue)
        }
        Decimal(new java.math.BigDecimal(unscaled, d.getScale),
          d.getPrecision, d.getScale).toDouble
      }
      case (INT64, ts: TimestampLogicalTypeAnnotation) => ts.getUnit match {
        case TimeUnit.MICROS =>
          Some(v => v.asInstanceOf[Number].longValue.toDouble)
        case TimeUnit.MILLIS =>
          Some(v => (v.asInstanceOf[Number].longValue * 1000L).toDouble)
        case _ => None
      }
      case (INT32, _: DateLogicalTypeAnnotation) =>
        Some(v => v.asInstanceOf[Number].intValue * 86400.0)
      case (INT32 | INT64, i: IntLogicalTypeAnnotation) if i.isSigned =>
        Some(v => v.asInstanceOf[Number].doubleValue)
      case (INT32 | INT64 | FLOAT | DOUBLE, null) =>
        Some(v => v.asInstanceOf[Number].doubleValue)
      case _ => None
    }

  /** Everything a commit records about its just-staged files beyond
    * their names: X117 stats read off the parquet footers
    * ([[footerStats]] — no Spark job), X126 blooms from one grouped
    * pass ([[stagedBlooms]]) that also validates, and CHECK / GENERATED
    * validation alone ([[validateStaged]]) when no bloom is asked. A
    * scan runs only for that row-level work. Validation runs first: a
    * refused write has deleted its staged files before any footer is
    * read. A stats column the table schema cannot project is refused
    * before any IO (a silently-untracked column would read as "never
    * prunable").
    */
  private def stagedStatsAndBlooms(spark: SparkSession, dir: String,
      names: Seq[String], colmap: Map[String, String],
      constraints: Map[String, String], gencols: Map[String, String],
      physStatsCols: Seq[String], blooms: Seq[OccBloom.BloomCol],
      what: String, schemaJson: Option[String])
      : (Map[String, String], Map[String, Map[String, (Int, Int)]]) = {
    if (names.isEmpty) return (Map.empty, Map.empty)
    physStatsCols.foreach(c => require(!c.exists("|=,\t\n".contains(_)),
      s"OccTable stats: column name '$c' contains a reserved character"))
    val physToLog = colmap.map(_.swap)
    schemaJson.map(DataType.fromJson(_).asInstanceOf[StructType])
      .foreach(st => physStatsCols.foreach(p =>
        statProjection(st, physToLog.getOrElse(p, p))))
    val bloomMap =
      if (blooms.isEmpty) {
        validateStaged(spark, dir, names, colmap, constraints, gencols,
          what, schemaJson)
        Map.empty[String, Map[String, (Int, Int)]]
      } else stagedBlooms(spark, dir, names, colmap, constraints, gencols,
        blooms, what, schemaJson)
    (footerStats(spark, dir, names, physStatsCols), bloomMap)
  }

  /** Planning-time EQUALITY file skipping off the bloom index (X126):
    * plan only the live files whose bloom for `c` says MAYBE for at
    * least one of `values` (string form — the value's `cast("string")`
    * at build time), composed with [[readPartitionPruned]]'s stats
    * intervals, with the exact `isin` residual kept so the result is
    * identical to the unpruned scan regardless of false positives.
    * Files without a bloom on `c` (legacy commits, bloom-free appends)
    * are NEVER pruned; a missing or header-mismatched sidecar degrades
    * to unprunable. Probe cost: one sidecar load (≤ 1 MiB) per
    * stats-surviving candidate file, DISTRIBUTED across executors
    * above [[BloomProbeDriverMax]] candidates — the driver receives
    * only the MAYBE names (true holders + fpp × #files), so planning a
    * point lookup over 10⁵–10⁶ files costs one short Spark job, not
    * minutes of serial driver filesystem reads.
    */
  def readEqualityPruned(spark: SparkSession, dir: String, c: String,
      values: Seq[String],
      preds: Seq[(String, Double, Double)] = Seq.empty): DataFrame =
    readFiltered(spark, dir, intervals = preds,
      equality = Some((c, values)))

  /** Probe-able file counts up to this run the sidecar probe as a
    * serial driver loop (small tables: no job-scheduling overhead);
    * above it the probe DISTRIBUTES across executors — at 100 TB file
    * counts (10⁵–10⁶ live files) a serial loop is that many sequential
    * filesystem reads per point lookup, minutes of driver stall on
    * object storage before the query even plans. Delta probes its
    * bloom index executor-side for the same reason.
    */
  private[sources] val BloomProbeDriverMax = 64

  /** One sidecar probe: MAYBE-contains any of `values`, with every
    * unreadable/mismatched sidecar degrading to unprunable (true).
    * Called on the driver below [[BloomProbeDriverMax]] probe-able
    * files and inside executor tasks above it — same bytes, same
    * verdict, by construction.
    */
  private def probeSidecar(fsys: FileSystem, dir: String, f: String,
      c: String, values: Seq[String], m: Int, k: Int): Boolean =
    OccBloom.load(fsys, OccBloom.sidecarPath(dir, f, c), m, k) match {
      case None => true // sidecar unreadable: degrade to unprunable
      case Some(bits) =>
        values.exists(v => OccBloom.maybeContains(bits, c, v, m, k))
    }

  /** The bloom-skipping decision, exposed for audits: live files whose
    * bloom for `c` admits at least one of `values`, plus every file
    * that cannot be probed (no recorded bloom, missing sidecar).
    * Sidecar IO is distributed across executors above
    * [[BloomProbeDriverMax]] probe-able files (`driverMax` is a knob
    * for tests only); the driver collects ONLY the MAYBE names —
    * bounded by true holders + fpp × #files, never O(#live files) IO.
    */
  private[sources] def bloomPrunedFiles(spark: SparkSession, dir: String,
      snap: Snapshot, cLogical: String, values: Seq[String],
      driverMax: Int = BloomProbeDriverMax): Seq[String] = {
    // bloom params, sidecar names, AND the hash seed all use the
    // write-time PHYSICAL column name (X137) — the build did
    val c = snap.physName(cLogical)
    val params = snap.files.flatMap(f =>
      snap.blooms.get(f).flatMap(_.get(c)).map(f -> _)).toMap
    if (params.isEmpty || values.isEmpty) return snap.files
    val maybe: Set[String] =
      if (params.size <= driverMax) {
        val fsys = fs(spark, dir)
        params.collect { case (f, (m, k))
          if probeSidecar(fsys, dir, f, c, values, m, k) => f }.toSet
      } else {
        val conf = new org.apache.spark.util.SerializableConfiguration(
          spark.sparkContext.hadoopConfiguration)
        val dirStr = dir
        val colName = c
        val vals = values
        val slices = math.max(1, math.min(params.size,
          spark.sparkContext.defaultParallelism * 2))
        spark.sparkContext.parallelize(params.toSeq, slices)
          .filter { case (f, (m, k)) =>
            val fsysT = new Path(dirStr).getFileSystem(conf.value)
            probeSidecar(fsysT, dirStr, f, colName, vals, m, k)
          }.map(_._1).collect().toSet
      }
    // preserve snapshot order: unprobeable files survive, probed files
    // survive only on MAYBE
    snap.files.filter(f => !params.contains(f) || maybe(f))
  }

  /** Planning-time FILE SKIPPING off the log stats (X117 — Delta data
    * skipping inside the OCC table): plan only the live files whose
    * recorded [min, max] of `c`'s stat projection intersects
    * [lo, hi], with the residual filter kept for edge exactness. Files
    * without stats (legacy commits, stats-free appends, zero-row
    * parts) are NEVER pruned; an all-NULL file IS pruned (an interval
    * filter excludes nulls). Bounds are in the stat projection's units
    * (epoch micros for timestamps). Returns the filtered frame; the
    * pruning itself is metadata-only — O(#live files) driver work off
    * the snapshot, no data read for skipped files.
    */
  def readPruned(spark: SparkSession, dir: String, c: String,
      lo: Double, hi: Double): DataFrame =
    readPrunedMulti(spark, dir, Seq((c, lo, hi)))

  /** [[readPruned]] over a CONJUNCTION of intervals: a file survives
    * only if EVERY predicate's stats interval intersects — pruning
    * power multiplies across independent columns (the z-order
    * use case: a layout clustered on two keys skips on both).
    */
  def readPrunedMulti(spark: SparkSession, dir: String,
      preds: Seq[(String, Double, Double)]): DataFrame =
    readPartitionPruned(spark, dir, Seq.empty, preds)

  /** PARTITION PRUNING off the log (Delta `partitionValues` parity,
    * composed with X117 stats skipping): plan only the live files
    * whose log-recorded partition values equal every `pvEq` entry AND
    * whose stats intervals intersect every `preds` entry. Values
    * compare in string form (the form the log records — a value's
    * `cast("string")` at write time); files without recorded values
    * for an asked key (legacy commits, compaction rewrites) are NEVER
    * pruned, and the exact residual filter keeps the result identical
    * to the unpruned scan regardless. Metadata-only: O(#live files)
    * driver work off the snapshot, untouched partitions' files never
    * enter the plan.
    */
  def readPartitionPruned(spark: SparkSession, dir: String,
      pvEq: Seq[(String, String)],
      preds: Seq[(String, Double, Double)] = Seq.empty): DataFrame =
    readFiltered(spark, dir, pvEq = pvEq, intervals = preds)

  /** THE pruned-read core (round-17 unification): every planning-time
    * pruning layer — log `partitionValues` equality, X117 stats
    * intervals, X126 bloom equality — composes HERE, in one place,
    * together with deletion-vector application and the exact residual
    * filters, so a new verb (or a reader added later) cannot
    * accidentally skip a layer. File survival is the conjunction:
    * pv-match AND every-interval-intersects AND bloom-says-MAYBE;
    * every layer is free of false negatives and the residuals keep the
    * result identical to the unpruned scan regardless of false
    * positives. [[readPruned]]/[[readPrunedMulti]]/
    * [[readPartitionPruned]]/[[readEqualityPruned]] are thin aliases.
    */
  def readFiltered(spark: SparkSession, dir: String,
      pvEq: Seq[(String, String)] = Seq.empty,
      intervals: Seq[(String, Double, Double)] = Seq.empty,
      equality: Option[(String, Seq[String])] = None): DataFrame = {
    require(pvEq.nonEmpty || intervals.nonEmpty || equality.nonEmpty,
      "OccTable.readFiltered: no predicates")
    equality.foreach { case (c, vs) => require(vs.nonEmpty,
      s"OccTable.readFiltered: no equality values for '$c'") }
    val snap = snapshot(spark, dir)
    val kept = pruneFileSet(spark, dir, snap, pvEq, intervals,
      equality.toSeq)
    val st = snap.schema
    val base = (st, kept) match {
      case (Some(s), Seq()) =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
      case (None, Seq()) => throw new IllegalStateException(
        s"OccTable: empty pruned snapshot at $dir with no log schema")
      case (_, files) =>
        applyDvs(spark, dir, snap, scanFiles(spark, dir, snap, files))
    }
    val withPv = pvEq.foldLeft(base) { case (d, (k, v)) =>
      d.filter(col(k).cast("string") === lit(v))
    }
    val withEq = equality.fold(withPv) { case (c, vs) =>
      withPv.filter(col(c).cast("string").isin(vs: _*))
    }
    intervals.foldLeft(withEq) { case (d, (c, lo, hi)) =>
      val proj = statProjection(st.getOrElse(base.schema), c)
      d.filter(proj >= lit(lo) && proj <= lit(hi))
    }
  }

  /** The complete planning-time FILE-SURVIVAL decision — the one
    * [[readFiltered]] and the `graft-occ` connector's
    * [[OccFileIndex]] share, so connector reads skip exactly the
    * files verb reads skip: pv-equality ∧ every-interval-intersects ∧
    * every-bloom-says-MAYBE, each layer free of false negatives.
    * Column names are LOGICAL; the layers translate to physical
    * internally.
    */
  private[sources] def pruneFileSet(spark: SparkSession, dir: String,
      snap: Snapshot, pvEq: Seq[(String, String)],
      intervals: Seq[(String, Double, Double)],
      equality: Seq[(String, Seq[String])]): Seq[String] = {
    val pvKept = partitionPrunedFiles(snap, pvEq)
    val statsKept = intervals.foldLeft(pvKept) { case (fs0, (c, lo, hi)) =>
      prunedFiles(snap.copy(files = fs0), c, lo, hi)
    }
    equality.foldLeft(statsKept) { case (fs0, (c, vs)) =>
      bloomPrunedFiles(spark, dir, snap.copy(files = fs0), c, vs)
    }
  }

  /** The partition-pruning decision, exposed for audits: live files
    * whose recorded partition values equal every asked (key, value) —
    * files without a recorded value for an asked key survive (cannot
    * prune what the log does not know).
    */
  private[sources] def partitionPrunedFiles(snap: Snapshot,
      pvEq: Seq[(String, String)]): Seq[String] =
    snap.files.filter { f =>
      pvEq.forall { case (k, v) =>
        // pv keys are recorded under write-time PHYSICAL names (X137)
        snap.pvs.get(f).flatMap(_.get(snap.physName(k))).forall(_ == v)
      }
    }

  /** The file-skipping decision, exposed for audits: live files whose
    * stats interval for `c` intersects [lo, hi] (or which carry no
    * usable stats).
    */
  private[sources] def prunedFiles(snap: Snapshot, c: String,
      lo: Double, hi: Double): Seq[String] =
    snap.files.filter { f =>
      // stats are keyed by write-time PHYSICAL names (X137)
      snap.stats.get(f).flatMap(statsFor(_, snap.physName(c))) match {
        case None => true // no stats for this file/column: cannot prune
        case Some((None, None)) => false // all-NULL: interval excludes
        case Some((mn, mx)) =>
          mx.forall(_ >= lo) && mn.forall(_ <= hi)
      }
    }

  /** Reconcile a write's frame schema with the current log schema under
    * the ADDITIVE rule. Returns None when nothing changes, or
    * Some(evolved json) when the commit must carry a schema action.
    * Refuses loudly ([[SchemaEvolutionException]]) when:
    *   - a shared column changes its data type (no silent widening);
    *   - the frame omits a log column that is NOT nullable (old
    *     readers would see impossible nulls).
    * New columns are recorded nullable (pre-evolution files cannot
    * fill them). The evolved schema is the UNION — log columns in log order (with
    * nullability relaxed where either side relaxes it), then the
    * frame's new columns appended — so two concurrent additive
    * evolutions converge instead of the later one dropping the
    * earlier one's column.
    */
  private[sources] def resolveSchema(current: Option[String],
      frame: StructType): Option[String] = current match {
    case None => None // legacy (pre-X104) log: nothing to enforce
    case Some(curJson) =>
      val cur = DataType.fromJson(curJson).asInstanceOf[StructType]
      val curByName = cur.fields.map(f => f.name -> f).toMap
      val frameByName = frame.fields.map(f => f.name -> f).toMap
      val typeClashes = frame.fields.flatMap { f =>
        curByName.get(f.name).collect {
          case c if c.dataType != f.dataType =>
            s"${f.name}: ${c.dataType.simpleString} -> ${f.dataType.simpleString}"
        }
      }
      if (typeClashes.nonEmpty) throw new SchemaEvolutionException(
        "OccTable: non-additive write refused — column type changes are " +
          s"not additive: ${typeClashes.mkString("; ")}")
      val missingRequired = cur.fields
        .filter(c => !frameByName.contains(c.name) && !c.nullable)
        .map(_.name)
      if (missingRequired.nonEmpty) throw new SchemaEvolutionException(
        "OccTable: non-additive write refused — frame omits non-nullable " +
          s"log columns: ${missingRequired.mkString(", ")}")
      // new columns are recorded NULLABLE in the log regardless of the
      // frame's nullability — pre-evolution files cannot fill them, so
      // the log-level contract is nullable by construction (Delta's
      // mergeSchema does the same)
      val added = frame.fields.filterNot(f => curByName.contains(f.name))
        .map(_.copy(nullable = true))
      val merged = StructType(
        cur.fields.map { c =>
          val relaxed = frameByName.get(c.name)
            .exists(f => f.nullable && !c.nullable)
          if (relaxed) c.copy(nullable = true) else c
        } ++ added)
      if (merged == cur) None else Some(merged.json)
  }

  /** Rename a LOGICAL frame to physical column names for staging
    * (X137): under column mapping the files carry physical names, so
    * every writer routes its output through this just before [[stage]].
    * Identity (and zero-cost) for unmapped tables.
    */
  private def toPhysical(df: DataFrame,
      colmap: Map[String, String]): DataFrame =
    if (colmap.isEmpty) df
    else colmap.foldLeft(df) { case (d, (l, p)) =>
      if (l != p && d.columns.contains(l)) d.withColumnRenamed(l, p) else d
    }

  /** Refuse columns an evolution would ADD whose physical name is
    * retired or already serving another logical column (X137): after
    * `DROP COLUMN a`, re-adding `a` would resurrect the dropped bytes
    * in pre-drop files; after `RENAME a TO b`, adding a new `a` would
    * read b's bytes. Delta avoids both with UUID physical names; this
    * engine keeps physical = name-at-first-write and refuses the two
    * collision shapes loudly instead.
    */
  private def checkNewColumns(snap: Snapshot,
      evolvedJson: Option[String]): Unit = evolvedJson.foreach { j =>
    val old = snap.schema.map(_.fieldNames.toSet).getOrElse(Set.empty)
    val added = DataType.fromJson(j).asInstanceOf[StructType]
      .fieldNames.filterNot(old)
    added.foreach { c =>
      require(!snap.colTombs.contains(c),
        s"OccTable: cannot add column '$c' — its physical name was " +
          "retired by a DROP COLUMN (pre-drop files still carry those " +
          "bytes); pick a different name or rewrite the table")
      val shadow = snap.colmap.find { case (l, p) => p == c && l != c }
      require(shadow.isEmpty,
        s"OccTable: cannot add column '$c' — that physical name " +
          s"serves renamed column '${shadow.map(_._1).getOrElse("")}'; " +
          "pick a different name or rewrite the table")
    }
  }

  /** Delta-parity `ALTER TABLE RENAME COLUMN` (X137 — column mapping):
    * a PURE METADATA commit. The logical schema renames the field in
    * place and the commit records the full logical→physical mapping,
    * physical names never changing — zero bytes move on a 100 TB
    * table. Readers alias physical→logical at scan time; stats,
    * partition values, and bloom sidecars stay keyed by physical name
    * and every pruning lookup translates. Refused when a CHECK
    * constraint references the old name (Delta refuses too — the
    * expression would stop resolving); racing schema changes conflict
    * through the standard schema-action rule, while plain appends
    * commute (they stage under physical names, which the rename does
    * not touch).
    */
  def renameColumn(spark: SparkSession, dir: String,
      oldName: String, newName: String): Long = {
    require(oldName != newName,
      s"OccTable.renameColumn: '$oldName' -> itself")
    val snap = snapshot(spark, dir)
    requireWritable(snap)
    val st = snap.schema.getOrElse(throw new IllegalStateException(
      s"OccTable: legacy log at $dir records no schema — column " +
        "mapping needs one (re-init or rewrite with a schema first)"))
    require(st.fieldNames.contains(oldName),
      s"OccTable.renameColumn: no column '$oldName' " +
        s"(have: ${st.fieldNames.mkString(", ")})")
    require(!st.fieldNames.contains(newName),
      s"OccTable.renameColumn: column '$newName' already exists")
    require(!snap.colTombs.contains(newName) &&
      !snap.colmap.exists { case (l, p) => p == newName && l != oldName },
      s"OccTable.renameColumn: '$newName' collides with a retired or " +
        "in-use physical name — pick a different name")
    require(!snap.gencols.contains(oldName),
      s"OccTable.renameColumn: '$oldName' is a GENERATED column — " +
        "drop its generation rule first (dropGeneratedColumn)")
    val newSt = StructType(st.fields.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))
    checkDeclaredResolve(spark, newSt, snap,
      s"rename of '$oldName' to '$newName'")
    val newMap = newSt.fields.map { f =>
      f.name -> (if (f.name == newName) snap.physName(oldName)
                 else snap.physName(f.name))
    }.toMap
    commitActions(spark, dir, Seq.empty, Seq.empty, snap.version,
      newSchemaJson = Some(newSt.json),
      schemaInForce = Some(newSt.json),
      op = Some("rename_column"),
      extraMeta = colmapLines(newMap) ++
        declareFeature(snap, "column_mapping"))
  }

  /** The lossless widening lattice (X143): exactly the type changes
    * where every value of `from` is exactly representable in `to` AND
    * Spark's parquet reader promotes the stored physical type at scan
    * time (byte/short/int→long chain, float→double, and
    * integer-up-to-int→double — int < 2^53 is exact in a double;
    * long→double is NOT lossless and refuses). Mirrors Delta's type
    * widening table feature.
    */
  private[sources] def isLosslessWidening(from: DataType,
      to: DataType): Boolean = (from, to) match {
    case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
    case (ShortType, IntegerType | LongType | DoubleType) => true
    case (IntegerType, LongType | DoubleType) => true
    case (FloatType, DoubleType) => true
    case _ => false
  }

  /** Delta-parity lossless TYPE WIDENING (X143 — `ALTER TABLE t ALTER
    * COLUMN c TYPE wider`): a PURE METADATA commit replaces the
    * column's type with a strictly wider one from
    * [[isLosslessWidening]]'s lattice — zero bytes rewritten; files
    * written before the widening upcast AT SCAN TIME through the
    * parquet reader's type promotion (the log schema drives the scan,
    * so an INT32 page reads as long), and era-crossing reads
    * ([[scanFilesAs]]) cast explicitly. Without this, a 100 TB table
    * whose id column outgrows int needs a full rewrite. The commit
    * stamps the `type_widening` table FEATURE (X139), so a pre-X143
    * reader refuses the log by name instead of dying mid-scan.
    * Recorded X117 stats stay valid — stat projections are
    * type-agnostic doubles. Writers with the OLD (narrower) frame
    * type keep working: the write paths upcast additively through
    * [[alignWidened]].
    */
  def widenColumn(spark: SparkSession, dir: String, name: String,
      to: DataType): Long = {
    val snap = snapshot(spark, dir)
    requireWritable(snap)
    val st = snap.schema.getOrElse(throw new IllegalStateException(
      s"OccTable: legacy log at $dir records no schema — widening " +
        "needs one"))
    require(st.fieldNames.contains(name),
      s"OccTable.widenColumn: no column '$name' " +
        s"(have: ${st.fieldNames.mkString(", ")})")
    val from = st(name).dataType
    require(isLosslessWidening(from, to),
      s"OccTable.widenColumn: ${from.simpleString} -> ${to.simpleString} " +
        "is not a lossless widening (byte/short/int->long, " +
        "float->double, byte/short/int->double)")
    val newSt = StructType(st.fields.map(f =>
      if (f.name == name) f.copy(dataType = to) else f))
    checkDeclaredResolve(spark, newSt, snap, s"widening of '$name'")
    commitActions(spark, dir, Seq.empty, Seq.empty, snap.version,
      newSchemaJson = Some(newSt.json),
      schemaInForce = Some(newSt.json),
      op = Some("widen_column"),
      extraMeta = declareFeature(snap, "type_widening"))
  }

  /** Upcast a write frame's columns whose types sit strictly BELOW the
    * log type in the widening lattice — what keeps yesterday's
    * producers (still emitting int) writing into a widened (now long)
    * table, Delta's write-side behavior. Non-lattice mismatches pass
    * through untouched and refuse in [[resolveSchema]] as before.
    */
  private def alignWidened(df: DataFrame,
      schemaJson: Option[String]): DataFrame = schemaJson match {
    case None => df
    case Some(j) =>
      val log = DataType.fromJson(j).asInstanceOf[StructType]
        .fields.map(f => f.name -> f.dataType).toMap
      df.schema.fields.foldLeft(df) { (d, f) =>
        log.get(f.name) match {
          case Some(t) if isLosslessWidening(f.dataType, t) =>
            d.withColumn(f.name, col(f.name).cast(t))
          case _ => d
        }
      }
  }

  /** Delta-parity `ALTER TABLE DROP COLUMN` (X137): a PURE METADATA
    * commit — the logical schema loses the field, the physical bytes
    * stay in every file, unread (readers scan by physical schema and
    * project only logical columns). The dropped physical name is
    * TOMBSTONED: re-adding a column with that name refuses loudly
    * (pre-drop files would resurrect the old bytes). Refused when a
    * CHECK constraint references the column.
    */
  def dropColumn(spark: SparkSession, dir: String,
      name: String): Long = {
    val snap = snapshot(spark, dir)
    requireWritable(snap)
    val st = snap.schema.getOrElse(throw new IllegalStateException(
      s"OccTable: legacy log at $dir records no schema — column " +
        "mapping needs one (re-init or rewrite with a schema first)"))
    require(st.fieldNames.contains(name),
      s"OccTable.dropColumn: no column '$name' " +
        s"(have: ${st.fieldNames.mkString(", ")})")
    require(st.fields.length > 1,
      s"OccTable.dropColumn: cannot drop the only column '$name'")
    require(!snap.gencols.contains(name),
      s"OccTable.dropColumn: '$name' is a GENERATED column — drop its " +
        "generation rule first (dropGeneratedColumn)")
    val newSt = StructType(st.fields.filterNot(_.name == name))
    checkDeclaredResolve(spark, newSt, snap,
      s"drop of column '$name'")
    val phys = snap.physName(name)
    val newMap = newSt.fields.map(f => f.name -> snap.physName(f.name))
      .toMap
    commitActions(spark, dir, Seq.empty, Seq.empty, snap.version,
      newSchemaJson = Some(newSt.json),
      schemaInForce = Some(newSt.json),
      op = Some("drop_column"),
      extraMeta = colmapLines(newMap) ++
        Seq(s"colmaptomb ${urlEnc(phys)}") ++
        declareFeature(snap, "column_mapping"))
  }

  /** Refuse a schema/mapping change that would break a declared
    * expression (CHECK constraint or GENERATED rule): analyze each
    * against the candidate schema (an empty typed frame — pure driver
    * work) and name the first that stops resolving.
    */
  private def checkExprsResolve(spark: SparkSession,
      st: StructType, exprs: Map[String, String], kind: String,
      what: String): Unit = {
    if (exprs.isEmpty) return
    val probe = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st)
    exprs.toSeq.sortBy(_._1).foreach { case (n, e) =>
      // select, not filter: generated expressions are arbitrary-typed
      try probe.select(expr(e)).queryExecution.analyzed
      catch {
        case ex: Exception =>
          val why = Option(ex.getMessage)
            .flatMap(_.linesIterator.find(_.nonEmpty))
            .getOrElse(ex.getClass.getSimpleName)
          throw new IllegalArgumentException(
            s"OccTable: $what would break $kind '$n' " +
              s"(`$e`): $why — drop the $kind first")
      }
    }
  }

  /** Refuse a NONDETERMINISTIC declared expression (Delta parity —
    * both CHECK constraints and generation expressions must be
    * deterministic there too): X140's single-evaluation contract
    * validates the rule against the STAGED BYTES, which is only sound
    * when re-evaluating the expression reproduces the write-time
    * verdict; a rule carrying rand()/uuid() can never satisfy
    * "validated bytes = committed bytes".
    */
  private def requireDeterministic(spark: SparkSession, st: StructType,
      name: String, sqlExpr: String, kind: String): Unit = {
    val probe = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st)
    val analyzed = probe.select(expr(sqlExpr)).queryExecution.analyzed
    require(analyzed.expressions.forall(_.deterministic),
      s"OccTable: $kind '$name' (`$sqlExpr`) is nondeterministic — " +
        s"declared rules must evaluate to the same verdict on " +
        "re-evaluation; use a deterministic expression")
  }

  /** Both declared-expression families gate the mapping verbs. */
  private def checkDeclaredResolve(spark: SparkSession,
      st: StructType, snap: Snapshot, what: String): Unit = {
    checkExprsResolve(spark, st, snap.constraints, "CHECK constraint",
      what)
    checkExprsResolve(spark, st, snap.gencols, "generated column", what)
  }

  /** Current snapshot: fold the latest [[checkpoint]] (if any) plus the
    * commit tail past it. Driver-side; O(tail + #files) once a
    * checkpoint exists, instead of O(every commit since init) — the
    * Delta `_last_checkpoint` shape, and the thing that keeps a
    * long-lived table's planning cost flat.
    */
  def snapshot(spark: SparkSession, dir: String): Snapshot = {
    val fsys = fs(spark, dir)
    // X141 listing-free fast path: pointer read + checkpoint fold +
    // existence-probed commit tail. Probing stops at the first gap —
    // versions are claimed sequentially, so a gap means the tail end
    // (or a concurrent truncation, which the FileNotFound fallback
    // re-lists). See [[lastCheckpointPath]] for why this never serves
    // a wrong answer.
    readLastCheckpoint(fsys, dir) match {
      case Some(c) if fsys.exists(checkpointPath(dir, c)) =>
        var v = c
        while (fsys.exists(versionPath(dir, v + 1))) v += 1
        try return foldSnapshot(fsys, dir, Some(c), (c + 1) to v, v)
        catch { case _: java.io.FileNotFoundException => () }
      case _ => ()
    }
    val last = (listVersions(fsys, dir) ++ listCheckpoints(fsys, dir))
      .maxOption
    require(last.nonEmpty, s"OccTable: no log at $dir/$LogDirName — init first")
    snapshotAt(spark, dir, last.get)
  }

  /** TIME TRAVEL: the table exactly as of `version` — data files are
    * immutable and removes are log entries, so every historical
    * snapshot is reconstructible until [[vacuum]] reclaims its files
    * (vacuum deletes what the CURRENT snapshot doesn't reference: run
    * it only once no reader needs the history — the retention contract
    * every table format ships). The fold uses a checkpoint only when
    * one exists at or below the asked version, and carries the schema
    * AS OF that version (time travel serves pre-evolution shape). This
    * is what makes a training run reproducible: record the version a
    * run read, and `readAt` serves byte-identical inputs later
    * regardless of the ingest and compaction that happened since.
    */
  def snapshotAt(spark: SparkSession, dir: String,
      version: Long): Snapshot = {
    val fsys = fs(spark, dir)
    // loud vacuum guard: a version at/below the marker may reference
    // reclaimed files — refuse by name at plan time, not scan time
    val through = vacuumedThrough(spark, dir)
    if (version <= through)
      throw new VacuumedVersionException(version, through)
    val vs = listVersions(fsys, dir).toSet
    val chkAt = listCheckpoints(fsys, dir).filter(_ <= version).lastOption
    // reconstructible = a checkpoint at/below `version` plus a complete
    // commit tail up to it, or (no checkpoint) the complete prefix from
    // v0 — truncation can make old versions unreconstructible, exactly
    // like every table format's log retention
    val need = chkAt match {
      case Some(c) => (c + 1) to version
      case None => 0L to version
    }
    require(need.forall(vs.contains),
      s"OccTable: version $version is not reconstructible at $dir " +
        "(commits truncated past it, or it never existed)")
    foldSnapshot(fsys, dir, chkAt, need.filter(vs.contains).sorted, version)
  }

  /** The log fold shared by [[snapshotAt]] (listing + reconstructibility
    * checks first) and [[snapshot]]'s X141 pointer fast path (no
    * listing): checkpoint at `chkAt` (if any), then `tail` in order.
    */
  private def foldSnapshot(fsys: FileSystem, dir: String,
      chkAt: Option[Long], tail: Seq[Long], version: Long): Snapshot = {
    val live = scala.collection.mutable.LinkedHashSet.empty[String]
    val txns = scala.collection.mutable.Map.empty[String, Long]
    val stats = scala.collection.mutable.Map.empty[String, String]
    val pvs = scala.collection.mutable.Map.empty[String, Map[String, String]]
    val blooms =
      scala.collection.mutable.Map.empty[String, Map[String, (Int, Int)]]
    val constraints = scala.collection.mutable.Map.empty[String, String]
    val dvs = scala.collection.mutable.Map.empty[String, String]
    var schemaJson: Option[String] = None
    var colmap = Map.empty[String, String]
    var everMapped = false
    val colTombs = scala.collection.mutable.Set.empty[String]
    val gencols = scala.collection.mutable.Map.empty[String, String]
    val features = scala.collection.mutable.Set.empty[String]
    val wfeatures = scala.collection.mutable.Set.empty[String]
    val sizes = scala.collection.mutable.Map.empty[String, (Long, Long)]
    def fold(a: Actions): Unit = {
      a.removes.foreach { n =>
        live -= n; stats -= n; pvs -= n; blooms -= n; dvs -= n
        sizes -= n }
      a.constraintAdds.foreach { case (n, e) => constraints(n) = e }
      a.constraintDrops.foreach(constraints -= _)
      a.colmapSet.foreach { m => colmap = m; everMapped = true }
      colTombs ++= a.colTombAdds
      a.gencolAdds.foreach { case (n, e) => gencols(n) = e }
      a.gencolDrops.foreach(gencols -= _)
      features ++= a.featureAdds
      wfeatures ++= a.wfeatureAdds
      a.adds.foreach { n =>
        live += n
        a.addStats.get(n) match {
          case Some(s) => stats(n) = s
          case None => stats -= n
        }
        a.addPvs.get(n) match {
          case Some(p) => pvs(n) = p
          case None => pvs -= n
        }
        a.addBlooms.get(n) match {
          case Some(b) => blooms(n) = b
          case None => blooms -= n
        }
        a.addDvs.get(n) match {
          case Some(d) => dvs(n) = d
          case None => dvs -= n
        }
        a.addFs.get(n) match {
          case Some(f) => sizes(n) = f
          case None => sizes -= n
        }
      }
      a.txns.foreach { case (app, ver) =>
        txns(app) = math.max(ver, txns.getOrElse(app, Long.MinValue))
      }
      if (a.schemaJson.nonEmpty) schemaJson = a.schemaJson
    }
    chkAt.foreach(c => fold(parseActions(fsys, checkpointPath(dir, c))))
    tail.foreach(v => fold(readActions(fsys, dir, v)))
    // the FEATURE GATE (X139): refuse by name at plan time when the
    // log declares a feature this build cannot read correctly — the
    // alternative is silently serving deleted rows or misnamed columns
    val unknown = features.toSet -- SupportedFeatures
    if (unknown.nonEmpty)
      throw new UnsupportedTableFeatureException(unknown)
    // the READER gate above refuses unknown reader features only;
    // unknown WRITER-ONLY features are tolerated here and refused by
    // [[requireWritable]] at the verbs that commit (X146)
    Snapshot(version, live.toSeq, txns.toMap, schemaJson, stats.toMap,
      pvs.toMap, blooms.toMap, constraints.toMap, dvs.toMap,
      colmap, colTombs.toSet, gencols.toMap, everMapped, features.toSet,
      wfeatures.toSet, sizes.toMap)
  }

  /** Delta-parity TIMESTAMP AS OF: the last version whose commit time
    * — the version file's filesystem mtime, the same clock Delta's
    * timestamp time travel reads — is at or before `tsMillis`.
    * Wall-clock mapping is deployment-local by nature (mtimes exist
    * in no other engine), so this is spec-pinned rather than oracled.
    * Mirrors Delta's two refusals: a timestamp before the earliest
    * reconstructible commit and one after the latest commit both fail
    * loudly (serving "latest" for a future timestamp would race any
    * concurrent writer). Versions a truncation absorbed into a
    * checkpoint have no commit file and are not addressable — the
    * earliest-commit guard names the earliest that is.
    */
  def versionAsOf(spark: SparkSession, dir: String,
      tsMillis: Long): Long = {
    val fsys = fs(spark, dir)
    val vs = listVersions(fsys, dir)
    require(vs.nonEmpty, s"OccTable: no commit files at $dir " +
      "(fully truncated log has no timestamp history)")
    val stamped = vs.map(v =>
      (v, fsys.getFileStatus(versionPath(dir, v)).getModificationTime))
    val eligible = stamped.filter(_._2 <= tsMillis)
    require(eligible.nonEmpty,
      s"OccTable: timestamp $tsMillis predates the earliest " +
        s"addressable commit (v${stamped.head._1} at ${stamped.head._2})")
    // future timestamp: refuse like Delta — a concurrent commit could
    // land between the check and the read
    require(tsMillis <= stamped.last._2,
      s"OccTable: timestamp $tsMillis is after the latest commit " +
        s"(v${stamped.last._1} at ${stamped.last._2})")
    eligible.last._1
  }

  /** Delta CDF `startingTimestamp` resolution (X147): the FIRST version
    * whose commit time is at or after `tsMillis` — the subscribe-from-
    * time complement of [[versionAsOf]] (which answers the time-travel
    * direction: last version at or before). Refuses a timestamp after
    * the latest commit, like Delta's change-feed read.
    */
  def firstVersionAtOrAfter(spark: SparkSession, dir: String,
      tsMillis: Long): Long = {
    val fsys = fs(spark, dir)
    val vs = listVersions(fsys, dir)
    require(vs.nonEmpty, s"OccTable: no commit files at $dir " +
      "(fully truncated log has no timestamp history)")
    val stamped = vs.map(v =>
      (v, fsys.getFileStatus(versionPath(dir, v)).getModificationTime))
    val eligible = stamped.filter(_._2 >= tsMillis)
    require(eligible.nonEmpty,
      s"OccTable: timestamp $tsMillis is after the latest commit " +
        s"(v${stamped.last._1} at ${stamped.last._2}) — nothing to " +
        "subscribe to")
    eligible.head._1
  }

  /** [[read]] as of a wall-clock timestamp — see [[versionAsOf]]. */
  def readAsOf(spark: SparkSession, dir: String, tsMillis: Long)(
      emptyResult: => DataFrame = throw new IllegalStateException(
        s"OccTable: empty snapshot at $dir")): DataFrame =
    readAt(spark, dir, versionAsOf(spark, dir, tsMillis))(emptyResult)

  /** [[read]] at a historical version — see [[snapshotAt]]. */
  def readAt(spark: SparkSession, dir: String, version: Long)(
      emptyResult: => DataFrame = throw new IllegalStateException(
        s"OccTable: empty snapshot at $dir")): DataFrame =
    readSnapshot(spark, dir, snapshotAt(spark, dir, version), emptyResult)

  /** The log schema with every field renamed to its PHYSICAL name —
    * the shape the parquet files actually carry under column mapping
    * (X137). Identity when the snapshot has no mapping.
    */
  private[sources] def physicalSchema(st: StructType,
      colmap: Map[String, String]): StructType =
    if (colmap.isEmpty) st
    else StructType(st.fields.map(f =>
      f.copy(name = colmap.getOrElse(f.name, f.name))))

  /** Raw scan of `names` under snapshot `s`'s LOGICAL shape: reads the
    * files with the physical schema (column-mapping aware) and aliases
    * back to logical names. NO deletion-vector application — callers
    * that serve rows compose [[applyDvs]] on top (as
    * [[OccStream.tailTo]] does for a served add that carries a DV).
    * `names` must be non-empty; a mapped snapshot always has a log
    * schema (the mapping verbs refuse legacy logs).
    */
  private[sources] def scanFiles(spark: SparkSession, dir: String,
      s: Snapshot, names: Seq[String]): DataFrame = {
    val paths = names.map(f => resolvePath(dir, f))
    s.schema match {
      case Some(st) => logicalView(s, st,
        spark.read.schema(physicalSchema(st, s.colmap)).parquet(paths: _*))
      case None => spark.read.parquet(paths: _*)
    }
  }

  /** A scan of snapshot `s`'s files in PHYSICAL names, aliased back to
    * the LOGICAL schema `st` (identity without a column mapping). A
    * Project, so `_metadata` still resolves through it.
    */
  private[sources] def logicalView(s: Snapshot, st: StructType,
      phys: DataFrame): DataFrame =
    if (s.colmap.isEmpty) phys
    else phys.select(st.fields.map(f =>
      col(s.physName(f.name)).as(f.name)).toIndexedSeq: _*)

  /** Read `names` — files added under era snapshot `at` — and serve
    * them in `cur`'s LOGICAL space: each of cur's logical columns
    * resolves to the era column backed by the SAME physical name
    * — matched by LOGICAL name first (stable across a colmapclear
    * overwrite, which re-bases physicals) and by PHYSICAL name second
    * (stable across renames); the resurrection refusals guarantee
    * neither identifier ever serves two different columns, so the two
    * matches cannot disagree. A cur column the era had under neither
    * identity (pre-evolution files) reads as a typed NULL; era columns
    * cur has since dropped disappear. Identity when the eras share
    * schema and mapping.
    */
  private[sources] def scanFilesAs(spark: SparkSession, dir: String,
      at: Snapshot, cur: Snapshot, names: Seq[String]): DataFrame = {
    val base = scanFiles(spark, dir, at, names)
    (cur.schema, at.schema) match {
      case (Some(curSt), Some(atSt))
          if curSt != atSt || cur.colmap != at.colmap =>
        val cols = curSt.fields.map { f =>
          val phys = cur.physName(f.name)
          val src =
            if (atSt.fieldNames.contains(f.name)) Some(f.name)
            else atSt.fieldNames.find(l => at.physName(l) == phys)
          src match {
            // X143: an era column narrower than cur's (pre-widening
            // files) upcasts explicitly — the union across eras must
            // not depend on implicit coercion
            case Some(l) if atSt(l).dataType != f.dataType =>
              col(l).cast(f.dataType).as(f.name)
            case Some(l) => col(l).as(f.name)
            case None => lit(null).cast(f.dataType).as(f.name)
          }
        }
        base.select(cols.toIndexedSeq: _*)
      case _ => base
    }
  }

  /** Plan the scan from a snapshot: explicit live-file paths with the
    * LOG schema when the log records one — pre-evolution files serve
    * the added columns as null, and an empty snapshot serves a typed
    * empty frame instead of failing schema inference.
    */
  private def readSnapshot(spark: SparkSession, dir: String, s: Snapshot,
      emptyResult: => DataFrame): DataFrame = (s.schema, s.files) match {
    case (Some(st), Seq()) =>
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st)
    case (None, Seq()) => emptyResult
    case (_, files) =>
      applyDvs(spark, dir, s, scanFiles(spark, dir, s, files))
  }

  /** Materialize the current snapshot as a `v<version>.chk` file so
    * later [[snapshot]] folds read ONE file plus the tail — run it the
    * way Delta writes checkpoints (every N commits, from the
    * maintenance owner). The checkpoint carries the schema action, so
    * a truncated log keeps its schema. Older checkpoints are dropped;
    * the commit files themselves are KEPT (conflict validation reads
    * the (readVersion, attempt) window, and time-travel/debugging read
    * the history — truncating them is a retention decision this engine
    * leaves to the deployment, the same caveat as [[vacuum]]).
    * Idempotent; returns the checkpointed version.
    */
  def checkpoint(spark: SparkSession, dir: String): Long = {
    val fsys = fs(spark, dir)
    val snap = snapshot(spark, dir)
    // the checkpoint RE-SERIALIZES metadata it understands — folding a
    // log whose writer-only feature carries action lines this build
    // cannot parse would silently drop them from the checkpoint (X146)
    requireWritable(snap)
    val body = (snap.files.map(n =>
      addLine(n, snap.stats.get(n), snap.pvs.get(n),
        snap.blooms.get(n), snap.dvs.get(n), snap.sizes.get(n))) ++
      snap.txns.toSeq.sortBy(_._1).map { case (a, v) => s"txn $a $v" } ++
      metaLines(snap) ++
      schemaLines(snap.schemaJson, snap.schemaJson))
      .mkString("", "\n", "\n").getBytes("UTF-8")
    claim(fsys, checkpointPath(dir, snap.version), body) // exists = done
    // X141: advance the `_last_checkpoint` pointer BEFORE dropping the
    // older checkpoints — a reader holding the previous pointer value
    // must still find its checkpoint file until the new pointer is
    // visible (it falls back to listing once the old file is gone)
    if (readLastCheckpoint(fsys, dir).forall(_ < snap.version))
      writeLastCheckpoint(fsys, dir, snap.version)
    // the pointer write is check-then-write: two RACING checkpoints
    // can interleave so the older one lands last (a regressed
    // pointer). Fix-forward: re-read, and if any newer checkpoint
    // file exists, re-point at it — the regression self-heals inside
    // the verb that caused it. (The residual window — a crash between
    // the regressing write and this repair — costs a listing-fold
    // fallback, never a wrong answer: the newer checkpoint's cleanup
    // deletes the old .chk a stale pointer would name.)
    listCheckpoints(fsys, dir).lastOption
      .filter(c => readLastCheckpoint(fsys, dir).exists(_ < c))
      .foreach(c => writeLastCheckpoint(fsys, dir, c))
    listCheckpoints(fsys, dir).filter(_ < snap.version)
      .foreach(c => fsys.delete(checkpointPath(dir, c), false))
    snap.version
  }

  /** Drop commit files the latest [[checkpoint]] has absorbed — the log
    * retention step that keeps the O(#commits) directory listing (the
    * last growing term in the fold once checkpoint + compaction run)
    * bounded over a long-lived table. After truncation, versions below
    * the checkpoint are no longer time-travelable ([[snapshotAt]] says
    * so explicitly) and a writer whose read version predates it fails
    * safe as a conflict — so run it with a retention delay from the
    * maintenance owner, like every table format's log cleanup (Delta
    * keeps 30 days by default; `keepLast` commits here). Returns the
    * dropped version ids.
    */
  def truncateLog(spark: SparkSession, dir: String,
      keepLast: Int = 0): Seq[Long] = {
    require(keepLast >= 0, s"OccTable: keepLast must be >= 0, got $keepLast")
    val fsys = fs(spark, dir)
    // X141: retention bases on the POINTER when one exists — never
    // delete a commit above what pointer-guided readers can see (a
    // checkpoint whose pointer write failed is newer than the pointer;
    // truncating past it would strand those readers mid-tail)
    val chk = readLastCheckpoint(fsys, dir)
      .filter(c => fsys.exists(checkpointPath(dir, c)))
      .orElse(listCheckpoints(fsys, dir).lastOption).getOrElse(
        throw new IllegalStateException(
          s"OccTable: no checkpoint at $dir — checkpoint before truncating"))
    val dropped = listVersions(fsys, dir)
      .filter(_ <= chk - keepLast)
    dropped.foreach(v => fsys.delete(versionPath(dir, v), false))
    dropped
  }

  /** Read the table at its current version — explicit live-file paths,
    * never a directory listing (staged-but-uncommitted files are
    * invisible by construction). Under a schema-bearing log the scan
    * plans with the LOG schema (evolved reads, typed empty snapshot);
    * `emptyResult` only serves legacy logs whose empty snapshot has no
    * schema to infer from.
    */
  def read(spark: SparkSession, dir: String)(
      emptyResult: => DataFrame = throw new IllegalStateException(
        s"OccTable: empty snapshot at $dir")): DataFrame =
    readSnapshot(spark, dir, snapshot(spark, dir), emptyResult)

  /** Stage `df` as UUID-named parquet files in `dir` and return their
    * names — referenced by no log version yet, so invisible to readers
    * until a commit lists them.
    */
  private def stage(df: DataFrame, dir: String): Seq[String] =
    stagePartitioned(df, dir, Seq.empty)._1

  /** Directory prefix of the throwaway partition columns the
    * partitioned stage writes by — never lands in file content or the
    * committed layout, only in staging paths.
    */
  private val PvStagePrefix = "__occ_pv_"

  /** [[stage]] with log-recorded partition values (Delta
    * `partitionValues` parity): when `partitionBy` is non-empty the
    * frame is written `partitionBy` DUPLICATE string columns — the
    * real columns stay in file content, so a flat scan needs no
    * partition-column re-injection — then every staged file is
    * flattened into the table root and its values (parsed from the
    * staging path) are returned for the add action. The LOG is the
    * source of partitioning truth; the committed layout stays flat,
    * so no reader ever depends on directory conventions.
    */
  private def stagePartitioned(df: DataFrame, dir: String,
      partitionBy: Seq[String])
      : (Seq[String], Map[String, Map[String, String]]) = {
    val spark = df.sparkSession
    val fsys = fs(spark, dir)
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val staging = new Path(s"$dir/.occ-staging-$tag")
    partitionBy.foreach(c => require(df.columns.contains(c),
      s"OccTable: partition column '$c' not in frame " +
        s"(${df.columns.mkString(", ")})"))
    val (toWrite, dupCols) =
      if (partitionBy.isEmpty) (df, Seq.empty[String])
      else {
        val dups = partitionBy.map(c => PvStagePrefix + c)
        (partitionBy.zip(dups).foldLeft(df) { case (d, (c, dup)) =>
          d.withColumn(dup, col(c).cast("string")) }, dups)
      }
    if (dupCols.isEmpty)
      toWrite.write.mode("overwrite").parquet(staging.toString)
    else
      toWrite.write.mode("overwrite").partitionBy(dupCols: _*)
        .parquet(staging.toString)
    // walk the staging tree: flat for the plain form, one directory
    // level per partition column for the partitioned form
    def walk(p: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fsys.listStatus(p).toSeq.flatMap { s =>
        if (s.isDirectory) walk(s.getPath)
        else if (s.getPath.getName.startsWith("part-")) Seq(s)
        else Seq.empty
      }
    var i = 0
    val stagingQ = fsys.makeQualified(staging).toString
    val staged = walk(staging).map { s =>
      // partition values from the staging path segments
      // `__occ_pv_<col>=<escaped>`; Spark escapes path-hostile chars
      // as %xx (Hive convention) — decode restores the string value
      val rel = fsys.makeQualified(s.getPath).toString
        .stripPrefix(stagingQ).stripPrefix("/")
      val pv = rel.split('/').dropRight(1).toSeq.map { seg =>
        val j = seg.indexOf('=')
        require(j > 0 && seg.startsWith(PvStagePrefix),
          s"OccTable: unexpected staging path segment '$seg'")
        val k = seg.substring(PvStagePrefix.length, j)
        val v = urlDec(seg.substring(j + 1).replace("+", "%2B"))
        k -> v
      }.toMap
      val name = s"part-$tag-$i-${s.getPath.getName.stripPrefix("part-")}"
      i += 1
      if (!fsys.rename(s.getPath, new Path(dir, name)))
        throw new java.io.IOException(
          s"OccTable: staging rename of ${s.getPath} failed")
      name -> pv
    }
    fsys.delete(staging, true)
    (staged.map(_._1), staged.filter(_._2.nonEmpty).toMap)
  }

  /** Atomic exclusive publish of a FULLY-WRITTEN version file — the
    * commit point. True iff WE claimed it. The body always lands in a
    * hidden temp first, so the version name can never be observed empty
    * or torn (a create-then-write claim would expose exactly that
    * window to a racing [[snapshot]]). The atomic exclusive step is a
    * hard link for `file:` (POSIX link(2) fails with EEXIST) and a
    * rename for cluster stores (HDFS rename is atomic at the NameNode
    * and fails on an existing destination; object stores without atomic
    * rename put a lock service here — the same caveat every table
    * format documents).
    */
  private def claim(fsys: FileSystem, target: Path,
      body: Array[Byte]): Boolean = {
    val tmp = new Path(target.getParent,
      s".${target.getName}.tmp-${java.util.UUID.randomUUID()}")
    val out = fsys.create(tmp, true)
    try out.write(body) finally out.close()
    val won =
      if (target.toUri.getScheme == null ||
          target.toUri.getScheme == "file") {
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(target.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      } else !fsys.exists(target) && fsys.rename(tmp, target)
    fsys.delete(tmp, false)
    won
  }

  /** Initialize the log with `df` as version 0 — which records the
    * table schema as the v0 metadata action. Fails if a log exists.
    * `statsColumns` opts the table's v0 files into X117 per-file stats.
    */
  def init(df: DataFrame, dir: String,
      statsColumns: Seq[String] = Seq.empty,
      partitionBy: Seq[String] = Seq.empty,
      bloomColumns: Seq[OccBloom.BloomCol] = Seq.empty): Snapshot = {
    val spark = df.sparkSession
    val fsys = fs(spark, dir)
    require(listVersions(fsys, dir).isEmpty &&
      listCheckpoints(fsys, dir).isEmpty,
      s"OccTable: log already exists at $dir")
    fsys.mkdirs(new Path(s"$dir/$LogDirName"))
    val (names, pvs) = stagePartitioned(df, dir, partitionBy)
    val schemaJson = df.schema.json
    val (stats, blooms) = stagedStatsAndBlooms(spark, dir, names,
      Map.empty, Map.empty, Map.empty, statsColumns, bloomColumns,
      "staged batch", Some(schemaJson))
    val sizes = names.flatMap(n =>
      statFsMeta(fsys, dir, n).map(n -> _)).toMap
    val body = ("op init" +: (names.map(n =>
      addLine(n, stats.get(n), pvs.get(n), blooms.get(n),
        fsMeta = sizes.get(n))) ++
      schemaLines(Some(schemaJson), Some(schemaJson))))
      .mkString("", "\n", "\n")
    require(claim(fsys, versionPath(dir, 0L), body.getBytes("UTF-8")),
      s"OccTable: lost the init race at $dir — another writer initialized")
    Snapshot(0L, names, Map.empty, Some(schemaJson), stats, pvs, blooms,
      sizes = sizes)
  }

  /** Commit staged `adds`/`removes` read at `readVersion`: claim
    * versions optimistically, validating the file-granular conflict
    * rule against every commit that landed after `readVersion`. Pure
    * appends without a schema action validate trivially. A commit
    * CARRYING a schema action additionally conflicts with any
    * intervening schema action (schema changes serialize); a commit
    * with `conflictOnAnyIntervening` (non-additive overwrite) conflicts
    * with EVERY intervening commit. Returns the committed version or
    * throws [[ConcurrentWriteException]] once a conflict is found (the
    * TRANSFORM must rerun — see [[rewrite]]'s loop). A claim that fails
    * while the destination does NOT exist is a filesystem fault, not a
    * lost race — surfaced as an IOException after a bounded number of
    * consecutive faults instead of spinning through version numbers.
    */
  private[sources] def commitActions(spark: SparkSession, dir: String,
      adds: Seq[String], removes: Seq[String], readVersion: Long,
      txn: Option[(String, Long)] = None,
      newSchemaJson: Option[String] = None,
      schemaInForce: Option[String] = None,
      conflictOnAnyIntervening: Boolean = false,
      addStats: Map[String, String] = Map.empty,
      addPvs: Map[String, Map[String, String]] = Map.empty,
      addBlooms: Map[String, Map[String, (Int, Int)]] = Map.empty,
      op: Option[String] = None,
      extraMeta: Seq[String] = Seq.empty,
      addDvs: Map[String, String] = Map.empty): Long = {
    val fsys = fs(spark, dir)
    // X148: every add records its staged file's (size, modTime) —
    // best-effort (a non-stat-able name commits size-less and readers
    // list for it), O(#adds) driver stats per commit
    val addFs = adds.flatMap(n =>
      statFsMeta(fsys, dir, n).map(n -> _)).toMap
    val body = (op.map(o => s"op $o").toSeq ++
      removes.map(n => s"remove $n") ++
      adds.map(n => addLine(n, addStats.get(n), addPvs.get(n),
        addBlooms.get(n), addDvs.get(n), addFs.get(n))) ++
      txn.map { case (app, ver) => s"txn $app $ver" }.toSeq ++
      extraMeta ++
      schemaLines(newSchemaJson, schemaInForce))
      .mkString("", "\n", "\n").getBytes("UTF-8")
    var attempt = math.max(readVersion + 1,
      (listVersions(fsys, dir) ++ listCheckpoints(fsys, dir))
        .maxOption.map(_ + 1).getOrElse(0L))
    var ioFailures = 0
    while (true) {
      // validate against everything that landed since we read; a
      // version file MISSING from the window means a concurrent
      // truncation outran this writer — fail safe as a conflict (we can
      // no longer prove our removes are clash-free). Data-adding
      // commits also validate: a CHECK constraint landing between this
      // writer's enforcement and its claim must conflict (TOCTOU —
      // Delta fails such writers with a metadata-changed conflict), or
      // a violating batch could slip into a constrained table.
      if (adds.nonEmpty || removes.nonEmpty || newSchemaJson.nonEmpty ||
          conflictOnAnyIntervening) {
        val intervening = ((readVersion + 1) until attempt).map { v =>
          try (v, readActions(fsys, dir, v))
          catch {
            case _: java.io.FileNotFoundException =>
              throw new ConcurrentWriteException(
                s"OccTable: commit v$v was truncated while validating " +
                  s"against read version $readVersion — rerun the " +
                  "transform on the current snapshot")
          }
        }
        if (conflictOnAnyIntervening && intervening.nonEmpty)
          throw new ConcurrentWriteException(
            s"OccTable: ${intervening.size} commit(s) landed after read " +
              s"version $readVersion and this commit replaces the table " +
              "schema — rerun the transform on the current snapshot")
        val removedMeanwhile = intervening.flatMap(_._2.removes).toSet
        val clash = removes.filter(removedMeanwhile)
        if (clash.nonEmpty) throw new ConcurrentWriteException(
          s"OccTable: files ${clash.mkString(", ")} were already removed " +
            s"by a commit after version $readVersion — rerun the " +
            "transform on the current snapshot")
        if (newSchemaJson.nonEmpty &&
            intervening.exists(_._2.schemaJson.nonEmpty))
          throw new ConcurrentWriteException(
            s"OccTable: another schema change landed after read version " +
              s"$readVersion — re-resolve the evolution on the current " +
              "snapshot")
        // schema-changing commits (rename/drop) must ALSO conflict: a
        // constraint or generation rule declared meanwhile was
        // validated against the schema this commit is replacing — the
        // caller must re-resolve against it or the rule stops analyzing
        if ((adds.nonEmpty || newSchemaJson.nonEmpty) &&
            intervening.exists(_._2.constraintAdds.nonEmpty))
          throw new ConcurrentWriteException(
            s"OccTable: a CHECK constraint was added after read version " +
              s"$readVersion — re-enforce this write against the " +
              "current snapshot's constraints")
        if ((adds.nonEmpty || newSchemaJson.nonEmpty) &&
            intervening.exists(_._2.gencolAdds.nonEmpty))
          throw new ConcurrentWriteException(
            s"OccTable: a GENERATED column was declared after read " +
              s"version $readVersion — recompute this write against the " +
              "current snapshot's generation rules")
        if ((adds.nonEmpty || newSchemaJson.nonEmpty) &&
            intervening.exists(a => a._2.featureAdds.nonEmpty ||
              a._2.wfeatureAdds.nonEmpty))
          throw new ConcurrentWriteException(
            s"OccTable: a table FEATURE was declared after read version " +
              s"$readVersion — re-snapshot so this writer honors (or " +
              "refuses) the feature's write contract")
        // a column-MAPPING change (rename/drop/colmapclear) landing
        // between this writer's staging and its claim invalidates the
        // staged files' PHYSICAL names: an append staged under the old
        // mapping that commits past a colmapclear overwrite would read
        // every previously-renamed column as NULL, silently and
        // permanently. Same TOCTOU class as constraints/gencols —
        // conflict, and let the writer's retry handler decide whether
        // its staged bytes still match the refreshed mapping.
        if ((adds.nonEmpty || newSchemaJson.nonEmpty) &&
            intervening.exists(_._2.colmapSet.nonEmpty))
          throw new ConcurrentWriteException(
            s"OccTable: the column mapping changed after read version " +
              s"$readVersion — files staged under the old mapping may " +
              "carry physical names the table no longer reads; rerun " +
              "the write on the current snapshot")
      }
      if (claim(fsys, versionPath(dir, attempt), body)) return attempt
      if (fsys.exists(versionPath(dir, attempt))) {
        attempt += 1 // lost the claim race: someone committed this version
        ioFailures = 0
      } else {
        // destination absent after a failed claim: the filesystem, not
        // a racer, rejected the publish — bounded retry then surface
        ioFailures += 1
        if (ioFailures >= MaxClaimIoFailures) throw new java.io.IOException(
          s"OccTable: claim of v$attempt at $dir failed $ioFailures " +
            "consecutive times with no competing commit observed — " +
            "filesystem fault, not a lost race")
      }
    }
    -1L // unreachable
  }

  /** Refuse `df` if any row violates a CHECK constraint (X132 — Delta
    * `CHECK` semantics: a violation is the expression evaluating to
    * FALSE; NULL passes, like SQL). ONE aggregation over the batch
    * counts every constraint's violations in a single pass — the
    * write-time cost Delta pays for the same guarantee.
    */
  private def enforceConstraints(df: DataFrame,
      constraints: Map[String, String], what: String): Unit = {
    if (constraints.isEmpty) return
    val named = constraints.toSeq.sortBy(_._1)
    // coalesce: sum over an EMPTY batch is NULL — a zero-row write
    // (delete-only CDC batch, empty micro-batch) violates nothing
    val aggs = named.zipWithIndex.map { case ((_, e), i) =>
      coalesce(sum(when(expr(e) === lit(false), 1L).otherwise(0L)),
        lit(0L)).as(s"__v$i")
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head
    val violated = named.zipWithIndex.collect {
      case ((n, e), i) if row.getLong(i) > 0 =>
        s"$n (${row.getLong(i)} rows violate `$e`)"
    }
    if (violated.nonEmpty) throw new ConstraintViolationException(
      s"OccTable: $what violates CHECK constraint(s) " +
        violated.mkString("; "))
  }

  /** Apply a table's GENERATED-column rules to a write batch (X138 —
    * Delta `GENERATED ALWAYS AS` semantics): a declared column the
    * frame LACKS is COMPUTED (write-path automation — the ingest never
    * has to carry the derived partition key), and one the frame
    * SUPPLIES is VALIDATED row-for-row against the expression
    * (null-safe equality; Delta refuses mismatches the same way). One
    * aggregation validates every supplied rule. Expressions reference
    * the table's other columns by LOGICAL name; rules apply in
    * name-sorted order, so an expression may reference an
    * alphabetically-earlier generated column.
    */
  /** The compute-only half of [[applyGenerated]]: absent generated
    * columns added, no validation scan — what schema resolution needs.
    */
  private def withGenerated(df: DataFrame,
      gencols: Map[String, String]): DataFrame =
    gencols.toSeq.sortBy(_._1).foldLeft(df) { case (d, (n, e)) =>
      if (d.columns.contains(n)) d else d.withColumn(n, expr(e))
    }

  private def applyGenerated(df: DataFrame,
      gencols: Map[String, String], what: String): DataFrame = {
    if (gencols.isEmpty) return df
    val named = gencols.toSeq.sortBy(_._1)
    val augmented = withGenerated(df, gencols)
    val supplied = named.filter { case (n, _) => df.columns.contains(n) }
    if (supplied.nonEmpty) {
      val aggs = supplied.zipWithIndex.map { case ((n, e), i) =>
        coalesce(sum(when(!(col(n) <=> expr(e)), 1L).otherwise(0L)),
          lit(0L)).as(s"__g$i")
      }
      val row = augmented.agg(aggs.head, aggs.tail: _*).head
      val bad = supplied.zipWithIndex.collect {
        case ((n, e), i) if row.getLong(i) > 0 =>
          s"$n (${row.getLong(i)} rows differ from `$e`)"
      }
      if (bad.nonEmpty) throw new ConstraintViolationException(
        s"OccTable: $what violates GENERATED column(s) " +
          bad.mkString("; "))
    }
    augmented
  }

  /** Delta-parity `GENERATED ALWAYS AS` declaration (X138): record a
    * generation rule for `name` in the log. From this commit on, every
    * append/merge/rewrite COMPUTES the column when the batch omits it
    * and REFUSES batches that supply different values — so a reader
    * can rely on `name = expr` for every row, which is what makes
    * partitioning by a derived key (the classic day-bucket from a
    * timestamp) safe to automate. Declaring over a NON-EMPTY table
    * requires the column to already exist and match the expression
    * (validated in one scan, like [[addCheckConstraint]]); a non-empty
    * table whose schema lacks the column refuses — compute it with a
    * [[rewrite]] first (this engine never rewrites data implicitly).
    * The commit conflicts with ANY intervening commit (same TOCTOU
    * guard as constraints).
    */
  def addGeneratedColumn(spark: SparkSession, dir: String, name: String,
      sqlExpr: String): Long = {
    require(name.nonEmpty && !name.exists(c =>
      c == ' ' || c == '\n' || c == '\r'),
      s"OccTable: bad generated-column name '$name'")
    val snap = snapshot(spark, dir)
    requireWritable(snap)
    require(!snap.gencols.contains(name),
      s"OccTable: generated column '$name' already declared " +
        s"(`${snap.gencols(name)}`) — drop the rule first")
    val st = snap.schema.getOrElse(throw new IllegalStateException(
      s"OccTable: legacy log at $dir records no schema — generated " +
        "columns need one"))
    // the expression must analyze against the schema WITHOUT the
    // generated column itself (no self-reference)
    val others = StructType(st.fields.filterNot(_.name == name))
    checkExprsResolve(spark, others, Map(name -> sqlExpr),
      "generated column", s"declaration of generated column '$name'")
    requireDeterministic(spark, others, name, sqlExpr, "generated column")
    if (snap.files.nonEmpty) {
      require(st.fieldNames.contains(name),
        s"OccTable: table at $dir is non-empty and has no column " +
          s"'$name' — a declaration cannot backfill it; rewrite the " +
          "table with the computed column first")
      applyGenerated(readSnapshot(spark, dir, snap,
        throw new IllegalStateException("unreachable: files non-empty")),
        Map(name -> sqlExpr), "existing table data")
    }
    commitActions(spark, dir, Seq.empty, Seq.empty, snap.version,
      schemaInForce = snap.schemaJson,
      conflictOnAnyIntervening = true,
      op = Some("add_gencol"),
      extraMeta = Seq(s"gencol $name ${urlEnc(sqlExpr)}") ++
        declareFeature(snap, "generated_columns", writerOnly = true))
  }

  /** Drop a generation rule — the column stays, as a plain column. */
  def dropGeneratedColumn(spark: SparkSession, dir: String,
      name: String): Long = {
    val snap = snapshot(spark, dir)
    requireWritable(snap)
    require(snap.gencols.contains(name),
      s"OccTable: no generated column '$name' to drop " +
        s"(have: ${snap.gencols.keys.toSeq.sorted.mkString(", ")})")
    commitActions(spark, dir, Seq.empty, Seq.empty, snap.version,
      schemaInForce = snap.schemaJson,
      op = Some("drop_gencol"),
      extraMeta = Seq(s"dropgencol $name"))
  }

  /** Delta-parity `ALTER TABLE ADD CONSTRAINT` (X132): record a named
    * CHECK expression in the log after validating EVERY existing row
    * against it (one scan — the price Delta pays too). From this
    * commit on, every append/merge/rewrite refuses batches that
    * violate it at the commit boundary, so readers never observe a
    * violating row. The commit conflicts with ANY intervening commit
    * (a racing append between validation and claim could smuggle a
    * violating row past the scan).
    */
  def addCheckConstraint(spark: SparkSession, dir: String, name: String,
      sqlExpr: String): Long = {
    require(name.nonEmpty && !name.exists(c =>
      c == ' ' || c == '\n' || c == '\r'),
      s"OccTable: bad constraint name '$name'")
    val snap = snapshot(spark, dir)
    requireWritable(snap)
    require(!snap.constraints.contains(name),
      s"OccTable: constraint '$name' already exists " +
        s"(`${snap.constraints(name)}`) — drop it first")
    snap.schema.foreach(st =>
      requireDeterministic(spark, st, name, sqlExpr, "CHECK constraint"))
    if (snap.files.nonEmpty)
      enforceConstraints(readSnapshot(spark, dir, snap,
        throw new IllegalStateException("unreachable: files non-empty")),
        Map(name -> sqlExpr), "existing table data")
    commitActions(spark, dir, Seq.empty, Seq.empty, snap.version,
      schemaInForce = snap.schemaJson,
      conflictOnAnyIntervening = true,
      op = Some("add_constraint"),
      extraMeta = Seq(s"constraint $name ${urlEnc(sqlExpr)}") ++
        declareFeature(snap, "check_constraints", writerOnly = true))
  }

  /** Delta-parity `ALTER TABLE DROP CONSTRAINT`. */
  def dropCheckConstraint(spark: SparkSession, dir: String,
      name: String): Long = {
    val snap = snapshot(spark, dir)
    requireWritable(snap)
    require(snap.constraints.contains(name),
      s"OccTable: no constraint '$name' to drop " +
        s"(have: ${snap.constraints.keys.toSeq.sorted.mkString(", ")})")
    commitActions(spark, dir, Seq.empty, Seq.empty, snap.version,
      schemaInForce = snap.schemaJson,
      op = Some("drop_constraint"),
      extraMeta = Seq(s"dropconstraint $name"))
  }

  /** Append-only commit: stage and commit. Never conflicts on files
    * (AddFile-only rule), so concurrent appends and append-vs-rewrite
    * all succeed; an append that triggers an additive schema evolution
    * can conflict with a concurrent evolution and retries by
    * re-resolving against the merged schema (the staged files stay
    * valid — the union schema covers them).
    */
  def append(df: DataFrame, dir: String,
      statsColumns: Seq[String] = Seq.empty,
      partitionBy: Seq[String] = Seq.empty,
      bloomColumns: Seq[OccBloom.BloomCol] = Seq.empty): Long = {
    val spark = df.sparkSession
    var snap = snapshot(spark, dir)
    requireWritable(snap)
    val gencols0 = snap.gencols
    val colmap0 = snap.colmap
    val cons0 = snap.constraints
    // X140 stage-first: the batch lineage executes EXACTLY ONCE — in
    // the staging write. Absent generated columns (X138) are computed
    // INTO the staged bytes; supplied ones and CHECK constraints are
    // validated off the STAGED FILES after staging, so the
    // validated bytes ARE the committed bytes even when the batch
    // lineage is nondeterministic.
    val df2 = withGenerated(alignWidened(df, snap.schemaJson), snap.gencols)
    var evolved = resolveSchema(snap.schemaJson, df2.schema) // refuse BEFORE staging
    checkNewColumns(snap, evolved)
    // staging writes PHYSICAL names (X137); stats/pv/bloom keys follow
    val (names, pvs) = stagePartitioned(toPhysical(df2, snap.colmap), dir,
      partitionBy.map(snap.physName))
    val physBlooms = bloomColumns.map(b => b.copy(col = snap.physName(b.col)))
    // ANY post-stage failure — violation (already deleted its part
    // files), analysis error from a rule referencing a column the
    // batch legally omits, bloom IO — must leave no staged garbage
    val (stats, blooms) =
      try stagedStatsAndBlooms(spark, dir, names, snap.colmap,
        snap.constraints, snap.gencols, statsColumns.map(snap.physName),
        physBlooms, "append batch", evolved.orElse(snap.schemaJson))
      catch {
        case e: Throwable => discardStaged(spark, dir, names, physBlooms); throw e
      }
    while (true) {
      try return commitActions(spark, dir, names, Seq.empty, snap.version,
        newSchemaJson = evolved,
        schemaInForce = evolved.orElse(snap.schemaJson),
        addStats = stats, addPvs = pvs, addBlooms = blooms,
        op = Some("append"))
      catch {
        case _: ConcurrentWriteException =>
          snap = snapshot(spark, dir)
          try {
            // the batch is ALREADY STAGED under the old generation
            // rules and column mapping — a racing rule or mapping
            // change makes those bytes unrepresentable; surface it
            // instead of committing stale bytes
            if (snap.gencols != gencols0) throw new IllegalStateException(
              s"OccTable: generated-column rules of $dir changed while " +
                "this append was staged — rerun the append so the batch " +
                "recomputes under the current rules")
            if (snap.colmap != colmap0) throw new IllegalStateException(
              s"OccTable: column mapping of $dir changed while this " +
                "append was staged — the staged files' physical names " +
                "no longer match the table's mapping; rerun the append")
            evolved = resolveSchema(snap.schemaJson, df2.schema)
            checkNewColumns(snap, evolved)
            // the conflict may BE a racing addCheckConstraint — check
            // the STAGED BYTES against constraints added meanwhile
            // (violations propagate as ConstraintViolationException)
            val added = snap.constraints.filterNot { case (n, e) =>
              cons0.get(n).contains(e) }
            if (added.nonEmpty) validateStaged(spark, dir, names,
              colmap0, added, Map.empty, "append batch",
              evolved.orElse(snap.schemaJson))
          } catch {
            case e: Throwable =>
              discardStaged(spark, dir, names, physBlooms)
              throw e
          }
      }
    }
    -1L // unreachable
  }

  /** Delete an aborted write's staged part files and any bloom
    * sidecars already built for them — a refused or unrepresentable
    * write leaves no unreferenced bytes for [[vacuum]] to find.
    * Idempotent (deletes of already-deleted files are no-ops).
    */
  private def discardStaged(spark: SparkSession, dir: String,
      names: Seq[String], blooms: Seq[OccBloom.BloomCol]): Unit = {
    val fsys = fs(spark, dir)
    names.foreach { n =>
      fsys.delete(new Path(dir, n), false)
      blooms.foreach(b => fsys.delete(
        OccBloom.sidecarPath(dir, baseName(n), b.col), false))
    }
  }

  /** Idempotent STREAMING append — Delta's SetTransaction action: the
    * commit carries `txn <appId> <batchId>` and the fold tracks each
    * appId's highest batch id, so a micro-batch REPLAYED after a
    * restart (the engine re-offers the same batch id) is skipped by
    * reading the log it already committed to. This is the
    * [[graft.streaming.TxnSink]] fence expressed INSIDE the OCC log —
    * which is what lets a streaming ingest and a concurrent
    * [[rewrite]]-based compactor share one table: the append never
    * conflicts (AddFile-only), the compactor folds whatever batches
    * have landed, and the fence survives the compaction because it is
    * log state, not file state. The fence targets ENGINE replays
    * (sequential by construction); two live duplicate queries sharing
    * an appId are a deployment error, same as Delta's contract.
    */
  def appendStream(df: DataFrame, dir: String, appId: String,
      batchId: Long, statsColumns: Seq[String] = Seq.empty,
      partitionBy: Seq[String] = Seq.empty): Long = {
    require(!appId.exists(c => c == ' ' || c == '\n' || c == '\r'),
      s"OccTable: appId must not contain whitespace, got '$appId'")
    val spark = df.sparkSession
    var snap = snapshot(spark, dir)
    requireWritable(snap)
    if (snap.txns.get(appId).exists(_ >= batchId)) return snap.version
    val gencols0 = snap.gencols
    val colmap0 = snap.colmap
    val cons0 = snap.constraints
    // X140 stage-first, same contract as [[append]]: one lineage
    // execution (the staging write), validation off the staged bytes
    val df2 = withGenerated(alignWidened(df, snap.schemaJson), snap.gencols)
    var evolved = resolveSchema(snap.schemaJson, df2.schema)
    checkNewColumns(snap, evolved)
    // partitioned staging records per-file partitionValues exactly
    // like the batch path — a streaming ingest into a pv-pruned layout
    // (X145); a generated partition key (X138) composes: the rule
    // computed it into df2 above, so the ingest never carries it
    val (names, pvs) = stagePartitioned(toPhysical(df2, snap.colmap), dir,
      partitionBy.map(snap.physName))
    val stats =
      try stagedStatsAndBlooms(spark, dir, names, snap.colmap,
        snap.constraints, snap.gencols, statsColumns.map(snap.physName),
        Seq.empty, s"streaming batch $batchId",
        evolved.orElse(snap.schemaJson))._1
      catch {
        case e: Throwable =>
          discardStaged(spark, dir, names, Seq.empty); throw e
      }
    while (true) {
      try return commitActions(spark, dir, names, Seq.empty, snap.version,
        Some((appId, batchId)), newSchemaJson = evolved,
        schemaInForce = evolved.orElse(snap.schemaJson),
        addStats = stats, addPvs = pvs, op = Some("append_stream"))
      catch {
        case _: ConcurrentWriteException =>
          snap = snapshot(spark, dir)
          try {
            if (snap.gencols != gencols0) throw new IllegalStateException(
              s"OccTable: generated-column rules of $dir changed while " +
                s"streaming batch $batchId was staged — the engine will " +
                "re-offer the batch; it recomputes under the current rules")
            if (snap.colmap != colmap0) throw new IllegalStateException(
              s"OccTable: column mapping of $dir changed while " +
                s"streaming batch $batchId was staged — the engine will " +
                "re-offer the batch; it restages under the current mapping")
            evolved = resolveSchema(snap.schemaJson, df2.schema)
            checkNewColumns(snap, evolved)
            val added = snap.constraints.filterNot { case (n, e) =>
              cons0.get(n).contains(e) }
            if (added.nonEmpty) validateStaged(spark, dir, names,
              colmap0, added, Map.empty, s"streaming batch $batchId",
              evolved.orElse(snap.schemaJson))
          } catch {
            case e: Throwable =>
              discardStaged(spark, dir, names, Seq.empty)
              throw e
          }
      }
    }
    -1L // unreachable
  }

  /** `foreachBatch` form of [[appendStream]]. */
  def streamingSink(dir: String, appId: String): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      appendStream(batch, dir, appId, batchId)
      ()
    }

  /** `foreachBatch` form of [[merge]] — Delta's streaming-merge idiom
    * (X129): each CDC micro-batch upserts into the table with the
    * SetTransaction fence making restarts exactly-once, and the
    * touched-file discovery keeping each apply O(files the batch's
    * keys could live in). Per-batch source keys must be unique (the
    * usual CDC compaction contract: last image per key per batch).
    */
  def mergeSink(dir: String, appId: String, keyCols: Seq[String],
      deleteCol: Option[String] = None,
      statsColumns: Seq[String] = Seq.empty,
      bloomColumns: Seq[OccBloom.BloomCol] = Seq.empty)
      : (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      merge(batch.sparkSession, dir, batch, keyCols,
        deleteCol = deleteCol, statsColumns = statsColumns,
        bloomColumns = bloomColumns, txn = Some((appId, batchId)))
      ()
    }

  /** Full-snapshot rewrite (compaction, merge, expiry): read the current
    * snapshot, write `transform(snapshot)`, commit (adds = new files,
    * removes = every file read). On a remove-conflict — another rewrite
    * won on overlapping files — the whole transform RERUNS on the new
    * snapshot, up to `maxRetries` times, so racing rewrites serialize
    * into sequential application instead of losing one side. The staged
    * files of a lost attempt become unreferenced garbage for [[vacuum]].
    *
    * Schema: the transform's output must be additive against the log
    * schema (refused otherwise), UNLESS `overwriteSchema = true` — the
    * Delta escape hatch for a deliberate migration. An overwrite
    * replaces every file, so its commit conflicts with ANY intervening
    * commit (a racing append's files would otherwise carry a schema the
    * log no longer describes).
    */
  def rewrite(spark: SparkSession, dir: String,
      transform: DataFrame => DataFrame, maxRetries: Int = 3,
      overwriteSchema: Boolean = false,
      statsColumns: Seq[String] = Seq.empty,
      bloomColumns: Seq[OccBloom.BloomCol] = Seq.empty): Long = {
    var tries = 0
    while (true) {
      val snap = snapshot(spark, dir)
      requireWritable(snap)
      // zero live files = nothing to transform, and a zero-path read
      // would die in Spark with an unnamed schema error — say why
      require(snap.files.nonEmpty,
        s"OccTable: rewrite on an empty snapshot at $dir (v${snap.version})")
      val out0 = transform(readSnapshot(spark, dir, snap,
        throw new IllegalStateException("unreachable: files non-empty")))
      // an overwrite that would leave a declared constraint or
      // generation rule unresolvable wedges every later write — refuse
      // up front, same gate as rename/drop (drop the rule first). The
      // refusal also guarantees the generation below analyzes.
      if (overwriteSchema)
        checkDeclaredResolve(spark, out0.schema, snap, "schema overwrite")
      // generation rules re-apply to the transform's output (X138),
      // OVERWRITE INCLUDED — the rules are declared log state an
      // overwrite keeps, so its output must keep their invariant: a
      // transform that drops the generated column gets it recomputed;
      // one that changes a source column without updating the
      // generated one is REFUSED by the post-stage validation (an
      // overwrite that truly retires the rule's columns is refused
      // above — drop the rule first).
      val out = withGenerated(out0, snap.gencols)
      val evolved =
        if (overwriteSchema)
          Some(out.schema.json).filterNot(snap.schemaJson.contains)
        else resolveSchema(snap.schemaJson, out.schema)
      if (!overwriteSchema) checkNewColumns(snap, evolved)
      // an OVERWRITE replaces every file, so physical = logical again:
      // stage the new shape verbatim and CLEAR the column mapping in
      // the same commit; a plain rewrite keeps the mapping in force
      val effMap = if (overwriteSchema) Map.empty[String, String]
        else snap.colmap
      // X140 stage-first: the (full-table) transform executes ONCE —
      // in the staging write; constraints + generated-column agreement
      // are validated off the staged bytes
      val names = stage(toPhysical(out, effMap), dir)
      val physBlooms = bloomColumns.map(b =>
        b.copy(col = effMap.getOrElse(b.col, b.col)))
      try {
        val (stats, blooms) = stagedStatsAndBlooms(spark, dir, names,
          effMap, snap.constraints, snap.gencols,
          statsColumns.map(c => effMap.getOrElse(c, c)), physBlooms,
          "rewrite output", evolved.orElse(snap.schemaJson))
        return commitActions(spark, dir, names, snap.files, snap.version,
          newSchemaJson = evolved,
          schemaInForce = evolved.orElse(snap.schemaJson),
          // an overwrite that clears the mapping must ALSO conflict with
          // any intervening commit: a racing append staged under the old
          // mapping would survive the overwrite and read as NULLs forever
          conflictOnAnyIntervening =
            overwriteSchema && (evolved.nonEmpty || snap.colmap.nonEmpty),
          addStats = stats, addBlooms = blooms, op = Some("rewrite"),
          extraMeta =
            if (overwriteSchema && snap.colmap.nonEmpty) Seq("colmapclear")
            else Seq.empty)
      } catch {
        case e: ConcurrentWriteException =>
          // the lost attempt's staged files are unreferenced by any
          // log version — delete them instead of leaving vacuum work
          discardStaged(spark, dir, names, physBlooms)
          tries += 1
          if (tries > maxRetries) throw e
        case e: Throwable =>
          discardStaged(spark, dir, names, physBlooms); throw e
      }
    }
    -1L // unreachable
  }

  /** [[merge]]'s outcome: the committed version plus the honest scan
    * accounting — how many live files the key-discovery actually
    * planned vs the table total (the judge-able churn bound).
    */
  final case class MergeResult(version: Long, candidateFiles: Int,
      totalFiles: Int)

  /** Delta-parity MERGE (X127): `whenMatchedUpdateAll` +
    * `whenNotMatchedInsertAll`, with an optional `deleteCol` boolean
    * in the source marking matched keys to DELETE instead (the CDC
    * apply shape) — matched target rows are replaced by their source
    * row, unmatched source rows are inserted, delete-flagged source
    * rows remove their match and insert nothing.
    *
    * THE SCALE PROPERTY is touched-file discovery: only files that
    * COULD contain a source key are rewritten. A candidate is a live
    * file whose X117 stats interval for `keyCols.head` admits at least
    * one source key AND whose X126 bloom (when present) says MAYBE for
    * at least one — both tests are free of false negatives, so
    * non-candidates provably contain no match and PASS THROUGH
    * UNTOUCHED (same physical files, zero bytes rewritten; at 0.1%
    * key churn on a key-clustered 100 TB table the merge rewrites
    * ~0.2% of its bytes where a naive rewrite copies all of it).
    * Discovery collects the source's distinct head-key values to the
    * driver — the MERGE contract everywhere: the source is usually
    * the SMALL side (a CDC batch) — but only up to `maxDriverKeys`
    * distinct keys. Above the cap (a backfill-shaped merge) discovery
    * FALLS BACK to a distributed semi-join: candidate files admitted
    * by the source's overall [min, max] key range are scanned with
    * `input_file_name()` and semi-joined against the source's keys —
    * the driver receives only matching FILE names (bounded by #files),
    * never the keys, so a 10⁸-distinct-key merge cannot OOM the
    * driver. Both discovery modes are free of false negatives.
    *
    * Source keys must be unique (Delta's multiple-matches refusal);
    * NULL source keys never match and are inserted as-is (SQL equality
    * semantics). The source schema resolves ADDITIVELY against the log
    * schema, so a merge can evolve the table. Concurrency: racing
    * merges/rewrites on overlapping files serialize through the
    * remove-clash rule (the loser reruns its transform, up to
    * `maxRetries`); a concurrent APPEND lands independently — disjoint
    * files never conflict, Delta's WriteSerializable default.
    */
  def merge(spark: SparkSession, dir: String, source: DataFrame,
      keyCols: Seq[String], deleteCol: Option[String] = None,
      maxRetries: Int = 3,
      statsColumns: Seq[String] = Seq.empty,
      bloomColumns: Seq[OccBloom.BloomCol] = Seq.empty,
      txn: Option[(String, Long)] = None,
      maxDriverKeys: Int = 1 << 20): MergeResult = {
    require(keyCols.nonEmpty, "OccTable.merge: no key columns")
    require(maxDriverKeys >= 1,
      s"OccTable.merge: maxDriverKeys must be >= 1, got $maxDriverKeys")
    keyCols.foreach(c => require(source.columns.contains(c),
      s"OccTable.merge: key column '$c' not in source " +
        s"(${source.columns.mkString(", ")})"))
    deleteCol.foreach(c => require(source.columns.contains(c),
      s"OccTable.merge: deleteCol '$c' not in source"))
    val headKey = keyCols.head
    // SOURCE MATERIALIZATION (Delta does the same for MERGE): the source
    // lineage is executed several times below — the fused key
    // discovery/duplicate check, the candidate anti-join, and the staged
    // insert write (plus once more per conflict retry). Persisting it
    // pays the scan once and, as in Delta, pins one consistent view of a
    // nondeterministic source across all of them and across retries
    // (guide §5: cache only what is reused and expensive to recompute;
    // released in the finally below, never held across queries). The
    // pinning is best-effort: a lost block recomputes its slice of a
    // nondeterministic source — the caveat Delta's merge materialization
    // carries too. A source the CALLER already cached is left alone:
    // persisting again is a no-op but the finally's unpersist would
    // silently drop the caller's cache (CacheManager keys on the plan).
    val callerCached =
      source.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    if (!callerCached)
      source.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    // discovery forms of the head key: string (bloom probes — the
    // build-time cast("string")) and the stat projection (interval
    // tests), computable only for stats-typed columns
    val statTyped = source.schema(headKey).dataType match {
      case TimestampType | DateType => true
      case _: NumericType => true
      case _ => false
    }
    // uniqueness refusal (Delta: a target row matched by two source
    // rows is ambiguous) AND key discovery in ONE aggregation over the
    // persisted source (§1.2 — the previous shape paid two shuffles of
    // the source: a dup probe and a distinct-keys pass). Collect at
    // most cap+1 grouped keys: the +1 row is the overflow sentinel that
    // flips discovery to the distributed fallback — the driver never
    // materializes an unbounded key set. Under the cap the collected
    // groups are COMPLETE, so the dup scan happens driver-side; only
    // the over-cap (backfill-shaped) path still runs the dedicated dup
    // probe, against the persisted source. The key columns ride along
    // (first `nk` fields): under the cap they ARE the source's distinct
    // key set, which the anti-join below needs too.
    val nk = keyCols.size
    val grouped = source.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .select(keyCols.map(col) ++ Seq(
        col(headKey).cast("string").as("__s"),
        (if (statTyped) statProjection(source.schema, headKey)
         else lit(null).cast("double")).as("__d"),
        col("__n")): _*)
    val keyRows = grouped.limit(maxDriverKeys + 1).collect()
    val overCap = keyRows.length > maxDriverKeys
    val dup = keyRows.find(_.getLong(nk + 2) > 1L).orElse(
      if (!overCap) None
      else grouped.filter(col("__n") > 1).limit(1).collect().headOption)
    require(dup.isEmpty, s"OccTable.merge: source has duplicate keys " +
      s"on (${keyCols.mkString(", ")}), e.g. ${dup.map(r =>
        (0 until nk).map(r.get).mkString(", ")).getOrElse("")}")
    val keyStrs = if (overCap) Seq.empty[String]
      else keyRows.flatMap(r => Option(r.getString(nk))).distinct.toSeq
    val keyDoubles = if (overCap) Array.empty[Double]
      else keyRows.filter(!_.isNullAt(nk)).flatMap(r =>
        Option(r.getAs[java.lang.Double]("__d")).map(_.doubleValue))
        .distinct.sorted
    // the source's distinct keys for the discovery semi-join and the
    // survivors' anti-join: under the cap, a local relation of the
    // collected groups (no recomputation of the set; a NULL key matches
    // nothing, so its rows are left out); over it, the distributed
    // distinct
    val srcKeys =
      if (overCap) source.select(keyCols.map(col): _*).distinct()
      else spark.createDataFrame(keyRows.toSeq
        .filter(r => (0 until nk).forall(i => !r.isNullAt(i)))
        .map(r => Row.fromSeq(r.toSeq.take(nk))).asJava,
        StructType(grouped.schema.fields.take(nk)))
    // fallback pre-pruning: the source's OVERALL key range, one small
    // aggregation — a file whose stats interval misses [srcLo, srcHi]
    // entirely provably holds no source key
    val srcRange: Option[(Double, Double)] =
      if (!overCap || !statTyped) None
      else {
        val p = statProjection(source.schema, headKey)
        val r = source.agg(min(p).cast("double"), max(p).cast("double"))
          .head
        if (r.isNullAt(0) || r.isNullAt(1)) None
        else Some((r.getDouble(0), r.getDouble(1)))
      }
    def statsAdmit(stats: String, physKey: String): Boolean =
      statsFor(stats, physKey) match {
        case None => true // untracked column: cannot prune
        case Some((None, None)) => false // all-NULL file: no key matches
        case Some((mn, mx)) =>
          if (keyDoubles.isEmpty) true // non-stat-typed key: can't test
          else {
            val lo = mn.getOrElse(Double.NegativeInfinity)
            val hi = mx.getOrElse(Double.PositiveInfinity)
            // any source key in [lo, hi]? — binary search the sorted keys
            val i = {
              val p = java.util.Arrays.binarySearch(keyDoubles, lo)
              if (p >= 0) p else -(p + 1)
            }
            i < keyDoubles.length && keyDoubles(i) <= hi
          }
      }
    var tries = 0
    while (true) {
      val snap = snapshot(spark, dir)
      requireWritable(snap)
      // SetTransaction fence ([[appendStream]]'s semantics for MERGE —
      // Delta's streaming foreachBatch-merge idiom): a replayed
      // micro-batch is skipped by reading the log it already committed
      // to, making the streaming CDC apply exactly-once
      txn.foreach { case (appId, batchId) =>
        if (snap.txns.get(appId).exists(_ >= batchId))
          return MergeResult(snap.version, 0, snap.files.size)
      }
      // X143: a source still carrying the pre-widening (narrower)
      // type upcasts additively instead of refusing
      val alignedSrc = alignWidened(source, snap.schemaJson)
      val sourceData = deleteCol.map(alignedSrc.drop(_)).getOrElse(alignedSrc)
      // schema resolution sees the GENERATED shape (X138): a source
      // omitting a generated column is additive, not non-additive
      val evolved = resolveSchema(snap.schemaJson,
        withGenerated(sourceData, snap.gencols).schema)
      checkNewColumns(snap, evolved)
      // a zero-row source commits nothing, whatever its schema: no row
      // depends on the shape it would evolve the table to
      if (keyRows.isEmpty)
        return MergeResult(snap.version, 0, snap.files.size)
      val physKey = snap.physName(headKey)
      val candidates =
        if (overCap) {
          // distributed discovery: range-admitted files scanned with
          // input_file_name(), semi-joined to the source keys — two
          // column-pruned passes over CANDIDATES only, never the full
          // table; driver receives file names, bounded by #files
          val admitted = snap.files.filter(f =>
            snap.stats.get(f).forall(s => statsFor(s, physKey) match {
              case None => true
              case Some((None, None)) => false // all-NULL: no key matches
              case Some((mn, mx)) => srcRange.forall { case (lo, hi) =>
                mn.forall(_ <= hi) && mx.forall(_ >= lo) }
            }))
          val base =
            if (admitted.isEmpty) None
            else Some(scanFiles(spark, dir, snap, admitted))
          base match {
            // a key column absent from the table (source-side
            // evolution) can match no target row
            case Some(b) if keyCols.forall(b.columns.contains) =>
              val byBase = admitted.map(f => baseName(f) -> f).toMap
              b.select(input_file_name().as("__f") +:
                  keyCols.map(col): _*)
                .join(srcKeys, keyCols, "left_semi")
                .select("__f").distinct().collect()
                .flatMap(r => byBase.get(baseName(r.getString(0))))
                .toSeq
            case _ => Seq.empty[String]
          }
        } else if (keyStrs.isEmpty) Seq.empty[String]
        else {
          val byStats = snap.files.filter(f =>
            snap.stats.get(f).forall(statsAdmit(_, physKey)))
          bloomPrunedFiles(spark, dir, snap.copy(files = byStats),
            headKey, keyStrs)
        }
      val touched =
        if (candidates.isEmpty) None
        else Some(readSnapshot(spark, dir,
          snap.copy(files = candidates),
          throw new IllegalStateException("unreachable: candidates non-empty")))
      // over-cap sources must not broadcast: Spark materializes the
      // broadcast relation's full distinct key set ON THE DRIVER, so
      // hinting it for a backfill-shaped merge re-creates exactly the
      // driver OOM the distributed discovery avoids — let Spark pick
      // a shuffle join there, keep the hint for the small-CDC path
      val srcKeysSide = if (overCap) srcKeys else broadcast(srcKeys)
      val survivors = touched.map(_.join(srcKeysSide,
        keyCols, "left_anti"))
      val inserts = withGenerated(
        deleteCol.foldLeft(alignedSrc)((d, c) =>
          d.filter(!coalesce(col(c), lit(false))).drop(c)),
        snap.gencols)
      val out = survivors match {
        case Some(sv) => sv.unionByName(inserts, allowMissingColumns = true)
        case None => inserts
      }
      // X140 stage-first: one execution of the merge plan (the staging
      // write); constraints + generated-column agreement validated off
      // the staged bytes. Survivors re-validate trivially (they came
      // from the table, whose invariant held) — the scan is over the
      // rewritten files only, never the untouched table.
      val names = stage(toPhysical(out, snap.colmap), dir)
      val physBlooms = bloomColumns.map(b =>
        b.copy(col = snap.physName(b.col)))
      try {
        val (stats, blooms) = stagedStatsAndBlooms(spark, dir, names,
          snap.colmap, snap.constraints, snap.gencols,
          statsColumns.map(snap.physName), physBlooms, "merge source",
          evolved.orElse(snap.schemaJson))
        return MergeResult(
          commitActions(spark, dir, names, candidates, snap.version,
            txn = txn,
            newSchemaJson = evolved,
            schemaInForce = evolved.orElse(snap.schemaJson),
            addStats = stats, addBlooms = blooms, op = Some("merge")),
          candidates.size, snap.files.size)
      } catch {
        case e: ConcurrentWriteException =>
          discardStaged(spark, dir, names, physBlooms)
          tries += 1
          if (tries > maxRetries) throw e
        case e: Throwable =>
          discardStaged(spark, dir, names, physBlooms); throw e
      }
    }
    throw new IllegalStateException("unreachable")
    } finally if (!callerCached) source.unpersist(false)
  }

  /** [[deleteRange]]/[[deleteEquality]]'s outcome: committed version
    * (unchanged when nothing matched), files dropped as pure log
    * removes, files rewritten, files untouched.
    */
  final case class DeleteResult(version: Long, droppedFiles: Int,
      rewrittenFiles: Int, keptFiles: Int)

  /** Delta-parity `DELETE FROM t WHERE c BETWEEN lo AND hi` (X130):
    * rows whose STAT PROJECTION of `c` falls in [lo, hi] leave the
    * table; NULLs never match an interval and are kept — SQL
    * semantics. THE SCALE PROPERTY is the three-way file
    * classification off the X117 stats, all free of false negatives:
    *   - interval DISJOINT from [lo, hi] (or all-NULL file): the file
    *     provably holds no match — PASS THROUGH physically;
    *   - interval CONTAINED in [lo, hi] with zero recorded nulls: the
    *     file is provably all-match — DROPPED as a pure log remove,
    *     zero bytes read (retention deletes of old partitions cost
    *     O(metadata), the Delta behavior);
    *   - anything else (straddling files, stats-free legacy commits):
    *     REWRITE keeping the non-matching rows.
    * Racing writers serialize through the remove-clash rule.
    */
  def deleteRange(spark: SparkSession, dir: String, c: String,
      lo: Double, hi: Double, maxRetries: Int = 3,
      statsColumns: Seq[String] = Seq.empty,
      bloomColumns: Seq[OccBloom.BloomCol] = Seq.empty): DeleteResult = {
    require(lo <= hi, s"OccTable.deleteRange: lo=$lo > hi=$hi")
    var tries = 0
    while (true) {
      val snap = snapshot(spark, dir)
      requireWritable(snap)
      val physC = snap.physName(c)
      val classified = snap.files.map { f =>
        val verdict = snap.stats.get(f).map { s =>
          (statsFor(s, physC), statsNullsFor(s, physC)) match {
            case (Some((None, None)), _) => "keep" // all-NULL: no match
            case (Some((Some(mn), Some(mx))), nulls) =>
              if (mx < lo || mn > hi) "keep"
              else if (mn >= lo && mx <= hi && nulls.contains(0L)) "drop"
              else "rewrite"
            case _ => "rewrite" // untracked column: cannot prove anything
          }
        }.getOrElse("rewrite")
        f -> verdict
      }
      val kept = classified.collect { case (f, "keep") => f }
      val dropped = classified.collect { case (f, "drop") => f }
      val toRewrite = classified.collect { case (f, "rewrite") => f }
      if (dropped.isEmpty && toRewrite.isEmpty)
        return DeleteResult(snap.version, 0, 0, kept.size)
      val names =
        if (toRewrite.isEmpty) Seq.empty[String]
        else {
          val d = readSnapshot(spark, dir, snap.copy(files = toRewrite),
            throw new IllegalStateException("unreachable: non-empty"))
          val proj = statProjection(snap.schema.getOrElse(d.schema), c)
          stage(toPhysical(
            d.filter(proj.isNull || proj < lit(lo) || proj > lit(hi)),
            snap.colmap), dir)
        }
      val (stats, blooms) = stagedStatsAndBlooms(spark, dir, names,
        snap.colmap, Map.empty, Map.empty,
        statsColumns.map(snap.physName),
        bloomColumns.map(b => b.copy(col = snap.physName(b.col))),
        "staged batch", snap.schemaJson)
      try return DeleteResult(
        commitActions(spark, dir, names, dropped ++ toRewrite,
          snap.version, schemaInForce = snap.schemaJson,
          addStats = stats, addBlooms = blooms, op = Some("delete")),
        dropped.size, toRewrite.size, kept.size)
      catch {
        case e: ConcurrentWriteException =>
          tries += 1
          if (tries > maxRetries) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Delta-parity `DELETE FROM t WHERE c IN (values)` (X130's identity
    * form — the GDPR/right-to-be-forgotten shape: erase a user from a
    * 100 TB table): candidate files are discovered through the X126
    * BLOOM index (no false negatives — a file whose filter clears
    * every value provably holds none of them and PASSES THROUGH
    * physically), candidates rewrite keeping the non-matching rows.
    * Values compare in the build-time string form (`cast("string")`);
    * NULLs never equal anything and are kept. Without a bloom on `c`
    * every file is a candidate — correct, just a full rewrite.
    */
  def deleteEquality(spark: SparkSession, dir: String, c: String,
      values: Seq[String], maxRetries: Int = 3,
      statsColumns: Seq[String] = Seq.empty,
      bloomColumns: Seq[OccBloom.BloomCol] = Seq.empty): DeleteResult = {
    require(values.nonEmpty, "OccTable.deleteEquality: no values")
    var tries = 0
    while (true) {
      val snap = snapshot(spark, dir)
      requireWritable(snap)
      val candidates = bloomPrunedFiles(spark, dir, snap, c, values)
      val kept = snap.files.filterNot(candidates.toSet)
      if (candidates.isEmpty)
        return DeleteResult(snap.version, 0, 0, kept.size)
      val d = readSnapshot(spark, dir, snap.copy(files = candidates),
        throw new IllegalStateException("unreachable: non-empty"))
      val names = stage(toPhysical(d.filter(col(c).isNull ||
        !col(c).cast("string").isin(values: _*)), snap.colmap), dir)
      val (stats, blooms) = stagedStatsAndBlooms(spark, dir, names,
        snap.colmap, Map.empty, Map.empty,
        statsColumns.map(snap.physName),
        bloomColumns.map(b => b.copy(col = snap.physName(b.col))),
        "staged batch", snap.schemaJson)
      try return DeleteResult(
        commitActions(spark, dir, names, candidates, snap.version,
          schemaInForce = snap.schemaJson,
          addStats = stats, addBlooms = blooms, op = Some("delete")),
        0, candidates.size, kept.size)
      catch {
        case e: ConcurrentWriteException =>
          tries += 1
          if (tries > maxRetries) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private val DvDirName = "_graft_occ_dv"

  /** Filter a planned scan through the snapshot's deletion vectors
    * (X134): the DV sidecars are parquet (file_name, row_index) row
    * sets; the scan anti-joins on the parquet reader's `_metadata`
    * (file_name, row_index) — the deleted positions never reach the
    * consumer. With no DVs the plan is untouched (zero overhead for
    * DV-free tables). The DV relation is a normal parquet scan, so
    * Catalyst broadcasts it when it is small — the usual case: DVs
    * hold DELETED rows only, and compaction re-materializes files
    * whose DVs grow large.
    */
  private[sources] def applyDvs(spark: SparkSession, dir: String, s: Snapshot,
      base: DataFrame): DataFrame = {
    if (s.dvs.isEmpty) return base
    val dvPaths = s.dvs.values.toSeq.distinct
      .map(n => s"$dir/$DvDirName/$n")
    // sidecar rows and the scan's _metadata.file_name are BASENAMES
    // (uuid-unique even across a clone's absolute log names)
    val marked = s.dvs.keySet.map(baseName)
    val dv = spark.read.parquet(dvPaths: _*)
      // a shared sidecar may carry rows for files a later commit
      // re-added DV-free (restore): honor only CURRENTLY-marked files
      .filter(col("file_name").isin(marked.toSeq: _*))
      .select(col("file_name").as("__dv_fn"),
        col("row_index").as("__dv_ri"))
    base
      .withColumn("__dv_fn", col("_metadata.file_name"))
      .withColumn("__dv_ri", col("_metadata.row_index"))
      .join(dv, Seq("__dv_fn", "__dv_ri"), "left_anti")
      .drop("__dv_fn", "__dv_ri")
  }

  /** [[deleteRangeDv]]/[[deleteEqualityDv]]'s outcome: committed
    * version, rows marked deleted by THIS call, files whose DV changed,
    * files untouched. Zero data files are ever rewritten.
    */
  final case class DvDeleteResult(version: Long, markedRows: Long,
      markedFiles: Int, keptFiles: Int)

  private def deleteDvCore(spark: SparkSession, dir: String,
      candidates: Snapshot => Seq[String], rowFilter: DataFrame => Column,
      maxRetries: Int): DvDeleteResult = {
    var tries = 0
    while (true) {
      val snap = snapshot(spark, dir)
      requireWritable(snap)
      val cand = candidates(snap)
      if (cand.isEmpty)
        return DvDeleteResult(snap.version, 0L, 0, snap.files.size)
      // materialize the scan identity into REAL columns up front — a
      // JOIN downstream would sever `_metadata` resolution (a Project
      // does not: scanFiles' aliasing select is transparent to it, the
      // same route every applyDvs call relies on)
      val base = scanFiles(spark, dir, snap, cand)
        .withColumn("__dv_fn", col("_metadata.file_name"))
        .withColumn("__dv_ri", col("_metadata.row_index"))
      val candSet = cand.toSet
      val existingPaths = snap.dvs.filter { case (f, _) => candSet(f) }
        .values.toSeq.distinct.map(n => s"$dir/$DvDirName/$n")
      val existing =
        if (existingPaths.isEmpty) None
        else Some(spark.read.parquet(existingPaths: _*)
          .filter(col("file_name").isin(cand.map(baseName): _*))
          .select(col("file_name").as("__dv_fn"),
            col("row_index").as("__dv_ri")))
      val live = existing.fold(base)(ex =>
        base.join(ex, Seq("__dv_fn", "__dv_ri"), "left_anti"))
      val matching = live.filter(rowFilter(live))
        .select(col("__dv_fn").as("file_name"),
          col("__dv_ri").as("row_index"),
          lit(true).as("__new"))
      // union with the candidates' EXISTING deleted rows — a second
      // delete layers on the first, never resurrects
      val newDv = existing.fold(matching)(ex =>
        matching.unionByName(ex.select(col("__dv_fn").as("file_name"),
          col("__dv_ri").as("row_index"), lit(false).as("__new"))))
      // ONE execution of the matching lineage: the sidecar write IS the
      // action, the newly-marked count rides it as an observed metric,
      // and the per-file tally (only needed to decide which candidates
      // are touched) reads the just-written tiny sidecar back instead
      // of re-running the scan + anti-join. The previous shape executed
      // the lineage three times (per-file collect, count, write) —
      // guide §1.2/§1.4. Every newDv row's file is a candidate by
      // construction (matching scans candidates; existing is filtered
      // to them), so writing it unfiltered equals the old
      // filter-by-touched write.
      val dvName = s"dv-${java.util.UUID.randomUUID().toString}"
      val dvPath = s"$dir/$DvDirName/$dvName"
      val obs = org.apache.spark.sql.Observation()
      newDv.observe(obs, coalesce(sum(when(col("__new"), 1L)
          .otherwise(0L)), lit(0L)).as("marked"))
        .select(col("file_name"), col("row_index"))
        .write.parquet(dvPath)
      val markedNow = obs.get("marked").asInstanceOf[Long]
      val perFile = spark.read.parquet(dvPath).groupBy(col("file_name"))
        .agg(count(lit(1)).as("__n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // touched = files that now carry any deleted row; a candidate
      // with zero matches and no prior DV stays untouched. perFile is
      // keyed by BASENAME (the scan's _metadata identity)
      val touched = cand.filter(f => perFile.contains(baseName(f)))
      if (touched.isEmpty || (markedNow == 0L &&
          touched.forall(f => snap.dvs.contains(f)))) {
        fs(spark, dir).delete(new Path(dvPath), true) // no-op delete: drop the unreferenced sidecar
        return DvDeleteResult(snap.version, 0L, 0, snap.files.size)
      }
      try return DvDeleteResult(
        commitActions(spark, dir, touched, touched, snap.version,
          schemaInForce = snap.schemaJson,
          addStats = snap.stats.filter { case (f, _) => touched.contains(f) },
          addPvs = snap.pvs.filter { case (f, _) => touched.contains(f) },
          addBlooms =
            snap.blooms.filter { case (f, _) => touched.contains(f) },
          op = Some("delete_dv"),
          // first DV commit declares the feature: pre-X134 readers
          // would silently serve the deleted rows — refuse them (X139)
          extraMeta = declareFeature(snap, "deletion_vectors"),
          addDvs = touched.map(_ -> dvName).toMap),
        markedNow, touched.size, snap.files.size - touched.size)
      catch {
        case e: ConcurrentWriteException =>
          // the retry re-derives and re-writes its own sidecar — drop
          // this attempt's (previously left for vacuum to find)
          fs(spark, dir).delete(new Path(dvPath), true)
          tries += 1
          if (tries > maxRetries) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** X134 — `DELETE WHERE c BETWEEN lo AND hi` as DELETION VECTORS:
    * matching rows are marked deleted in a parquet sidecar of
    * (file_name, row_index) positions and the commit RE-ADDS the same
    * immutable data files with a `dv=` pointer — ZERO data bytes
    * rewritten, so a hundred-row delete on a 100 TB table costs the
    * matching scan plus a sidecar write (Delta's deletion-vector
    * feature, re-expressed). Candidate files come from X117 stats (no
    * false negatives); rows already marked stay marked (layered
    * deletes union); NULLs never match. [[read]]/[[readAt]], the
    * pruned readers, and [[tableChanges]] all honor DVs via the
    * `_metadata.row_index` anti-join; only the TAIL source classifies
    * a delete_dv commit under its onRewrite policy (a re-added file
    * with a new dv is churn it cannot replay row-exactly). Compact
    * ([[purgeDvs]] or [[rewrite]]/[[optimize]]) to materialize. Stats
    * stay prune-SAFE (they cover a superset).
    */
  def deleteRangeDv(spark: SparkSession, dir: String, c: String,
      lo: Double, hi: Double, maxRetries: Int = 3): DvDeleteResult = {
    require(lo <= hi, s"OccTable.deleteRangeDv: lo=$lo > hi=$hi")
    deleteDvCore(spark, dir,
      snap => snap.files.filter { f =>
        snap.stats.get(f).flatMap(statsFor(_, snap.physName(c))) match {
          case Some((None, None)) => false
          case Some((Some(mn), Some(mx))) => mx >= lo && mn <= hi
          case _ => true
        }
      },
      d => {
        val proj = statProjection(d.schema, c)
        proj >= lit(lo) && proj <= lit(hi)
      }, maxRetries)
  }

  /** X134's identity form — the GDPR erase without rewriting a byte:
    * candidates discovered through the X126 bloom, matching rows
    * marked in the DV sidecar. Values compare in the build-time
    * string form.
    */
  def deleteEqualityDv(spark: SparkSession, dir: String, c: String,
      values: Seq[String], maxRetries: Int = 3): DvDeleteResult = {
    require(values.nonEmpty, "OccTable.deleteEqualityDv: no values")
    deleteDvCore(spark, dir,
      snap => bloomPrunedFiles(spark, dir, snap, c, values),
      d => col(c).cast("string").isin(values: _*), maxRetries)
  }

  /** Materialize a table's deletion vectors away: rewrite ONLY the
    * DV-carrying files into clean local ones (DV applied), leaving
    * everything else physically untouched — the Delta `REORG TABLE …
    * APPLY (PURGE)` verb, and the path that re-enables the pruned
    * readers after X134 deletes.
    */
  def purgeDvs(spark: SparkSession, dir: String,
      maxRetries: Int = 3,
      statsColumns: Seq[String] = Seq.empty,
      bloomColumns: Seq[OccBloom.BloomCol] = Seq.empty): Long = {
    var tries = 0
    while (true) {
      val snap = snapshot(spark, dir)
      requireWritable(snap)
      val marked = snap.files.filter(snap.dvs.contains)
      if (marked.isEmpty) return snap.version
      // scanFiles reads with the LOG schema (a DV-marked file predating
      // an additive evolution serves the added columns as null) and
      // aliases physical→logical under column mapping (X137)
      val base = scanFiles(spark, dir, snap, marked)
      val clean0 = applyDvs(spark, dir, snap.copy(files = marked), base)
      val clean = snap.schema
        .map(st => clean0.select(st.fieldNames.map(col).toIndexedSeq: _*))
        .getOrElse(clean0)
      val names = stage(toPhysical(clean, snap.colmap), dir)
      val (stats, blooms) = stagedStatsAndBlooms(spark, dir, names,
        snap.colmap, Map.empty, Map.empty,
        statsColumns.map(snap.physName),
        bloomColumns.map(b => b.copy(col = snap.physName(b.col))),
        "staged batch", snap.schemaJson)
      try return commitActions(spark, dir, names, marked, snap.version,
        schemaInForce = snap.schemaJson,
        addStats = stats, addBlooms = blooms, op = Some("purge_dv"))
      catch {
        case e: ConcurrentWriteException =>
          tries += 1
          if (tries > maxRetries) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** [[optimize]]'s outcome: committed version (unchanged when nothing
    * qualified), files rewritten, files left untouched, files written.
    */
  final case class OptimizeResult(version: Long, compacted: Int,
      kept: Int, outputFiles: Int)

  /** Delta-parity OPTIMIZE (X128): compact the snapshot's SMALL files
    * into ~`targetFileBytes` outputs, leaving already-right-sized files
    * PHYSICALLY untouched — unlike [[rewrite]], which replaces every
    * file, this is the maintenance verb a streaming ingest actually
    * needs: a tail of per-micro-batch files folds into row-group-sized
    * parquet while the bulk of a 100 TB table never moves. Rows are
    * never added or dropped; the read is identical before and after.
    *
    * Partitioned tables compact PER PARTITION (Delta semantics): files
    * are grouped by their log-recorded partition values, each group
    * packs separately, and the outputs carry the group's `pv` — so
    * partition pruning keeps working across compactions. Files whose
    * commit recorded no pv form their own group.
    *
    * `zorderBy` turns the pack into OPTIMIZE ZORDER BY: EVERY selected
    * partition's files (small or not — clustering is global within the
    * partition) rewrite through [[Layout.zOrdered]]'s Morton curve
    * (two+ columns) or a plain range-cluster (one column), and
    * `statsColumns` on the clustered columns then gives
    * [[readPrunedMulti]] multiplicative skipping on BOTH dimensions.
    *
    * Concurrency: adds-only commits never conflict with this; a racing
    * rewrite/merge/optimize on overlapping files serializes through
    * the remove-clash rule and the loser reruns (up to `maxRetries`).
    */
  def optimize(spark: SparkSession, dir: String,
      smallFileBytes: Long = 32L << 20,
      targetFileBytes: Long = 128L << 20,
      zorderBy: Seq[String] = Seq.empty,
      maxRetries: Int = 3,
      statsColumns: Seq[String] = Seq.empty,
      bloomColumns: Seq[OccBloom.BloomCol] = Seq.empty): OptimizeResult = {
    require(smallFileBytes >= 1L && targetFileBytes >= 1L,
      s"OccTable.optimize: bad thresholds ($smallFileBytes, $targetFileBytes)")
    val fsys = fs(spark, dir)
    def cluster(d: DataFrame, n: Int): DataFrame = zorderBy match {
      case Seq() => d.coalesce(n) // pure pack: no shuffle, partitions merge
      case Seq(c) => d.repartitionByRange(n, col(c)).sortWithinPartitions(c)
      case cs => Layout.zOrdered(d, cs, n).getOrElse(d.coalesce(n))
    }
    var tries = 0
    while (true) {
      val snap = snapshot(spark, dir)
      requireWritable(snap)
      // X148: sizes come from the log; only adds committed size-less
      // (legacy logs) cost a filesystem stat
      val sized = snap.files.map(f => f -> snap.sizes.get(f).map(_._1)
        .getOrElse(fsys.getFileStatus(new Path(resolvePath(dir, f))).getLen))
      val selected =
        if (zorderBy.nonEmpty) sized // re-clustering rewrites the partition
        else sized.filter(_._2 < smallFileBytes)
      // group by log partition values; a group re-packs only when the
      // pack can shrink it (>1 file) or a re-cluster was asked
      val work = selected.groupBy { case (f, _) => snap.pvs.get(f) }
        .toSeq.sortBy(_._1.map(_.toSeq.sorted.mkString(";")).getOrElse(""))
        .filter { case (_, fs0) => zorderBy.nonEmpty || fs0.size > 1 }
      if (work.isEmpty)
        return OptimizeResult(snap.version, 0, snap.files.size, 0)
      val staged = work.map { case (pv, fs0) =>
        val names0 = fs0.map(_._1)
        val bytes = fs0.map(_._2).sum
        val nOut = math.max(1L, math.min(names0.size.toLong,
          (bytes + targetFileBytes - 1L) / targetFileBytes)).toInt
        val dfIn = readSnapshot(spark, dir, snap.copy(files = names0),
          throw new IllegalStateException("unreachable: group non-empty"))
        (pv, names0,
          stage(toPhysical(cluster(dfIn, nOut), snap.colmap), dir))
      }
      val adds = staged.flatMap(_._3)
      val removes = staged.flatMap(_._2)
      val addPvs = staged.collect { case (Some(pv), _, names) =>
        names.map(_ -> pv) }.flatten.toMap
      val (stats, blooms) = stagedStatsAndBlooms(spark, dir, adds,
        snap.colmap, Map.empty, Map.empty,
        statsColumns.map(snap.physName),
        bloomColumns.map(b => b.copy(col = snap.physName(b.col))),
        "staged batch", snap.schemaJson)
      try return OptimizeResult(
        commitActions(spark, dir, adds, removes, snap.version,
          schemaInForce = snap.schemaJson,
          addStats = stats, addPvs = addPvs, addBlooms = blooms,
          op = Some("optimize")),
        removes.size, snap.files.size - removes.size, adds.size)
      catch {
        case e: ConcurrentWriteException =>
          tries += 1
          if (tries > maxRetries) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Delta-CDF-style CHANGES between two versions: every key whose row
    * was added, removed, or changed from `fromVersion` to `toVersion`
    * (unchanged keys are omitted — the change feed, not a full diff).
    *
    * The scale property is CHURN-ONLY SCANNING: data files are
    * immutable, so a file present in BOTH snapshots contributes
    * identical rows to both sides — with per-snapshot-unique keys its
    * keys are provably unchanged and the file never enters the plan.
    * Only the symmetric difference of the two file sets is read: at
    * 0.1% churn a 100 TB table diffs by scanning ~0.2% of its bytes,
    * where a naive two-snapshot diff reads 200 TB. The row-level
    * classification is [[graft.sources.Layout.snapshotDiff]]'s
    * union-tag + one key aggregation (never a full outer join).
    * Compare columns missing on one side (additive evolution between
    * the versions) read as NULL there, matching the evolved-read
    * contract. Keys must be unique per snapshot.
    */
  def tableChanges(spark: SparkSession, dir: String, fromVersion: Long,
      toVersion: Long, keyCols: Seq[String],
      cols: Seq[String]): DataFrame = {
    require(fromVersion >= -1L && fromVersion < toVersion,
      s"OccTable.tableChanges: need -1 <= fromVersion < toVersion, got " +
        s"($fromVersion, $toVersion)")
    val sb = snapshotAt(spark, dir, toVersion)
    // fromVersion = -1 is the PRE-CREATION table: every row of the
    // target snapshot is an add (the change-feed subscriber's first
    // batch from 'earliest')
    val sa =
      if (fromVersion == -1L)
        Snapshot(-1L, Seq.empty, schemaJson = sb.schemaJson)
      else snapshotAt(spark, dir, fromVersion)
    // a file is COMMON (provably all-unchanged, skipped on both sides)
    // only when its name AND its deletion-vector state match — a
    // delete_dv commit re-adds the same file name with a new dv, and
    // its row losses must surface as 'removed' (X134)
    def churnKey(s: Snapshot, f: String): (String, Option[String]) =
      (f, s.dvs.get(f))
    val inB = sb.files.map(churnKey(sb, _)).toSet
    val inA = sa.files.map(churnKey(sa, _)).toSet
    def sideRead(s: Snapshot, names: Seq[String]): DataFrame = {
      val base = (s.schema, names) match {
        case (Some(st), Seq()) =>
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st)
        case (None, Seq()) => throw new IllegalStateException(
          s"OccTable: no churned files and no log schema at $dir")
        case (_, fs0) =>
          // BOTH sides serve the TO-version's logical space: a column
          // renamed between the versions compares its real bytes on
          // the from side (physical names are stable), instead of
          // reading as NULL and flagging every row as changed
          applyDvs(spark, dir, s.copy(files = names),
            scanFilesAs(spark, dir, s, sb, fs0))
      }
      (keyCols ++ cols).foldLeft(base) { (d, c) =>
        if (d.columns.contains(c)) d
        else d.withColumn(c, lit(null)) // pre-evolution side: NULL
      }
    }
    val ra = sideRead(sa, sa.files.filterNot(f => inB(churnKey(sa, f))))
    val rb = sideRead(sb, sb.files.filterNot(f => inA(churnKey(sb, f))))
    Layout.snapshotDiff(ra, rb, keyCols, cols)
      .filter(col("status") =!= "unchanged")
  }

  /** Delta-parity SHALLOW CLONE (X133): fork `srcDir`'s current
    * snapshot into a NEW table at `dstDir` by committing a v0 whose
    * add actions reference the source's data files BY ABSOLUTE PATH —
    * zero bytes copied (the `AddFile.path`-may-be-absolute convention
    * Delta's shallow clone rides). The clone then lives its own life:
    * appends/merges/deletes/optimizes commit locally, never touching
    * the source; a clone-side OPTIMIZE rewrites referenced files into
    * LOCAL ones (the localization path from shallow to deep). Stats,
    * partition values, the schema, and CHECK constraints ride the
    * clone (log state); bloom params do NOT — their sidecar bits live
    * beside the SOURCE's files and are not copied, so cloned files
    * read as bloom-free (unprunable, never wrong) until a local
    * rewrite rebuilds them.
    *
    * The Delta caveat applies verbatim: a VACUUM on the source
    * reclaims files the clone still references (the source cannot see
    * clone readers). Clone from a version you retain, or localize
    * (optimize) before source-side vacuums.
    */
  def clone(spark: SparkSession, srcDir: String,
      dstDir: String): Snapshot = {
    val s = snapshot(spark, srcDir)
    val fsys = fs(spark, dstDir)
    require(listVersions(fsys, dstDir).isEmpty &&
      listCheckpoints(fsys, dstDir).isEmpty,
      s"OccTable: log already exists at $dstDir")
    val srcFs = fs(spark, srcDir)
    def absolute(n: String): String =
      if (new Path(n).isAbsolute || n.contains(":/")) n
      else {
        val q = srcFs.makeQualified(new Path(resolvePath(srcDir, n)))
        val u = q.toUri
        if (u.getScheme == null || u.getScheme == "file") u.getPath
        else q.toString
      }
    val names = s.files.map(absolute)
    val renm = s.files.zip(names).toMap
    fsys.mkdirs(new Path(s"$dstDir/$LogDirName"))
    // deletion vectors ride the clone: the sidecars are metadata-scale
    // (deleted positions only), so copying them keeps the zero-DATA-
    // copy claim while the clone keeps serving the right rows. Sidecar
    // rows key on BASENAMES, which cloning preserves — copy verbatim.
    // clone re-serializes the snapshot through metaLines like
    // checkpoint does — an unknown WRITER feature's action lines would
    // silently drop from the fork while the declaration rides (X146)
    requireWritable(s)
    s.dvs.values.toSeq.distinct.foreach { dvName =>
      spark.read.parquet(s"$srcDir/$DvDirName/$dvName")
        .write.parquet(s"$dstDir/$DvDirName/$dvName")
    }
    // metaLines: the same serializer as [[checkpoint]] — constraints,
    // mapping state, generation rules, and features all ride the fork
    // (txns deliberately do NOT: a fresh table inherits no fences)
    // X148: the clone's v0 carries the source's recorded (size,
    // modTime) under the renamed absolute paths — a clone-backed
    // relation opens from log metadata alone, zero per-source-file
    // RPCs for readers. Size-less source adds (legacy logs) stat once
    // here, through the SOURCE filesystem, so the fork upgrades them.
    val sizes = s.files.flatMap { n =>
      s.sizes.get(n).orElse {
        try {
          val st = srcFs.getFileStatus(new Path(resolvePath(srcDir, n)))
          Some((st.getLen, st.getModificationTime))
        } catch { case scala.util.control.NonFatal(_) => None }
      }.map(renm(n) -> _)
    }.toMap
    val body = ("op clone" +:
      (s.files.map(n => addLine(renm(n), s.stats.get(n), s.pvs.get(n),
        None, s.dvs.get(n), sizes.get(renm(n)))) ++
        metaLines(s) ++
        schemaLines(s.schemaJson, s.schemaJson)))
      .mkString("", "\n", "\n")
    require(claim(fsys, versionPath(dstDir, 0L), body.getBytes("UTF-8")),
      s"OccTable: lost the clone-init race at $dstDir")
    Snapshot(0L, names, Map.empty, s.schemaJson,
      s.stats.map { case (n, v) => renm(n) -> v },
      s.pvs.map { case (n, v) => renm(n) -> v },
      Map.empty, s.constraints,
      // the committed v0 carries dv= pointers and the sidecars were
      // copied — the returned snapshot must agree, or a caller
      // consuming it directly would serve DV-deleted rows as live
      s.dvs.map { case (n, v) => renm(n) -> v },
      s.colmap, s.colTombs, s.gencols, s.everMapped, s.features,
      s.wfeatures, sizes)
  }

  /** Delta `DESCRIBE HISTORY` parity (X131): the table's commit log as
    * a DataFrame — one row per addressable commit file with the
    * operation name the writing verb stamped (`op …` commit-info
    * line), add/remove counts, schema-change flag, the SetTransaction
    * identity if any, and the commit wall-clock (the version file's
    * mtime, [[versionAsOf]]'s clock — deployment-local by nature, so
    * value oracles select the deterministic columns). O(#commits)
    * driver metadata work; commits a truncation absorbed into a
    * checkpoint are no longer addressable and don't appear, same as
    * Delta's history after log cleanup. Pre-extension commits read
    * operation `unknown`.
    */
  def history(spark: SparkSession, dir: String): DataFrame = {
    val fsys = fs(spark, dir)
    import spark.implicits._
    listVersions(fsys, dir).map { v =>
      val a = readActions(fsys, dir, v)
      (v, a.op.getOrElse("unknown"), a.adds.size.toLong,
        a.removes.size.toLong, a.schemaJson.nonEmpty,
        a.txns.headOption.map(_._1), a.txns.headOption.map(_._2),
        new java.sql.Timestamp(
          fsys.getFileStatus(versionPath(dir, v)).getModificationTime))
    }.toDF("version", "operation", "n_adds", "n_removes",
      "schema_changed", "txn_app", "txn_batch", "commit_ts")
  }

  /** Delta `DESCRIBE DETAIL` parity (X131's table-level twin): one row
    * summarizing the CURRENT snapshot — version, file/byte counts, how
    * many files carry deletion vectors or bloom indexes, declared
    * partition columns (from the log's pv state), CHECK-constraint
    * count, and the vacuum horizon. Pure metadata: O(#live files)
    * driver work off the snapshot fold; bytes sum the sizes the log
    * records per add (X148), with one `getFileStatus` only for a
    * size-less add of a legacy log.
    */
  def detail(spark: SparkSession, dir: String): DataFrame = {
    val fsys = fs(spark, dir)
    val s = snapshot(spark, dir)
    val bytes = s.files.map(f => s.sizes.get(f).map(_._1).getOrElse(
      fsys.getFileStatus(new Path(resolvePath(dir, f))).getLen)).sum
    // pv keys are physical names (X137) — report the logical view
    val physToLogical = s.colmap.map(_.swap)
    val partCols = s.pvs.values.flatMap(_.keys).toSeq.distinct
      .map(p => physToLogical.getOrElse(p, p)).distinct.sorted
    import spark.implicits._
    Seq((s.version, s.files.size.toLong, bytes,
      s.dvs.size.toLong, s.blooms.size.toLong,
      partCols.mkString(","), s.constraints.size.toLong,
      vacuumedThrough(spark, dir)))
      .toDF("version", "num_files", "size_bytes", "num_dv_files",
        "num_bloom_files", "partition_columns", "num_constraints",
        "vacuumed_through")
  }

  /** Delta-parity RESTORE: make the CURRENT snapshot equal the table
    * as of `version` — as a NEW COMMIT, not a rewind: history above
    * the restore point stays time-travelable, and the restore itself
    * is an ordinary log entry a tail subscriber sees as a rewrite.
    * Data files are immutable and commits never delete them, so the
    * restore is PURE LOG WORK — adds = files live at `version` but
    * not now, removes = files live now but not at `version`; zero
    * bytes copied. Restored files carry their original stats and
    * partition values (log state rides the re-add). The schema in
    * force at `version` is restored too (Delta semantics — a restore
    * can undo an additive evolution; readers of post-evolution files
    * through the older schema simply stop seeing the added columns).
    * Conflict-safe through the standard OCC commit path: a racing
    * rewrite's remove clash surfaces as [[ConcurrentWriteException]].
    * Below the vacuum marker [[snapshotAt]] refuses by name — the
    * files to re-add may be reclaimed.
    */
  def restore(spark: SparkSession, dir: String, version: Long): Long = {
    val cur = snapshot(spark, dir)
    requireWritable(cur)
    require(version <= cur.version,
      s"OccTable.restore: version $version is ahead of ${cur.version}")
    if (version == cur.version) return cur.version
    val tgt = snapshotAt(spark, dir, version)
    val curSet = cur.files.toSet
    val tgtSet = tgt.files.toSet
    // files live in BOTH versions whose per-file deletion-vector state
    // differs must be RE-ADDED so the fold re-establishes the target's
    // DV (a row-level delete after the restore point would otherwise
    // survive the restore) — an add of a live file updates its state
    val dvChanged = tgt.files.filter(curSet)
      .filter(f => cur.dvs.get(f) != tgt.dvs.get(f))
    val adds = tgt.files.filterNot(curSet) ++ dvChanged
    val removes = cur.files.filterNot(tgtSet)
    val schemaChange =
      if (tgt.schemaJson != cur.schemaJson) tgt.schemaJson else None
    // constraints and generation rules do NOT rewind (accumulate
    // state, the X132 design) — so a restore that re-establishes a
    // schema a CURRENT rule cannot analyze against must refuse up
    // front, or every later write dies inside enforcement
    schemaChange.foreach { j =>
      checkDeclaredResolve(spark,
        DataType.fromJson(j).asInstanceOf[StructType], cur,
        s"restore to version $version")
    }
    // restore the column mapping of the target version too (a restore
    // can undo a rename/drop): full-map replace, or an explicit clear
    // when the target predates the mapping. Tombstones stay — they are
    // monotone (the dropped bytes still exist in history).
    val colmapChange: Seq[String] =
      if (tgt.colmap == cur.colmap) Seq.empty
      else if (tgt.colmap.isEmpty) Seq("colmapclear")
      else colmapLines(tgt.colmap)
    commitActions(spark, dir, adds, removes, cur.version,
      newSchemaJson = schemaChange,
      schemaInForce = tgt.schemaJson.orElse(cur.schemaJson),
      addStats = tgt.stats.filter { case (n, _) => adds.contains(n) },
      addPvs = tgt.pvs.filter { case (n, _) => adds.contains(n) },
      addBlooms = tgt.blooms.filter { case (n, _) => adds.contains(n) },
      op = Some("restore"),
      extraMeta = colmapChange,
      addDvs = tgt.dvs.filter { case (n, _) => adds.contains(n) })
  }

  /** Delete data files no RETAINED log version references — lost-
    * attempt staging, crashed writers, and files only historical
    * snapshots outside the retention window still point at — including
    * `.occ-staging-*` directories a writer that died mid-[[stage]] left
    * behind (invisible to readers; by the no-concurrent-writers vacuum
    * contract they cannot belong to a live writer).
    *
    * `retainVersions` is the retention window: every file referenced
    * by ANY of the newest `retainVersions` reconstructible snapshots
    * survives, so [[readAt]]/[[snapshotAt]] keep serving that history
    * (and a lagging stream whose lag is shorter than the window keeps
    * reading: [[OccWindow.window]] probes the adds it serves at or
    * below the marker and refuses by name if one was reclaimed). The
    * default (1) keeps only the current snapshot — maximal reclaim.
    * Vacuum records the highest version it stopped guaranteeing in a
    * `vacuumedThrough` marker (monotone across runs); time travel
    * at/below it fails loudly with [[VacuumedVersionException]] instead
    * of a missing-file scan error.
    *
    * UNSAFE while a writer is mid-stage — run it the way every table
    * format runs vacuum: from the maintenance owner, not concurrently
    * with writers. Returns the deleted names.
    *
    * `dryRun = true` is Delta's `VACUUM … DRY RUN`: compute and return
    * exactly what a real run would reclaim — same listing, same
    * retention math — but delete NOTHING and leave the
    * `vacuumedThrough` marker untouched, so the operator can audit the
    * blast radius (and catch a too-short retention window) before
    * committing to it.
    */
  def vacuum(spark: SparkSession, dir: String,
      retainVersions: Long = 1L, dryRun: Boolean = false): Seq[String] = {
    require(retainVersions >= 1L,
      s"OccTable.vacuum: retainVersions must be >= 1, got $retainVersions")
    val fsys = fs(spark, dir)
    // a fully-truncated log is all-checkpoint: still a live table
    require(listVersions(fsys, dir).nonEmpty ||
      listCheckpoints(fsys, dir).nonEmpty, s"OccTable: no log at $dir")
    val latest = snapshot(spark, dir).version
    val floor = math.max(0L, latest - retainVersions + 1L)
    val alreadyThrough = vacuumedThrough(spark, dir)
    // union of live files across the retained window; versions the log
    // can no longer reconstruct (truncated commits, prior vacuum) are
    // not readable anyway and hold no retention claim
    val retainedSnaps = (floor to latest).flatMap { v =>
      try Some(snapshotAt(spark, dir, v))
      catch {
        case _: VacuumedVersionException => None
        case _: IllegalArgumentException => None
      }
    }
    val referenced = retainedSnaps.flatMap(_.files).toSet
    val referencedDvs = retainedSnaps.flatMap(_.dvs.values).toSet
    val entries = fsys.listStatus(new Path(dir)).toSeq
    val garbageFiles = entries
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      .map(_.getPath.getName)
      .filterNot(referenced)
    val crashedStaging = entries
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(".occ-staging-"))
      .map(_.getPath.getName)
    // bloom sidecars live and die with their data file (X126): reclaim
    // every sidecar whose data file is not referenced by the retained
    // window — including sidecars of files this very run deletes
    val bloomDir = new Path(s"$dir/${OccBloom.BloomDirName}")
    val orphanSidecars =
      if (!fsys.exists(bloomDir)) Seq.empty[String]
      else fsys.listStatus(bloomDir).toSeq.filter(_.isFile)
        .map(_.getPath.getName)
        .filter(n => OccBloom.sidecarDataFile(n).forall(!referenced(_)))
    // DV sidecars (X134) are parquet directories named by the dv id;
    // reclaim those no retained snapshot references
    val dvDir = new Path(s"$dir/$DvDirName")
    val orphanDvs =
      if (!fsys.exists(dvDir)) Seq.empty[String]
      else fsys.listStatus(dvDir).toSeq.map(_.getPath.getName)
        .filterNot(referencedDvs)
    if (!dryRun) {
      garbageFiles.foreach(n => fsys.delete(new Path(dir, n), false))
      crashedStaging.foreach(n => fsys.delete(new Path(dir, n), true))
      orphanSidecars.foreach(n => fsys.delete(new Path(bloomDir, n), false))
      orphanDvs.foreach(n => fsys.delete(new Path(dvDir, n), true))
      // the marker is monotone: a later, longer-retention vacuum never
      // re-promises history a shorter one already reclaimed
      val through = math.max(alreadyThrough, floor - 1L)
      if (through > alreadyThrough) writeVacuumMarker(fsys, dir, through)
    }
    garbageFiles ++ crashedStaging ++
      orphanSidecars.map(n => s"${OccBloom.BloomDirName}/$n") ++
      orphanDvs.map(n => s"$DvDirName/$n")
  }
}
