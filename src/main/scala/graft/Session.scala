package graft

import org.apache.spark.sql.SparkSession

/** The library's SparkSession entry point: one place that applies the
  * settings graft needs, so adopters cannot trip over them one at a time.
  *
  *   - `spark.sql.legacy.parquet.nanosAsLong=true` — the events lake has
  *     shipped TIMESTAMP(NANOS) files, unreadable by Spark's reader
  *     without it; harmless for micros files.
  *   - `spark.sql.parquet.inferTimestampNTZ.enabled=false` — naive
  *     parquet timestamps (timestamp[us] with no zone) read as
  *     TIMESTAMP_LTZ in the UTC session rather than NTZ, so range
  *     predicates push to the scan and timestamp arithmetic stays on one
  *     type ([[graft.sources.Tables.events]] handles NTZ too, minus the
  *     pushdown).
  *   - UTC session timezone — window/oracle arithmetic must not depend on
  *     the host zone.
  *   - `spark.sql.extensions=graft.plans.GraftExtensions` — graft's
  *     native functions, the cosine rewrite, and the analysis rule that
  *     applies deletion vectors to batch `graft-occ` reads (without it
  *     such a read refuses loudly instead of resurrecting deleted rows).
  *   - `spark.sql.shuffle.partitions` sized to the given parallelism
  *     instead of the 200 default (for local/test use; on a real cluster
  *     leave AQE coalescing to size reducers and pass the executor core
  *     count).
  *
  * `graft.Verify` / `Bench` / `StreamBench` / `Explain`, the benchmark
  * and the test suites all build their sessions here.
  */
object Session {

  /** A builder pre-loaded with graft's required configs; callers may
    * `.config(...)` further before `.getOrCreate()`.
    */
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions",
        classOf[graft.plans.GraftExtensions].getName)
      .config(graft.sources.Tables.NanosAsLongConf, "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // write timestamps as annotated INT64 micros, not the deprecated
      // INT96: INT96 carries no usable min/max statistics, so every
      // layout rewrite (z-order, compaction, writeByDay) would silently
      // lose row-group pruning on its time column — measured: the
      // ts-sorted layout read 100% of the table for a one-week predicate
      // under INT96, ~week/month of it under micros
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")

  /** Local session at the tool default: `local[cpus]` with one shuffle
    * partition per core, log level WARN.
    */
  def local(cpus: Int): SparkSession = {
    val spark = builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The RocksDB state store provider conf — REQUIRED at 100 TB
    * streaming state, opt-in here. The default HDFSBackedStateStore
    * keeps every key's state in executor HEAP (disk is only the
    * checkpoint), so state capacity is executor memory and large
    * stateful queries die in GC long before disk fills; RocksDB keeps
    * the working set on local SSD with a block-cache in native memory —
    * state bounded by disk, heap pressure flat. Changelog checkpointing
    * keeps commit cost proportional to the batch's CHANGES instead of
    * re-uploading full SST files. Apply via
    * `Session.builder(...).config(rocksdbStateStore).getOrCreate()`;
    * per-query state-store provider is not a thing — it's session-wide.
    */
  def rocksdbStateStore: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true",
    // one SHARED block cache + write-buffer manager across every store
    // instance on the executor, capped at maxMemoryUsageMB (Spark
    // default 500): without it each of the executor's store instances
    // (one per shuffle partition it hosts) owns a private cache and
    // native memory scales with partition count — the unbounded-memory
    // failure mode moved from heap to native. With it, state memory is
    // bounded BY CONF regardless of key count; overflow goes to SST
    // files on local disk (measured: POSTURE_10X.json `state`)
    "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage" ->
      "true")
}
