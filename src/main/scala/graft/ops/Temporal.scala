package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal join operators Spark has no built-in form of: the as-of join
  * (each left row ↔ the latest right row at-or-before it, per key) and the
  * unkeyed interval join (events ↔ the time windows containing them).
  *
  * The reference correlates event streams against state timelines with
  * per-entity SQL lookups (reference/streamlit_dashboard.py:130-171 issues
  * a "latest reading before T" index scan per panel refresh); these are the
  * distributed batch forms of that access pattern.
  *
  * Both are written for the 100 TB posture:
  *   - [[asofJoin]] is the union-tag + running-`last` rewrite: ONE shuffle
  *     on the join key and a per-key sort — never the naive
  *     `left JOIN right ON key AND r.ts <= l.ts` whose intermediate is
  *     |left| × |matching right| (quadratic on active keys) before the
  *     per-row max prunes it.
  *   - [[intervalJoinBucketed]] is the bucketed rewrite of a PURE range
  *     join: without it Spark can only plan a non-equi θ-join as
  *     BroadcastNestedLoopJoin — |events| × |windows| comparisons and a
  *     hard broadcast ceiling on the window side. Bucketing time into
  *     fixed-width cells turns it into a hash equi-join on the cell id
  *     with an exact containment post-filter.
  */
object Temporal {

  /** As-of join: for each `left` row, the single latest `right` row with
    * the same `keyCol` and `right.tsCol <= left.tsCol` (LEFT semantics —
    * unmatched left rows keep null payload). Ties at the same right
    * timestamp break toward the largest `tieCol` (compared on its native
    * type), deterministically. Null handling mirrors SQL equality
    * semantics (the DuckDB oracle replay): right rows with a null key or
    * a null timestamp can never match and are dropped; left rows with a
    * null key or a null timestamp are kept with null payload — a window
    * partition would otherwise group null keys TOGETHER and mis-attach
    * payloads SQL's `l.k = r.k` never would.
    *
    * Implementation: both sides are tagged and unioned; within each key,
    * a running `last(payload, ignoreNulls)` over
    * `ORDER BY ts, tag, tie ROWS UNBOUNDED PRECEDING` carries the newest
    * right payload forward onto every left row (right rows sort before
    * left rows at the same instant, so `<=` holds at equality). One
    * shuffle on `keyCol`, a per-key sort, zero joins — each side is
    * scanned once and the intermediate never exceeds |left| + |right|.
    *
    * Skew: a pathologically hot key serializes its own sort (the same
    * bound as any per-key window); [[asofJoinSharded]] is the time-bucket
    * sharded rewrite that breaks exactly that bound.
    *
    * @param payload right-side columns to attach, as (srcCol → outName);
    *                out names must not collide with left columns.
    */
  def asofJoin(left: DataFrame, right: DataFrame, keyCol: String,
      leftTs: String, rightTs: String, tieCol: String,
      payload: Seq[(String, String)]): DataFrame = {
    require(payload.nonEmpty, "asofJoin: payload must name ≥1 right column")
    val leftCols = left.columns.toSeq
    require(payload.forall { case (_, out) => !leftCols.contains(out) },
      "asofJoin: payload out-names must not collide with left columns")
    require((leftCols ++ right.columns).forall(!_.startsWith("__")),
      "asofJoin: input columns must not use the reserved __ prefix " +
        "(__k/__ts/__tag/__tie/__pay/__m are internal)")
    val pay = struct(payload.map { case (src, out) => col(src).as(out) }: _*)
    // tie-break orders on tieCol's NATIVE type — a string cast would rank
    // numeric ties lexicographically ('9' > '10')
    val tieType = right.schema(tieCol).dataType
    // right rows with a null key can't equality-match anything and a null
    // as-of timestamp has no position on the timeline; dropping both up
    // front keeps the null-key window partition and nulls-first ordering
    // from attaching payloads SQL semantics never would
    val r = right
      .filter(col(keyCol).isNotNull && col(rightTs).isNotNull)
      .select(
        col(keyCol).as("__k") +: col(rightTs).as("__ts") +: lit(0).as("__tag") +:
          col(tieCol).as("__tie") +: pay.as("__pay") +:
          leftCols.map(c => lit(null).as(c)): _*)
    val l = left.select(
      col(keyCol).as("__k") +: col(leftTs).as("__ts") +: lit(1).as("__tag") +:
        lit(null).cast(tieType).as("__tie") +:
        lit(null).cast(r.schema("__pay").dataType).as("__pay") +:
        leftCols.map(col): _*)
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__ts"), col("__tag"), col("__tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    r.unionByName(l)
      .withColumn("__m", last(col("__pay"), ignoreNulls = true).over(w))
      .filter(col("__tag") === 1)
      .select(leftCols.map(col) ++
        payload.map { case (_, out) => col(s"__m.$out").as(out) }: _*)
  }

  /** [[asofJoin]] with hot keys sharded by a coarse time bucket — same
    * semantics (spec-pinned equivalent), but the per-key sort that
    * serializes a pathologically hot key in the plain form is broken
    * into independent (key, bucket) partitions, so parallelism scales
    * with keys × time instead of keys. The 100 TB form: a device that
    * emits for years no longer funnels through one task.
    *
    * Bucket boundaries are stitched with a SEED row: per (key, bucket),
    * the newest right payload from any strictly earlier bucket, computed
    * at BUCKET granularity (cells = data span / `bucketSec` rows per
    * key — window-function work orders of magnitude below row scale)
    * with the same union-tag trick, lefts-before-rights within a cell so
    * a bucket's seed never sees its own bucket's right rows. The seed
    * sorts first in each (key, bucket) partition and the in-bucket
    * running `last` takes over from there, so every left row sees
    * `coalesce(newest in-bucket right at-or-before it, seed)` — exactly
    * the plain form's carry.
    *
    * Two full-data shuffles (the cell-level seed pass aggregates
    * map-side to bucket granularity before its tiny per-key window)
    * against [[asofJoin]]'s one — the price of the skew bound; prefer
    * the plain form until a key's row count actually concentrates.
    * Payload columns must be orderable (the boundary max compares a
    * (ts, tie, payload) struct) — maps can't ride this variant.
    */
  def asofJoinSharded(left: DataFrame, right: DataFrame, keyCol: String,
      leftTs: String, rightTs: String, tieCol: String,
      payload: Seq[(String, String)], bucketSec: Long): DataFrame = {
    require(bucketSec > 0, "asofJoinSharded: bucketSec must be positive")
    require(payload.nonEmpty,
      "asofJoinSharded: payload must name ≥1 right column")
    val leftCols = left.columns.toSeq
    require(payload.forall { case (_, out) => !leftCols.contains(out) },
      "asofJoinSharded: payload out-names must not collide with left columns")
    require((leftCols ++ right.columns).forall(!_.startsWith("__")),
      "asofJoinSharded: input columns must not use the reserved __ prefix")
    val bw = bucketSec * 1000000L // bucket width in microseconds
    val tsType = left.schema(leftTs).dataType
    // bucketing derives the cell via unix_micros, so this variant is
    // timestamp-only — unlike asofJoin, which sorts any orderable ts type
    Seq(leftTs -> tsType, rightTs -> right.schema(rightTs).dataType).foreach {
      case (c, t) => require(
        t == org.apache.spark.sql.types.TimestampType ||
          t == org.apache.spark.sql.types.TimestampNTZType,
        s"asofJoinSharded: ts column $c must be a timestamp (got $t) — " +
          "use asofJoin for other orderable ts types")
    }
    val tieType = right.schema(tieCol).dataType
    val pay = struct(payload.map { case (src, out) => col(src).as(out) }: _*)
    // the LTZ cast covers NTZ inputs (no-op for LTZ); bucket ids only
    // need to be consistent within the query, and the session zone is
    // fixed for the query's lifetime, so the NTZ→LTZ mapping is the same
    // monotone shift on both sides — cell boundaries stay aligned
    def cellOf(c: Column): Column =
      floor(unix_micros(c.cast(org.apache.spark.sql.types.TimestampType)) / bw)
        .cast("long")

    // same null-key/null-ts drop as asofJoin (SQL equality semantics)
    val r = right
      .filter(col(keyCol).isNotNull && col(rightTs).isNotNull)
      .select(
        col(keyCol).as("__k"), col(rightTs).as("__ts"),
        col(tieCol).as("__tie"), pay.as("__pay"),
        cellOf(col(rightTs)).as("__cell"))

    // ---- seed pass, at bucket granularity ----
    // newest right row per (key, bucket): lexicographic struct max on
    // (ts, tie, payload) = the plain form's (ts asc, tie asc) running-last
    // winner within that bucket
    val rCells = r.groupBy(col("__k"), col("__cell"))
      .agg(max(struct(col("__ts"), col("__tie"), col("__pay"))).as("__m"))
      .select(col("__k"), col("__cell"), lit(1).as("__cord"), col("__m"))
    val lCells = left.select(col(keyCol).as("__k"),
        cellOf(col(leftTs)).as("__cell"))
      .distinct()
      .select(col("__k"), col("__cell"), lit(0).as("__cord"),
        lit(null).cast(rCells.schema("__m").dataType).as("__m"))
    // lefts sort BEFORE rights at the same cell (__cord), so a bucket's
    // seed carries only strictly-earlier buckets; a null left cell (null
    // left ts) sorts first of all and seeds null — the plain form's
    // null-ts-left behavior
    val wSeed = Window.partitionBy(col("__k"))
      .orderBy(col("__cell"), col("__cord"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val seeds = rCells.unionByName(lCells)
      .withColumn("__seed", last(col("__m"), ignoreNulls = true).over(wSeed))
      .filter(col("__cord") === 0 && col("__seed").isNotNull)
      .select(col("__k"), col("__cell"),
        col("__seed").getField("__pay").as("__pay"))

    // ---- main pass, partitioned by (key, bucket) ----
    val nullLeft = leftCols.map(c => lit(null).as(c))
    val seedRows = seeds.select(
      col("__k") +: col("__cell") +: lit(0).as("__ord") +:
        lit(null).cast(tsType).as("__ts") +: lit(-1).as("__tag") +:
        lit(null).cast(tieType).as("__tie") +: col("__pay") +:
        nullLeft: _*)
    val rMain = r.select(
      col("__k") +: col("__cell") +: lit(1).as("__ord") +: col("__ts") +:
        lit(0).as("__tag") +: col("__tie") +: col("__pay") +: nullLeft: _*)
    val lMain = left.select(
      col(keyCol).as("__k") +: cellOf(col(leftTs)).as("__cell") +:
        lit(1).as("__ord") +: col(leftTs).as("__ts") +: lit(1).as("__tag") +:
        lit(null).cast(tieType).as("__tie") +:
        lit(null).cast(seedRows.schema("__pay").dataType).as("__pay") +:
        leftCols.map(col): _*)
    val w = Window.partitionBy(col("__k"), col("__cell"))
      .orderBy(col("__ord"), col("__ts"), col("__tag"), col("__tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    seedRows.unionByName(rMain).unionByName(lMain)
      .withColumn("__m", last(col("__pay"), ignoreNulls = true).over(w))
      .filter(col("__tag") === 1)
      .select(leftCols.map(col) ++
        payload.map { case (_, out) => col(s"__m.$out").as(out) }: _*)
  }

  /** Streaming as-of enrichment against a STATIC timeline — the
    * point-in-time feature lookup ([[asofJoin]] semantics) in a form
    * Structured Streaming can run: per-row window functions can't ride a
    * stream, so the right side is pre-aggregated into one sorted
    * (ts, tie, payload) array per key (a static, broadcastable dimension
    * timeline — the SCD-history shape) and each stream row resolves its
    * match with codegen'd `filter` + `array_max` higher-order functions.
    * Stream-static broadcast join + narrow projection: NO state store, no
    * watermark interaction, works identically on a batch frame
    * (spec-pinned row-identical to [[asofJoin]]).
    *
    * The lexicographic `array_max` over (ts, tie, payload) structs IS the
    * plain form's (ts asc, tie asc) running-last winner among entries
    * ≤ the row's timestamp; an empty filter result (no entry at-or-before,
    * or a null key/timestamp) yields null payload — LEFT semantics.
    *
    * Scale bound: one key's FULL timeline lives in one array (and the
    * whole timeline table broadcasts) — right-sized for dimension
    * histories served against a fact stream, the reference's
    * "latest state before T" lookup; it is NOT the shape for a
    * fact-fact as-of, which stays batch ([[asofJoinSharded]]).
    *
    * Payload columns must be orderable, same as [[asofJoinSharded]]
    * (`sort_array`/`array_max` compare a (ts, tie, payload) struct) —
    * maps can't ride this variant; enforced below so the failure names
    * the column instead of surfacing as an opaque analysis error.
    */
  def asofEnrichStreamStatic(stream: DataFrame, right: DataFrame,
      keyCol: String, streamTs: String, rightTs: String, tieCol: String,
      payload: Seq[(String, String)]): DataFrame = {
    require(payload.nonEmpty,
      "asofEnrichStreamStatic: payload must name ≥1 right column")
    require(!right.isStreaming,
      "asofEnrichStreamStatic: the timeline side must be static (a batch " +
        "dimension frame); two streams have no bounded point-in-time state")
    val streamCols = stream.columns.toSeq
    require(payload.forall { case (_, out) => !streamCols.contains(out) },
      "asofEnrichStreamStatic: payload out-names must not collide with " +
        "stream columns")
    require((streamCols ++ right.columns).forall(!_.startsWith("__")),
      "asofEnrichStreamStatic: input columns must not use the reserved " +
        "__ prefix")
    def containsMap(dt: org.apache.spark.sql.types.DataType): Boolean = {
      import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
      dt match {
        case _: MapType => true
        case s: StructType => s.fields.exists(f => containsMap(f.dataType))
        case a: ArrayType => containsMap(a.elementType)
        case _ => false
      }
    }
    payload.foreach { case (src, _) =>
      require(!containsMap(right.schema(src).dataType),
        s"asofEnrichStreamStatic: payload column $src contains a map — " +
          "sort_array/array_max need orderable structs; project the map " +
          "to orderable fields (or serialize it) first")
    }
    val pay = struct(payload.map { case (src, out) => col(src).as(out) }: _*)
    // same null-key/null-ts drop as asofJoin (SQL equality semantics)
    val timeline = right
      .filter(col(keyCol).isNotNull && col(rightTs).isNotNull)
      .groupBy(col(keyCol).as("__k"))
      .agg(sort_array(collect_list(
        struct(col(rightTs).as("__ts"), col(tieCol).as("__tie"),
          pay.as("__pay")))).as("__tl"))
    val matched = array_max(filter(col("__tl"),
      e => e.getField("__ts") <= col(streamTs)))
    stream
      .join(broadcast(timeline), stream(keyCol) === col("__k"), "left")
      .withColumn("__m", matched)
      .select(streamCols.map(col) ++
        payload.map { case (_, out) =>
          col("__m").getField("__pay").getField(out).as(out) }: _*)
  }

  /** Unkeyed interval join + rollup: windows (`idCol`, `[startCol,
    * endCol)` half-open) against event timestamps, aggregated to one row
    * per window (`n_events`, `avg_value` over `valueCol`; zero-event
    * windows kept with n_events = 0 and null avg — LEFT semantics, the
    * audit-friendly shape).
    *
    * The bucketed range-join rewrite: time is cut into `bucketSec`-wide
    * cells; each window explodes to the ≤ ⌈len/bucket⌉+1 cells it spans
    * (a bounded, data-independent blow-up) while each event maps to
    * exactly ONE cell — so a (window, event) pair meets in at most one
    * cell and the join needs no post-dedup. The join is then a plain hash
    * equi-join on the cell id with the exact containment predicate as a
    * post-filter, instead of the BroadcastNestedLoopJoin Spark must
    * otherwise plan for a θ-only join (quadratic compare, broadcast
    * ceiling). Pick `bucketSec` ≈ the median window length: wider wastes
    * post-filter work, narrower multiplies the window-side explode —
    * [[tuneBucketSec]] computes that pick from the windows frame.
    */
  def intervalJoinBucketed(windows: DataFrame, idCol: String,
      startCol: String, endCol: String, events: DataFrame, tsCol: String,
      valueCol: String, bucketSec: Long): DataFrame = {
    require(bucketSec > 0, "intervalJoinBucketed: bucketSec must be positive")
    require(Seq(idCol, startCol, endCol, tsCol, valueCol)
        .forall(!_.startsWith("__")),
      "intervalJoinBucketed: column names must not use the reserved __ " +
        "prefix (__cell/__ets/__ev are internal)")
    val bw = bucketSec * 1000000L // cell width in microseconds
    // Invalid windows (inverted or null-bounded) take windowCells' null
    // branch and survive via explode_outer as a single uncovered row:
    // LEFT semantics keep every window, with n_events = 0 marking the
    // ones that matched nothing.
    val wB = windows.select(col(idCol), col(startCol), col(endCol),
        explode_outer(windowCells(col(startCol), col(endCol), bucketSec))
          .as("__cell"))
    val eB = events.select(col(tsCol).as("__ets"), col(valueCol).as("__ev"),
      floor(unix_micros(col(tsCol)) / bw).cast("long").as("__cell"))
    wB.join(eB,
        wB("__cell") === eB("__cell") &&
          col("__ets") >= col(startCol) && col("__ets") < col(endCol),
        "left")
      .groupBy(col(idCol), col(startCol), col(endCol))
      .agg(count(col("__ets")).as("n_events"),
        round(avg(col("__ev")), 6).as("avg_value"))
  }

  /** [[intervalJoinBucketed]] per entity: windows carry a key and only
    * collect events with the SAME key (each device's maintenance window
    * sees that device's events) — the key simply joins the cell id in the
    * hash equi-join, so the rewrite's shape is unchanged and the shuffle
    * co-partitions on (key, cell): hot time ranges spread across keys
    * instead of funneling into one cell's partition. Null-keyed windows
    * match nothing (SQL equality semantics) but are kept with
    * n_events = 0; null-keyed events match nothing and vanish into the
    * left join.
    */
  def intervalJoinBucketedKeyed(windows: DataFrame, windowKeyCol: String,
      idCol: String, startCol: String, endCol: String, events: DataFrame,
      eventKeyCol: String, tsCol: String, valueCol: String,
      bucketSec: Long): DataFrame = {
    require(bucketSec > 0,
      "intervalJoinBucketedKeyed: bucketSec must be positive")
    require(Seq(windowKeyCol, idCol, startCol, endCol, eventKeyCol, tsCol,
        valueCol).forall(!_.startsWith("__")),
      "intervalJoinBucketedKeyed: column names must not use the reserved " +
        "__ prefix (__wk/__ek/__cell/__ets/__ev are internal)")
    require(!Seq(idCol, startCol, endCol).contains(windowKeyCol),
      "intervalJoinBucketedKeyed: windowKeyCol must be distinct from the " +
        "window id/bound columns")
    val bw = bucketSec * 1000000L
    val wB = windows.select(col(windowKeyCol).as("__wk"), col(idCol),
        col(startCol), col(endCol),
        explode_outer(windowCells(col(startCol), col(endCol), bucketSec))
          .as("__cell"))
    val eB = events.select(col(eventKeyCol).as("__ek"),
      col(tsCol).as("__ets"), col(valueCol).as("__ev"),
      floor(unix_micros(col(tsCol)) / bw).cast("long").as("__cell"))
    wB.join(eB,
        col("__wk") === col("__ek") && wB("__cell") === eB("__cell") &&
          col("__ets") >= col(startCol) && col("__ets") < col(endCol),
        "left")
      .groupBy(col("__wk"), col(idCol), col(startCol), col(endCol))
      .agg(count(col("__ets")).as("n_events"),
        round(avg(col("__ev")), 6).as("avg_value"))
      .withColumnRenamed("__wk", windowKeyCol)
  }

  /** The "bucketSec ≈ median window length" doc rule closed into a
    * recommendation (the `tuneNProbe`/`tuneMaxDist` pattern — the knob
    * was measured, now it is operable): median span of the valid windows
    * in seconds, clamped to ≥ 1. Median is the balance point of the
    * rewrite's two costs — wider cells put more non-matching events
    * through the containment post-filter; narrower cells multiply the
    * window-side explode (⌈len/bucket⌉ + 1 cells per window) — and on
    * the measured hot-range fixture (one-minute windows inside one hour)
    * it picks the 60 s cell that carried the 6.9× speedup over the
    * coarse single-cell plan. One `percentile_approx` aggregate over the
    * windows frame: O(windows) with constant driver state, fine to run
    * per query at 100 TB (the windows side is the small one by
    * construction).
    */
  def tuneBucketSec(windows: DataFrame, startCol: String,
      endCol: String): Long = {
    val med = windows
      .filter(col(startCol).isNotNull && col(endCol).isNotNull &&
        col(endCol) > col(startCol))
      .agg(percentile_approx(
        (unix_micros(col(endCol)) - unix_micros(col(startCol))) / 1e6,
        lit(0.5), lit(10000)).as("m"))
      .collect().head
    require(!med.isNullAt(0),
      "tuneBucketSec: no valid (start < end, non-null) windows to tune on")
    math.max(1L, math.round(med.getDouble(0)))
  }

  /** The guarded cell array a window spans — [[intervalJoinBucketed]]'s
    * explode input, exposed package-private so the spec pins the
    * PRODUCTION guard. End is exclusive: the last covered instant is
    * end − 1 µs. The sequence is gated on end > start: `sequence(a, b)`
    * DESCENDS when a > b, so an inverted window (bad data) would
    * otherwise explode into a data-dependent number of cells — the exact
    * unbounded blow-up the bucketed rewrite exists to rule out. Inverted
    * or null-bounded windows return null (one carrier row after
    * `explode_outer`).
    */
  private[ops] def windowCells(start: Column, end: Column,
      bucketSec: Long): Column = {
    val bw = bucketSec * 1000000L
    when(end > start, sequence(
      floor(unix_micros(start) / bw).cast("long"),
      floor((unix_micros(end) - 1) / bw).cast("long")))
  }

  /** STREAM-STREAM interval join — the live form of the interval-join
    * family: inner-join two unbounded streams on equality keys plus a
    * bounded event-time range (`rightTs` ∈ [`leftTs` + windowFrom,
    * `leftTs` + windowTo]), the "correlate each alert with the readings
    * of the next N minutes" shape the reference's dashboard recomputes
    * with per-panel lookback SQL (streamlit_dashboard.py:130-171) and a
    * batch engine answers with [[intervalJoinBucketedKeyed]].
    *
    * Both sides get an event-time watermark here — with the range bound
    * they are what let the engine EVICT: a buffered left row dies once
    * the right watermark passes `leftTs + windowTo`, a right row once
    * the left watermark passes `rightTs − windowFrom`, so join state is
    * bounded by the correlation window × arrival skew, not by history.
    * Inner join output is eager (a match emits in the micro-batch that
    * completes it, nothing held for finalization), so a finite in-order
    * replay equals the batch interval join row-for-row — exactly how
    * the `q_stream_stream_join` gate is oracled.
    *
    * Column contract: `leftTs` and `rightTs` must be distinct names, and
    * the key columns are equated pairwise and emitted once (right copies
    * dropped); any other same-named column pair survives ambiguously, so
    * callers rename payload columns apart first (the replay's branches
    * do). Works unchanged on batch frames (`withWatermark` is a no-op
    * there) — the spec pins stream ≡ batch on the same inputs.
    *
    * `joinType` admits `leftOuter` too — the "alerts that saw NO reading
    * in their window" form (matched rows still emit eagerly; an
    * unmatched left row emits null-padded only when watermark-driven
    * state EVICTION reaches it, which Spark runs one batch behind — so
    * a bounded replay must CLOSE the stream or tail-state never
    * flushes: `Replay.eventsSplit`'s two-sided flush sentinels
    * are that close, and the `q_stream_stream_join_outer` oracle is
    * then the plain batch left join, with no finalized-prefix clause).
    */
  def streamIntervalJoin(left: DataFrame, leftTs: String, leftWm: String,
      right: DataFrame, rightTs: String, rightWm: String,
      keys: Seq[String], windowFrom: String = "0 seconds",
      windowTo: String = "5 minutes",
      joinType: String = "inner"): DataFrame = {
    require(Set("inner", "leftOuter").contains(joinType),
      s"streamIntervalJoin: joinType must be inner|leftOuter, got $joinType")
    require(leftTs != rightTs,
      s"leftTs and rightTs must be distinct column names (both '$leftTs')")
    require(keys.nonEmpty, "at least one equality key is required " +
      "(a pure time-range stream-stream join has no co-partitioning key)")
    val rKeys = keys.map(k => k -> s"__r_$k")
    val r2 = rKeys.foldLeft(right) { case (d, (k, rk)) =>
      d.withColumnRenamed(k, rk)
    }
    val cond = rKeys.map { case (k, rk) => col(k) === col(rk) }
      .reduce(_ && _) &&
      col(rightTs) >= col(leftTs) + expr(s"INTERVAL $windowFrom") &&
      col(rightTs) <= col(leftTs) + expr(s"INTERVAL $windowTo")
    left.withWatermark(leftTs, leftWm)
      .join(r2.withWatermark(rightTs, rightWm), cond, joinType)
      .drop(rKeys.map(_._2): _*)
  }
}
