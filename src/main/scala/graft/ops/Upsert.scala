package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Latest-wins snapshot merge — the MERGE INTO / CDC-apply of a
  * plain-parquet lake (no table format required): apply a batch of row
  * versions (upserts and tombstone deletes) to a snapshot, keeping, per
  * key, the row with the greatest version. The maintenance op that turns
  * an append-only ingest log into a queryable current-state table.
  *
  * Shape, not a join: both sides union with a side tag, then ONE hash
  * aggregation on the key — `max_by(payload, (version, side))` — so the
  * intermediate never exceeds |snapshot| + |updates| and the only
  * exchange is the key shuffle any merge must pay. A join-based MERGE
  * pays two exchanges and holds both sides; this is the union-tag trick
  * the as-of join family uses (`ops/Temporal.scala`), applied to
  * row-version resolution. Map-side partial `max_by` collapses each
  * partition to one candidate per key before the shuffle, so a snapshot
  * rewritten daily at 100 TB moves keys, not history.
  *
  * This is the version-ordered batch reference. Applying changes to a
  * stored table, with only the touched files rewritten, is
  * [[graft.sources.OccTable.merge]]; its streaming form is
  * [[graft.sources.OccTable.mergeSink]].
  */
object Upsert {

  /** Merge `updates` into `snapshot`: per `keyCols` group, the row with
    * the greatest `(versionCol, side)` wins — ties on version break
    * toward `updates` (side 1), so a same-version correction replaces
    * the snapshot row deterministically. If `deleteCol` is given, a
    * winning row with it true is a tombstone: the key disappears from
    * the result (and the flag column itself is dropped — it is merge
    * metadata, not payload). Both frames must share a schema; within one
    * side, (key, version) pairs must be unique for a deterministic
    * winner (CDC logs satisfy this by construction — a key changes at
    * most once per commit timestamp).
    */
  def latestWins(snapshot: DataFrame, updates: DataFrame,
      keyCols: Seq[String], versionCol: String,
      deleteCol: Option[String] = None): DataFrame = {
    require(keyCols.nonEmpty, "latestWins: empty key")
    require(snapshot.columns.toSeq == updates.columns.toSeq,
      s"latestWins: schemas differ — snapshot ${snapshot.columns.toSeq} " +
        s"vs updates ${updates.columns.toSeq}")
    require(!snapshot.columns.contains("__side"),
      "latestWins: __side is reserved")
    (keyCols :+ versionCol).foreach(c =>
      require(snapshot.columns.contains(c), s"latestWins: no column $c"))
    deleteCol.foreach(d => require(snapshot.columns.contains(d),
      s"latestWins: no delete column $d"))

    val payload = snapshot.columns.filterNot(keyCols.contains).toSeq
    val tagged = snapshot.withColumn("__side", lit(0))
      .unionByName(updates.withColumn("__side", lit(1)))
    val winner = tagged
      .groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(payload.map(col): _*),
        struct(col(versionCol), col("__side"))).as("__w"))
    val unpacked = winner.select(
      keyCols.map(col) ++ payload.map(p => col(s"__w.`$p`").as(p)): _*)
    // null tombstone flag = NOT deleted (a CDC feed that only stamps
    // op='d' rows leaves the column null elsewhere); bare !col(d) would
    // evaluate null and silently drop the row
    deleteCol.fold(unpacked)(d =>
      unpacked.filter(!coalesce(col(d), lit(false))).drop(d))
  }
}
