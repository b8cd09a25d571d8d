package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Output comparisons shared by the workloads. */
object Checks {

  /** Row count and an order-independent hash of the columns `cols`, in
    * that order.
    */
  def countAndHash(df: DataFrame, cols: Seq[String]): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** Rows in either frame and not the other, duplicates counted. */
  def symmetricDiff(a: DataFrame, b: DataFrame): Long = {
    val bb = b.select(a.columns.map(col).toIndexedSeq: _*)
    a.exceptAll(bb).count() + bb.exceptAll(a).count()
  }

  /** Compare two frames keyed on `keys`: every key must be on both sides
    * with each value column equal (doubles to a relative 1e-9, since a
    * streaming and a batch aggregate may sum in different orders).
    * Returns (rows expected, rows missing, extra or different).
    */
  def compareKeyed(want: DataFrame, got: DataFrame, keys: Seq[String],
      values: Seq[String]): (Long, Long) = {
    def side(df: DataFrame, p: String) = df.select(
      keys.map(col) ++ Seq(lit(true).as(s"${p}_present")) ++
        values.map(c => col(c).cast("double").as(s"${p}_$c")): _*)
    val j = side(want, "w").join(side(got, "g"), keys, "full_outer")
    val same = values.map { c =>
      val (w, g) = (col(s"w_$c"), col(s"g_$c"))
      (w.isNull && g.isNull) ||
        abs(w - g) <= lit(1e-9) * greatest(lit(1.0), abs(w))
    }.reduce(_ && _) && col("w_present").isNotNull && col("g_present").isNotNull
    val r = j.agg(count(col("w_present")),
      count(when(!coalesce(same, lit(false)), 1))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** A collected result in a canonical order, for comparison across runs
    * (rows that differ only in a double's last bits may sort apart; the
    * results compared here have a unique key).
    */
  def canonical(rows: Array[Row]): Seq[Seq[Any]] =
    rows.toSeq.map(_.toSeq).sortBy(_.mkString("\u0001"))

  /** Equal up to the last bits of a floating sum: a partial aggregate's
    * merge order is not fixed from one run to the next.
    */
  def sameRows(a: Seq[Seq[Any]], b: Seq[Seq[Any]]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) =>
      x.length == y.length && x.zip(y).forall {
        case (u: Double, v: Double) =>
          u == v || math.abs(u - v) <= 1e-9 * math.max(1.0, math.abs(u))
        case (u, v) => u == v
      }
    }
}
