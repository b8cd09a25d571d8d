package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.obs.Telemetry

/** In-flight data-quality metrics via `Dataset.observe` — the counters a
  * standing pipeline exports per micro-batch WITHOUT a second
  * aggregation pass and WITHOUT re-querying the sink: the observation
  * rides the existing plan as accumulator-backed expressions evaluated
  * on rows exactly as they flow to the sink. The reference dashboard
  * recomputes its ingestion-health numbers by re-querying the store per
  * panel refresh (reference/streamlit_dashboard.py:88-110); at 100 TB
  * that re-query is a table scan per refresh, while the observation is
  * free — it costs one projection over rows already in flight.
  *
  * Contract: metrics summarize the rows that REACHED the observe node —
  * put it before a quality filter to count what arrives, after to count
  * what survives. Only non-distinct aggregates ride an observation
  * (engine rule: they must be mergeable per-partition without a
  * shuffle), which is also why these are per-batch numbers a metrics
  * store can sum, not finished rates.
  */
object Observed {

  val MetricName = "graft_quality"

  /** Attach the standard quality observation: row count, null count on
    * `valueCol`, and out-of-domain count vs [lo, hi]. Composes with any
    * plan, batch or streaming (batch reads land in
    * `df.queryExecution.observedMetrics` after an action; streaming
    * lands per micro-batch in `QueryProgress.observedMetrics`, read
    * back by [[quality]]).
    */
  def withQuality(df: DataFrame, valueCol: String,
      lo: Double, hi: Double): DataFrame =
    df.observe(MetricName,
      count(lit(1)).as("n_rows"),
      sum(when(col(valueCol).isNull, 1L).otherwise(0L)).as("n_null"),
      sum(when(col(valueCol) < lo || col(valueCol) > hi, 1L)
        .otherwise(0L)).as("n_out_of_range"))

  /** A micro-batch's [[MetricName]] observation as a plain (n_rows,
    * n_null, n_out_of_range) map — the bridge from the engine's progress
    * reports (collected by [[graft.obs.Telemetry]]) to whatever metrics
    * store the deployment exports to. Batches that moved no data
    * publish no observation and give `None`.
    */
  def quality(p: Telemetry.Progress): Option[Map[String, Long]] =
    p.observed.get(MetricName).map(m => m.schema.fieldNames.zipWithIndex
      // a watermark-only batch can still execute the plan and publish
      // count=0 with null sums; read those as 0, not a getLong NPE
      .map { case (f, i) => f -> (if (m.isNullAt(i)) 0L else m.getLong(i)) }
      .toMap)
}
