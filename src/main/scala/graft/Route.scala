package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.functions.broadcast

/** The engine's one broadcast-or-shuffle decision for a side the planner
  * cannot size, and the only place that hints a broadcast. A router passes
  * a derived side that is not pinned with a bound that follows from how
  * the side is built (a `vec_id < n` query set, a collected array's
  * length, a join whose output is bounded by a pin's row count); the side
  * is broadcast iff rows × Spark's own per-row size
  * (`EstimationUtils.getSizePerRow`, the rule a pin's statistics use)
  * fits the session's `spark.sql.autoBroadcastJoinThreshold`, read as
  * Spark reads it (a byte string such as `64MB`; a negative value never
  * broadcasts). Pinned sides ([[Superstep.pin]] carries measured
  * statistics) and sides Spark's planner can size itself (scans, one-row
  * aggregates, limits, driver-built frames) need no route. No operator
  * has its own knob: that one setting moves every broadcast.
  */
object Route {

  def broadcasts(small: DataFrame, rows: Long): Boolean = {
    val limit = small.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    limit >= 0 && EstimationUtils.getSizePerRow(small.queryExecution.analyzed.output) * rows <= limit
  }

  /** `df` hinted for broadcast when it [[broadcasts]], else unchanged. */
  def small(df: DataFrame, rows: Long): DataFrame =
    if (broadcasts(df, rows)) broadcast(df) else df
}
