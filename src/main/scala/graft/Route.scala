package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** The engine's one broadcast-or-shuffle decision. A router measures its
  * small side's row count (a probe it already runs, or a pin metric); the
  * side is broadcast iff rows × its schema's default row size fits the
  * session's `spark.sql.autoBroadcastJoinThreshold`, read as Spark reads it
  * (a byte string such as `64MB`; a negative value never broadcasts). No
  * operator has its own knob: that one setting moves every route.
  */
object Route {

  def broadcasts(small: DataFrame, rows: Long): Boolean = {
    val limit = small.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    limit >= 0 && rows <= limit / math.max(small.schema.defaultSize, 1)
  }

  /** `df` hinted for broadcast when it [[broadcasts]], else unchanged. */
  def small(df: DataFrame, rows: Long): DataFrame =
    if (broadcasts(df, rows)) broadcast(df) else df
}
