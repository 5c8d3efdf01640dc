package graft

import org.apache.spark.sql.SparkSession

/** Session settings for the length of one spec body, restored after. */
object TestConf {

  def withConf[T](spark: SparkSession, settings: (String, String)*)(body: => T): T = {
    val saved = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** The connected-components state hashed over `parts` partitions that
    * AQE does not coalesce, so no partition holds a whole component and
    * the supersteps run.
    */
  def spreadState[T](spark: SparkSession, parts: Int = 8)(body: => T): T =
    withConf(spark, "spark.sql.shuffle.partitions" -> parts.toString,
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")(body)
}
