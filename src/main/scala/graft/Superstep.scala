package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.{col, count, when}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.GraftInternals

/** The engine's one superstep primitive, and its only materialization: how
  * an operator pins a frame, learns that an iteration is done, and gives
  * the blocks back.
  *
  * A pin is an eager local checkpoint: lineage stops at the pin and its
  * partitions are computed exactly once. The pin job also measures what it
  * stores (rows, string and binary bytes, array and map elements), and the
  * pinned frame plans with those numbers (`rowCount`, and `sizeInBytes`
  * from Spark's own per-row size with each measured column at its observed
  * length) instead of the estimate of the plan it replaced. So Spark's
  * planner sizes a pinned join side itself: a pinned side needs no
  * [[Route]], and [[rows]] reads the count back. A pinned frame plans as
  * `Scan ExistingRDD` with unknown partitioning, so a pin never saves the
  * next superstep's exchange on its key. `Dataset.unpersist` frees nothing
  * for a pin (the blocks belong to the RDD under its `LogicalRDD`, not to
  * the cache manager); [[release]] frees them through that RDD. Pins nobody
  * releases are swept by [[GraftSession.releaseCaches]] after the query.
  */
object Superstep {

  def pin(df: DataFrame): DataFrame = GraftInternals.measuredCheckpoint(df)

  /** [[pin]] that also evaluates the aggregate `metrics` on the pin job
    * itself (`Dataset.observe`, read from a fresh `Observation`), so a
    * convergence count, a sum or a max costs no extra action. Values come
    * back as Longs in argument order; an aggregate over no rows that
    * yields null (a sum or max, or any metric of an input with no
    * partitions) reads as 0.
    */
  def pin(df: DataFrame, metric: Column, more: Column*): (DataFrame, IndexedSeq[Long]) = {
    val obs = Observation()
    val named = (metric +: more).zipWithIndex.map { case (c, i) => c.as(s"m$i") }
    val pinned = pin(df.observe(obs, named.head, named.tail: _*))
    val values = obs.get
    (pinned, named.indices.map(i => values.get(s"m$i") match {
      case Some(v: Number) => v.longValue
      case _ => 0L
    }))
  }

  /** The row count a pin measured on its job. */
  def rows(pinned: DataFrame): Long = logicalRdd(pinned).stats.rowCount.get.toLong

  /** Frees a pin's blocks now. Only release a pin once everything still
    * read from it, by the caller or by what it returns, was itself pinned
    * eagerly after it: a lazy frame over a released pin fails when run.
    */
  def release(pinned: DataFrame): Unit = rddOf(pinned).unpersist(blocking = false)

  private[graft] def rddOf(pinned: DataFrame): RDD[_] = logicalRdd(pinned).rdd

  private def logicalRdd(pinned: DataFrame): LogicalRDD = pinned.queryExecution.logical match {
    case r: LogicalRDD => r
    case p => throw new IllegalArgumentException(s"not a pinned frame: ${p.nodeName}")
  }

  /** The replace-state loop: `state = step(state, r)` for each round `r`
    * of `rounds`. Round `r` is pinned when `r % cadence == 0`; rounds in
    * between stay lazy and fuse into the next pin's job. With `progress`,
    * the name of a boolean column the step emits to flag each row that
    * still moved, every pinned round counts the flagged rows on the pin
    * job, and a pinned round with none ends the loop. The flag column
    * stays in the state, so the next step can read which rows moved (a
    * frontier); the caller projects it away from the result. Each pin the
    * loop takes is released once the next one lands; `init` stays the
    * caller's. Returns the final state (pinned iff its round was) and
    * whether a round without progress ended the loop.
    */
  def iterate(init: DataFrame, rounds: Range, cadence: Int = 1, progress: Option[String] = None)(
      step: (DataFrame, Int) => DataFrame): (DataFrame, Boolean) = {
    require(cadence >= 1, s"cadence must be >= 1, got $cadence")
    var state = init
    var lastPin: Option[DataFrame] = None
    var converged = false
    val it = rounds.iterator
    while (!converged && it.hasNext) {
      val r = it.next()
      val next = step(state, r)
      state =
        if (r % cadence != 0) next
        else {
          val pinned = progress match {
            case Some(flag) =>
              val (df, Seq(n)) = pin(next, count(when(col(flag), 1)))
              converged = n == 0
              df
            case None => pin(next)
          }
          lastPin.foreach(release)
          lastPin = Some(pinned)
          pinned
        }
    }
    (state, converged)
  }
}
