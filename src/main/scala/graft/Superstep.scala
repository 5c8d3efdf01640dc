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
  * Loops take one of two shapes. [[iterate]] replaces its state and
  * releases each pin it supersedes: use it when a round reads only the
  * round before (PageRank, label propagation, min-propagation). [[expand]]
  * keeps every layer and ends on the first empty one: use it when a round
  * reads the earlier layers or the result is their union (BFS, walks,
  * hierarchy levels).
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
  * the cache manager); [[release]] frees them through that RDD
  * ([[GraftInternals.release]]). Pins nobody releases are swept by
  * [[GraftSession.releaseCaches]] after the query.
  */
object Superstep {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass.getName.stripSuffix("$"))

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

  /** The size a pin plans with: Spark's per-row size, each measured
    * column at its observed length, times [[rows]].
    */
  def bytes(pinned: DataFrame): BigInt = logicalRdd(pinned).stats.sizeInBytes

  /** Frees a pin's blocks now. Only release a pin once everything still
    * read from it, by the caller or by what it returns, was itself pinned
    * eagerly after it: a lazy frame over a released pin fails when run.
    */
  def release(pinned: DataFrame): Unit = GraftInternals.release(rddOf(pinned))

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
    * whether a round without progress ended the loop. Logs one INFO line
    * per loop: rounds run, rounds pinned, the progress count of each pinned
    * round and whether the loop converged.
    */
  def iterate(init: DataFrame, rounds: Range, cadence: Int = 1, progress: Option[String] = None)(
      step: (DataFrame, Int) => DataFrame): (DataFrame, Boolean) = {
    require(cadence >= 1, s"cadence must be >= 1, got $cadence")
    var state = init
    var lastPin: Option[DataFrame] = None
    var converged = false
    var run = 0
    var pins = 0
    val counts = Seq.newBuilder[Long]
    val it = rounds.iterator
    while (!converged && it.hasNext) {
      val r = it.next()
      val next = step(state, r)
      run += 1
      state =
        if (r % cadence != 0) next
        else {
          pins += 1
          val pinned = progress match {
            case Some(flag) =>
              val (df, Seq(n)) = pin(next, count(when(col(flag), 1)))
              counts += n
              converged = n == 0
              df
            case None => pin(next)
          }
          lastPin.foreach(release)
          lastPin = Some(pinned)
          pinned
        }
    }
    log.info(s"superstep loop: $run rounds run, $pins pinned" +
      progress.fold("")(f => s", $f per pinned round [${counts.result().mkString(", ")}]") +
      (if (converged) ", converged" else ", not converged"))
    (state, converged)
  }

  /** The keep-all loop: `first`, a pin, is layer 0, and round `r` of
    * `rounds` pins `step(layers so far, r)` as the next layer. A layer
    * whose [[rows]] read 0 is released and ends the loop; an empty `first`
    * runs no round. Returns `first` and the non-empty layers, the caller's
    * to release. Logs one INFO line per loop: the rows of each layer and
    * whether an empty layer or the round limit ended it.
    */
  def expand(first: DataFrame, rounds: Range)(
      step: (IndexedSeq[DataFrame], Int) => DataFrame): IndexedSeq[DataFrame] = {
    var layers = Vector(first)
    var counts = Vector(rows(first))
    val it = rounds.iterator
    while (counts.last > 0 && it.hasNext) {
      val layer = pin(step(layers, it.next()))
      counts :+= rows(layer)
      if (counts.last > 0) layers :+= layer else release(layer)
    }
    log.info(s"layered loop: rows per layer [${counts.mkString(", ")}], ended by " +
      (if (counts.last == 0) "an empty layer" else "the round limit"))
    layers
  }
}
