package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Typed event row for the custom-state operators (same shape as
  * `Tables.events`).
  */
final case class RawEvent(event_id: Long, user_id: Long, event_type: String, ts: Long, value: Double)

/** Open-session state carried between micro-batches (µs bounds). */
final case class OpenSession(start_us: Long, end_us: Long, n: Long)

/** Per-user funnel progress carried between micro-batches (µs; -1 =
  * stage not reached).
  */
final case class FunnelState(t_view: Long, t_click: Long, t_purchase: Long)

/** Latest click per user carried between micro-batches (µs). */
final case class LastClick(click_us: Long)

/** Per-user retention state: the cohort (first-seen hour) plus the
  * recently-emitted hours, pruned below the watermark each batch so the
  * state stays a handful of longs however long the user lives.
  */
final case class RetentionState(cohort_hour: Long, seen_hours: Seq[Long])

/** Emitted retention increment: one row per (user, active hour) first
  * observation — the delta feed of the e8 retention matrix.
  */
final case class RetentionInc(user_id: Long, cohort_hour: Long, hours_since: Long)

/** Emitted as-of attribution row (µs; None = no prior click). */
final case class AsofRow(
  event_id: Long,
  user_id: Long,
  purchase_us: Long,
  last_click_us: Option[Long],
  attributed: Int)

/** Emitted closed session. */
final case class SessionRow(user_id: Long, session_start: Long, session_end: Long, n_events: Long)

/** Exact-rollup cell state carried between micro-batches: the canonical
  * roaring blob plus the event count.
  */
final case class RollupCellState(blob: Array[Byte], n_events: Long)

/** Emitted maintained rollup cell (latest version per (day, type)). */
final case class RollupCell(day: Long, event_type: String, user_set: Array[Byte], n_events: Long)

/** One exact frequency-rollup cell (see [[EventsStream.freqRollupStream]]). */
final case class FreqCell(day: Long, event_type: String, v: Long, cnt: Long)

/** Latest surviving record per key, as maintained by
  * [[EventsStream.changelogCompactStream]] — the streaming face of
  * e12's CDC compaction. `last_type == "error"` marks a tombstone: the
  * upsert sink deletes the key; the batch agreement spec folds
  * emissions and drops tombstoned keys, mirroring e12's
  * filter-after-argmax order (delete-then-reinsert survives,
  * latest-delete vanishes).
  */
final case class CompactRow(
    user_id: Long, last_event_id: Long, last_ts_us: Long,
    last_type: String, last_value_milli: Long)

/** Structured Streaming forms of the F-group operators.
  *
  * Each takes an unbounded DataFrame with schema
  * (event_id: long, user_id: long, event_type: string, ts: long  // ns
  *  value: double) — the same shape `Tables.events` yields — converts the
  * nanosecond epoch to an event-time timestamp, and applies a watermark so
  * state is bounded: window/session state is dropped once the watermark
  * passes, which is what lets these run indefinitely on a 1000-executor
  * cluster. Exercised in StreamingSpec with MemoryStream; the batch
  * equivalents in [[Events]] are what the DuckDB oracle verifies.
  */
object EventsStream {

  /** Nanosecond epoch → TimestampType via the same exact integer
    * `ts DIV 1000` the batch forms use — long `/` would go through double
    * division, whose ~256ns ulp at epoch-ns magnitude can shift the
    * truncated µs by 1 relative to the batch value.
    */
  private def withEventTime(events: DataFrame): DataFrame =
    events.withColumn("event_time", timestamp_micros(expr("ts DIV 1000")))

  /** Streaming e1: tumbling 1-hour counts/sums per event type. */
  def tumblingAggStream(events: DataFrame): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", "2 hours")
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(floor(col("value") * 1000).cast("long")).as("sum_value_milli"))
      .select(
        unix_timestamp(col("window.start")).as("hour_ts"),
        col("event_type"), col("cnt"), col("sum_value_milli"))

  /** Streaming e10: SLIDING 1-hour windows hopping every 15 minutes, per
    * event type — the native hopping `window` holds width/hop = 4 open
    * windows per type at the watermark frontier and closes each one
    * exactly once; the batch twin ([[Events.slidingAgg]]) materializes
    * the same 4-window membership with an integer explode (agreement
    * spec-checked).
    */
  def slidingAggStream(events: DataFrame): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", "2 hours")
      .groupBy(window(col("event_time"), "1 hour", "15 minutes"), col("event_type"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(floor(col("value") * 1000).cast("long")).as("sum_value_milli"))
      .select(
        unix_timestamp(col("window.start")).as("win_start"),
        col("event_type"), col("cnt"), col("sum_value_milli"))

  /** Streaming e2: 30-min-gap session windows per user — the built-in
    * session_window keeps one merging state per open session and emits on
    * watermark close.
    */
  def sessionizeStream(events: DataFrame): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", "2 hours")
      .groupBy(session_window(col("event_time"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Streaming e3: first event per (user, type) — dropDuplicates with the
    * watermark bounding the dedup state.
    */
  def dedupStream(events: DataFrame): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", "2 hours")
      .dropDuplicates("user_id", "event_type")
      .select(col("user_id"), col("event_type"), col("event_id").as("first_event_id"))

  /** Sessionization with EXPLICIT state — `flatMapGroupsWithState` over a
    * `KeyValueGroupedDataset`, the custom-state escape hatch for semantics
    * `session_window` can't express (per-session aggregates beyond
    * count/min/max, mid-session emission rules, cross-session features).
    *
    * One `OpenSession` state object per user: events of each micro-batch
    * are folded in event-time order, every gap > `gapUs` closes and emits
    * a session, and the still-open tail is carried in state for the next
    * batch. State size is O(users), not O(events) — the property that
    * keeps this runnable indefinitely on a cluster. Works identically in
    * batch (state starts empty, open tails are simply not emitted).
    */
  /** Streaming e4: ordered view→click→purchase funnel — one
    * `FunnelState` per user advanced as events arrive, flushed as a
    * [[FunnelRow]] when the watermark passes the user's quiet period.
    * State is three longs per user, dropped on flush.
    *
    * Within a micro-batch events are folded in event-time order, so a
    * single-batch run matches the batch [[Events.e4Funnel]] exactly (the
    * spec asserts it). Across batches the fold is monotone: a stage only
    * advances forward, so a late out-of-order event that would have
    * enabled an *earlier* stage chain is resolved best-effort — the
    * documented trade for O(users) state instead of buffering every
    * event.
    */
  def funnelStream(
      events: Dataset[RawEvent],
      quietPeriodMs: Long = 2L * 3600 * 1000): Dataset[FunnelRow] = {
    import events.sparkSession.implicits._
    events
      .withColumn("event_time", timestamp_micros(expr("ts DIV 1000")))
      // Watermark delay derives from the quiet period: the timeout fires
      // only once the watermark passes maxTs + quietPeriod, so a delay
      // longer than the quiet period would silently govern flush latency
      // instead of the parameter. Tying them keeps "flush after N ms of
      // silence" true for any N a caller passes (lateness tolerance then
      // equals the quiet period — events later than that hit a flushed
      // user and are dropped by the state machine, the documented trade).
      .withWatermark("event_time", s"$quietPeriodMs milliseconds")
      .as[RawEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, evs: Iterator[RawEvent], state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            val depth =
              if (s.t_purchase >= 0) 3 else if (s.t_click >= 0) 2 else if (s.t_view >= 0) 1 else 0
            Iterator.single(FunnelRow(uid,
              Option(s.t_view).filter(_ >= 0),
              Option(s.t_click).filter(_ >= 0),
              Option(s.t_purchase).filter(_ >= 0),
              depth))
          } else {
            val sorted = evs.map(e => (e.ts / 1000L, e.event_type)).toArray.sortBy(_._1)
            var s = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
            var maxTs = -1L
            sorted.foreach { case (t, tpe) =>
              if (t > maxTs) maxTs = t
              tpe match {
                case "view" if s.t_view < 0 => s = s.copy(t_view = t)
                case "click" if s.t_click < 0 && s.t_view >= 0 && t > s.t_view =>
                  s = s.copy(t_click = t)
                case "purchase" if s.t_purchase < 0 && s.t_click >= 0 && t > s.t_click =>
                  s = s.copy(t_purchase = t)
                case _ =>
              }
            }
            state.update(s)
            state.setTimeoutTimestamp(math.max(
              maxTs / 1000L + quietPeriodMs,
              state.getCurrentWatermarkMs() + 1L))
            Iterator.empty
          }
      }
  }

  /** Streaming e5: as-of attribution IN FLIGHT — the `flatMapGroupsWithState`
    * twin of the batch union-window form ([[Events.asofJoin]]). State is ONE
    * µs timestamp per user (the latest click seen); purchases emit
    * immediately, attributed to the state at that point. Within a
    * micro-batch events fold in (ts, event_id) order — exactly the batch
    * window's ROWS frame, so a single-batch run matches [[Events.asofJoin]]
    * bit-for-bit (the spec asserts it). Across batches the state carries the
    * last click forward, so a purchase in a later batch attributes to a
    * click from any earlier batch; a LATE click older than the carried one
    * is ignored (monotone state — the same O(users)-state best-effort trade
    * as the funnel). Users idle past `idleTimeoutMs` in event time have
    * their one-row state dropped, which is what bounds state on an
    * unbounded user population.
    */
  def asofJoinStream(
      events: Dataset[RawEvent],
      idleTimeoutMs: Long = 2L * 3600 * 1000): Dataset[AsofRow] = {
    import events.sparkSession.implicits._
    val streaming = events.isStreaming
    val src =
      if (streaming)
        events
          .withColumn("event_time", timestamp_micros(expr("ts DIV 1000")))
          .withWatermark("event_time", s"$idleTimeoutMs milliseconds")
          .as[RawEvent]
      else events
    val timeoutConf =
      if (streaming) GroupStateTimeout.EventTimeTimeout else GroupStateTimeout.NoTimeout
    src
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastClick, AsofRow](OutputMode.Append, timeoutConf) {
        (uid: Long, evs: Iterator[RawEvent], state: GroupState[LastClick]) =>
          if (streaming && state.hasTimedOut) {
            // Nothing pending to flush — purchases emit eagerly; the
            // timeout only reclaims the idle user's one-row state.
            state.remove()
            Iterator.empty
          } else {
            // (ts, event_id) order = the batch window's ROWS frame: a
            // click sorting strictly before a purchase (earlier ts, or
            // same ts with smaller event_id) is visible to it.
            val sorted = evs.toArray.sortBy(e => (e.ts, e.event_id))
            var last = state.getOption.map(_.click_us).getOrElse(-1L)
            var maxTsMs = -1L
            val out = Vector.newBuilder[AsofRow]
            sorted.foreach { e =>
              val tsu = e.ts / 1000L // ns -> µs, same integer division as the batch form
              if (tsu / 1000L > maxTsMs) maxTsMs = tsu / 1000L
              e.event_type match {
                case "purchase" =>
                  out += AsofRow(e.event_id, uid, tsu,
                    if (last >= 0) Some(last) else None,
                    if (last >= 0) 1 else 0)
                case "click" =>
                  if (tsu > last) last = tsu
                case _ =>
              }
            }
            if (last >= 0) {
              state.update(LastClick(last))
              if (streaming) {
                state.setTimeoutTimestamp(math.max(
                  maxTsMs + idleTimeoutMs,
                  state.getCurrentWatermarkMs() + 1L))
              }
            }
            out.result().iterator
          }
      }
  }

  /** Streaming e6: stream-stream INTERVAL join — the canonical Structured
    * Streaming join: clicks and purchases arrive as two unbounded streams,
    * and each purchase pairs with every same-user click in the preceding
    * 30 minutes. Both sides carry a watermark and the join condition
    * carries the event-time range, which is exactly the contract Spark
    * needs to bound state: a buffered click is dropped once the purchase
    * watermark passes click_time + 30 min (no row that could still match
    * is ever dropped, no row that can't is kept). Same µs integer output
    * as the batch [[Events.intervalJoin]]; the spec asserts agreement.
    *
    * Takes the two streams separately (a real pipeline's clicks and
    * purchases usually ARE distinct sources); pass the same filtered
    * stream twice for a single-source topology.
    */
  def intervalJoinStream(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks
      .withColumn("click_time", timestamp_micros(expr("ts DIV 1000")))
      .withWatermark("click_time", "2 hours")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user_id"),
        expr("ts DIV 1000").as("click_us"), col("click_time"))
    val p = purchases
      .withColumn("purchase_time", timestamp_micros(expr("ts DIV 1000")))
      .withWatermark("purchase_time", "2 hours")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        expr("ts DIV 1000").as("purchase_us"), col("purchase_time"))
    p.join(c,
        col("c_user_id") === col("user_id") &&
          col("purchase_time") > col("click_time") &&
          col("purchase_time") <= col("click_time") + expr("interval 30 minutes") &&
          // The timestamp pair is µs-truncated from the same ns values, so
          // the residual µs predicate only re-asserts exactness at the
          // window boundary (ns inside the same µs tick).
          col("purchase_us") > col("click_us") &&
          col("purchase_us") <= col("click_us") + lit(30L * 60 * 1000000L))
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        (col("purchase_us") - col("click_us")).as("lag_us"))
  }

  /** Idempotent micro-batch write — the egress half of an exactly-once
    * streaming pipeline: each batch lands in its own `ingest_batch=<id>`
    * partition under DYNAMIC partition overwrite (a writer option; the
    * session's `partitionOverwriteMode` is not touched), so a replayed batch
    * (restart between sink write and offset commit — the failure window
    * of every at-least-once source) overwrites its own partition instead
    * of appending duplicates. Factored out of the stream wiring so the
    * replay property is directly testable (the spec calls it twice with
    * the same id and asserts no duplication).
    */
  def writeBatchIdempotent(batch: DataFrame, batchId: Long, path: String): Unit = {
    batch
      .withColumn("ingest_batch", lit(batchId))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_batch").parquet(path)
  }

  /** Streaming egress: checkpointed foreachBatch over
    * [[writeBatchIdempotent]] — restartable, replay-safe parquet landing
    * zone (compact later with `Formats.compactParquet`).
    */
  def eventsToParquetSink(
      events: DataFrame,
      path: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((b: DataFrame, id: Long) => writeBatchIdempotent(b, id, path))
      .start()

  /** Streaming ingest INTO THE SNAPSHOT TABLE FORMAT: every microbatch
    * lands as one versioned, stats-carrying commit
    * ([[graft.sources.Snapshots.ingestBatch]] — the replay guard is the
    * batch-id-named chunk, atomic with the manifest publish, so restart
    * replays are exactly-once without side markers). Downstream
    * consumers get the whole table contract on a live stream: time
    * travel to any microbatch boundary, `readBetween` as an exact
    * change feed (each version IS one microbatch), stats-pruned scans,
    * and [[graft.sources.Snapshots.compactClustered]] as the
    * maintenance pass when the append files accumulate — the full
    * lakehouse loop (stream in → snapshot isolation → incremental out)
    * instead of a bare parquet landing zone.
    */
  def snapshotIngestSink(
      events: DataFrame,
      path: String,
      checkpointDir: String,
      statsCols: Seq[String] = Nil): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, id: Long) =>
        graft.sources.Snapshots.ingestBatch(b, id, path, statsCols); ()
      }
      .start()

  /** Streaming e8: the retention matrix as a LIVE DELTA FEED — one
    * `RetentionInc` per (user, active hour) first observation, with
    * `cohort_hour` pinned to the hour the user was first seen. The
    * consumer folds increments into the (cohort_hour, hours_since)
    * matrix with a plain count — grouping the emitted rows reproduces
    * [[Events.e8RetentionCohorts]] exactly (spec-checked, including a
    * cross-batch return visit).
    *
    * State is one cohort long plus the recently-seen hours per user, and
    * stays BOUNDED two ways: hours below the watermark are pruned every
    * batch (an event that old can no longer arrive, so the dedup never
    * needs them again — the in-state analog of
    * `dropDuplicatesWithinWatermark`, used here instead of an upstream
    * dedup operator so the query has ONE stateful stage, not a chained
    * pair), and users idle past `idleTimeoutMs` in event time are
    * dropped entirely (a returning user re-cohorts — the same
    * bounded-state trade as the funnel/as-of forms; same caveat too: a
    * straggler OLDER than the user's first-seen hour, within the
    * watermark delay, keeps the already-pinned cohort, where a batch
    * recomputation would back-date it).
    */
  def retentionStream(
      events: Dataset[RawEvent],
      idleTimeoutMs: Long = 48L * 3600 * 1000): Dataset[RetentionInc] = {
    import events.sparkSession.implicits._
    events
      .withColumn("event_time", timestamp_micros(expr("ts DIV 1000")))
      .withWatermark("event_time", "2 hours")
      .select(col("user_id"), expr("ts DIV 3600000000000").as("hour"),
        col("event_time"))
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[RetentionState, RetentionInc](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[(Long, Long, java.sql.Timestamp)],
         state: GroupState[RetentionState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val hours = rows.map(_._2).toArray.sorted.distinct
            val wmHour = state.getCurrentWatermarkMs() / 3600000L
            val prev = state.getOption.getOrElse(RetentionState(hours.head, Nil))
            val seen = prev.seen_hours.toSet
            val fresh = hours.filterNot(seen)
            // Prune below the watermark (minus slack for the in-flight
            // batch, whose events may still precede it): those hours can
            // never arrive again.
            val kept = (prev.seen_hours ++ fresh).filter(_ >= wmHour - 3).distinct
            state.update(RetentionState(prev.cohort_hour, kept))
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + idleTimeoutMs)
            fresh.iterator.map(h => RetentionInc(uid, prev.cohort_hour, h - prev.cohort_hour))
          }
      }
  }

  /** Streaming e9: per-window heavy hitters. The watermarked windowed
    * (window, user) count runs in APPEND mode, so a count row is emitted
    * exactly once — when the watermark closes its window — and every
    * closed window therefore arrives COMPLETE inside one micro-batch.
    * That completeness is what makes the per-window `row_number ≤ k`
    * inside `foreachBatch` final rather than provisional: ranking never
    * spans batches, needs no cross-batch state, and lands through the
    * same idempotent per-batch partition sink as the egress path
    * (replay-safe). State on the cluster is the windowed-count
    * aggregation only — bounded by the watermark, exactly e1's posture.
    * Batch/stream agreement with [[Events.e9WindowTopk]] is
    * spec-checked in StreamingSpec.
    */
  def windowTopkStream(
      events: DataFrame,
      path: String,
      checkpointDir: String,
      k: Int = 3): org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.expressions.Window
    val counts = withEventTime(events)
      .withWatermark("event_time", "2 hours")
      .groupBy(window(col("event_time"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        unix_timestamp(col("window.start")).as("hour_ts"),
        col("user_id"), col("cnt"))
    val wTop = Window.partitionBy(col("hour_ts"))
      .orderBy(col("cnt").desc, col("user_id").asc)
    counts.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, id: Long) =>
        val ranked = b
          .withColumn("rank", row_number().over(wTop).cast("long"))
          .filter(col("rank") <= k)
        writeBatchIdempotent(ranked, id, path)
      }
      .start()
  }

  /** Streaming t18: the tracker's live role — running per-model spend
    * with the cost-limit latch, refreshed every micro-batch (the
    * reference stops its pipeline the moment `total_cost >= cost_limit`,
    * bio_processor.py:67-83; this is that check as a continuous query).
    * Calls are priced by the SAME projection as the batch ledger
    * ([[graft.functions.TextFuncs.costPerCall]]). State is one running
    * sum per model — bounded by #models, and deliberately unwatermarked:
    * a budget never expires. The latch is monotone because per-call
    * costs are non-negative.
    */
  /** Streaming maintenance of [[graft.operators.ExactRollup]]'s cell
    * store: each micro-batch folds its events into the per-(day, type)
    * roaring-blob state and emits the UPDATED cell — a live-maintained
    * exact rollup, so q13/q18-style range-distinct and cohort-set-algebra
    * queries run against cells that are current to the last micro-batch
    * instead of the last batch rebuild. Because the blob serialization is
    * CANONICAL (a pure function of the set), the maintained cell is
    * bit-identical to a batch rebuild over the same events, whatever the
    * arrival order or batch boundaries — spec-checked at the byte level.
    *
    * Unwatermarked BY DESIGN, like the cost meter: rollup cells never
    * expire (a distinct count over January must absorb a February-arriving
    * late event). State is bounded by days × event types — the CELL count
    * — not by events; each cell holds one compressed set that is the
    * rollup's actual product. Output mode: Update (the sink upserts cells
    * by key, the [[graft.sources.Upsert]] contract).
    */
  def exactRollupStream(events: Dataset[RawEvent]): Dataset[RollupCell] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.graft.RoaringSet
    events
      .groupByKey(e => (e.ts / 86400000000000L, e.event_type))
      .mapGroupsWithState[RollupCellState, RollupCell](GroupStateTimeout.NoTimeout) {
        case ((day, et), rows, state) =>
          val set = state.getOption
            .map(s => RoaringSet.deserialize(s.blob))
            .getOrElse(new RoaringSet)
          var n = state.getOption.map(_.n_events).getOrElse(0L)
          rows.foreach { e => set.add(e.user_id); n += 1 }
          val blob = set.serialize()
          state.update(RollupCellState(blob, n))
          RollupCell(day, et, blob, n)
      }
  }

  /** Streaming maintenance of the exact FREQUENCY rollup — the quantile
    * member of the rollup family gets its stream twin, completing the
    * trio ([[exactRollupStream]] maintains the roaring distinct cells,
    * SketchRollup's HLL cells merge by algebra, this maintains the
    * (day, event_type, value) count cells that
    * [[graft.operators.HistogramQuantiles.quantilesOf]] answers exact
    * quantiles from). Counts are additive integers, so the emitted cell
    * after every micro-batch equals a batch recount over all rows seen so
    * far — whatever the arrival order or batch boundaries (q21's
    * fold==rebuild contract, maintained continuously).
    *
    * Unwatermarked by design like the roaring twin: cells never expire
    * (a January histogram must absorb a February-arriving late event);
    * state is ONE long per live cell, bounded by days × types × the
    * bounded value domain — the precondition the batch member documents.
    * Values quantize by floor to the long grid (the bounded-domain
    * contract); Update output mode, upsert-by-key sink.
    */
  /** Streaming CDC compaction — e12's argmax-by-sequence maintained LIVE:
    * per-key state is ONE CompactRow (the current latest record), each
    * micro-batch folds its rows by the same (ts_us, event_id) total order
    * the batch `max(struct(...))` uses, and the emission after every
    * batch equals a batch recompute over all rows seen so far (the
    * fold==rebuild contract, maintained continuously — spec-checked).
    * Tombstones (`error` rows) are EMITTED, not filtered: state must
    * remember a deletion or a pre-deletion record arriving late in a
    * later micro-batch would resurrect the key; the upsert sink (or the
    * agreement fold) applies the delete, mirroring e12's
    * filter-after-argmax. Unwatermarked by design: a compacted store has
    * no event-time horizon after which a key stops accepting changes;
    * state is bounded by live keys, the same contract as the Kafka
    * compacted topic this models.
    */
  def changelogCompactStream(events: Dataset[RawEvent]): Dataset[CompactRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[CompactRow, CompactRow](GroupStateTimeout.NoTimeout) {
        case (user, rows, state) =>
          var best = state.getOption.orNull
          rows.foreach { e =>
            val tsUs = e.ts / 1000L
            if (best == null || tsUs > best.last_ts_us ||
                (tsUs == best.last_ts_us && e.event_id > best.last_event_id)) {
              best = CompactRow(user, e.event_id, tsUs, e.event_type,
                math.floor(e.value * 1000).toLong)
            }
          }
          state.update(best)
          best
      }
  }

  def freqRollupStream(events: Dataset[RawEvent]): Dataset[FreqCell] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(e => (e.ts / 86400000000000L, e.event_type, math.floor(e.value).toLong))
      .mapGroupsWithState[Long, FreqCell](GroupStateTimeout.NoTimeout) {
        case ((day, et, v), rows, state) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          FreqCell(day, et, v, n)
      }
  }

  def costMeterStream(events: DataFrame, costLimitMicro: Long = 2000000L): DataFrame =
    graft.functions.TextFuncs.costPerCall(events)
      .groupBy("model")
      .agg(count(lit(1)).as("n_calls"), sum(col("cost_micro")).as("cum_cost_micro"))
      .withColumn("limit_reached", (col("cum_cost_micro") >= costLimitMicro).cast("int"))

  def sessionizeCustomState(
      events: Dataset[RawEvent],
      gapUs: Long = 30L * 60 * 1000000L): Dataset[SessionRow] = {
    import events.sparkSession.implicits._
    val streaming = events.isStreaming
    // Event-time timeout (streaming only): an open session whose
    // gap-extended end falls behind the watermark is flushed and its state
    // dropped, so state size is O(currently-active users), not
    // O(all-users-ever-seen). Batch runs keep NoTimeout (timeouts are
    // meaningless there — state starts empty and is discarded).
    val src =
      if (streaming)
        events
          .withColumn("event_time", timestamp_micros(expr("ts DIV 1000")))
          .withWatermark("event_time", "2 hours")
          .as[RawEvent]
      else events
    val timeoutConf =
      if (streaming) GroupStateTimeout.EventTimeTimeout else GroupStateTimeout.NoTimeout
    src
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, SessionRow](OutputMode.Append, timeoutConf) {
        (uid: Long, evs: Iterator[RawEvent], state: GroupState[OpenSession]) =>
          if (streaming && state.hasTimedOut) {
            // Watermark passed the session's gap bound: flush the open
            // tail as a closed session and drop the state.
            val cur = state.get
            state.remove()
            Iterator.single(SessionRow(uid, cur.start_us, cur.end_us, cur.n))
          } else {
            val times = evs.map(_.ts / 1000L).toArray.sorted
            var closed = List.empty[OpenSession]
            var cur = state.getOption.orNull
            times.foreach { t =>
              if (cur == null) cur = OpenSession(t, t, 1)
              else if (t - cur.end_us > gapUs) { closed ::= cur; cur = OpenSession(t, t, 1) }
              // min/max fold, not (start, t): a cross-batch late event with
              // t < end_us must widen the session bounds, never shrink them
              // (a shrunken end corrupts every later gap check).
              else cur = OpenSession(math.min(cur.start_us, t), math.max(cur.end_us, t), cur.n + 1)
            }
            if (cur != null) {
              state.update(cur)
              if (streaming) {
                val flushAtMs = math.max(
                  cur.end_us / 1000L + gapUs / 1000L,
                  state.getCurrentWatermarkMs() + 1L)
                state.setTimeoutTimestamp(flushAtMs)
              }
            }
            closed.reverse.iterator.map(s => SessionRow(uid, s.start_us, s.end_us, s.n))
          }
      }
  }
}
