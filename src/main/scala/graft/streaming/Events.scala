package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Per-user funnel progress (µs timestamps; None = stage not reached). */
final case class FunnelRow(
  user_id: Long,
  t_view: Option[Long],
  t_click: Option[Long],
  t_purchase: Option[Long],
  funnel_depth: Int)

/** Event-stream operators. Batch forms here (driver-verifiable against the
  * DuckDB oracle); the Structured Streaming variants share the same
  * transformation bodies and are exercised in the test suite with
  * MemoryStream + watermarks.
  */
object Events {

  /** e1: tumbling 1-hour window counts/sums per event type. The window
    * start is emitted as epoch seconds (bigint) — timezone- and
    * precision-neutral across engines; the bucket is exact integer
    * division on the nanosecond timestamp. `value` is folded in exact
    * fixed-point (floor of millis) so sums hash identically.
    */
  def e1TumblingAgg(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .withColumn("hour_ts", expr("ts DIV 3600000000000") * 3600L)
      .groupBy(col("hour_ts"), col("event_type"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(floor(col("value") * 1000).cast("long")).as("sum_value_milli"))
      .orderBy("hour_ts", "event_type")

  /** e2: sessionization — split each user's event stream at >30-min gaps
    * and aggregate per session. Batch form: one shuffle keyed by user_id
    * covers the lag, the running session counter and the final per-session
    * aggregate (all three run inside the same window partitioning).
    * `ts` is exact integer nanoseconds, so the gap predicate is
    * engine-portable. Streaming form: `EventsStream.sessionizeStream` uses
    * the built-in `session_window` with the same 30-min gap.
    */
  def e2Sessionize(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Microsecond arithmetic throughout: DuckDB reads TIMESTAMP(NANOS)
    // parquet at micro precision, so the portable exact-integer domain for
    // session bounds is µs (gap semantics are unaffected at 30 min).
    val gapUs = 30L * 60 * 1000000L
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    Tables(spark, dir).events
      .withColumn("ts", expr("ts DIV 1000"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(wOrd))
      .withColumn("is_new",
        when(col("prev_ts").isNull || col("ts") - col("prev_ts") > gapUs, 1L).otherwise(0L))
      .withColumn("session_no", sum(col("is_new")).over(wOrd))
      .groupBy(col("user_id"), col("session_no"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
  }

  /** e4: ordered funnel analysis (view → click → purchase per user) via a
    * typed `groupByKey` + `mapGroups` walk — sequence semantics that a
    * relational plan only reaches with one self-join per stage; here it's
    * ONE shuffle keyed by user and a per-group ordered scan, the
    * `KeyValueGroupedDataset` escape hatch used idiomatically. Each stage
    * takes the earliest event strictly after the previous stage; µs
    * integer timestamps keep the oracle exact. Group state is O(1) and
    * group size is per-user-bounded — the shape that survives 100 TB.
    */
  def e4Funnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).typed.events
      .groupByKey(_.user_id)
      .mapGroups { (uid, evs) =>
        val sorted = evs.map(e => (e.ts / 1000L, e.event_type)).toArray.sortBy(_._1)
        def firstAfter(tpe: String, after: Option[Long]): Option[Long] =
          after.flatMap(t => sorted.collectFirst { case (ts, et) if et == tpe && ts > t => ts })
        val tView = sorted.collectFirst { case (ts, et) if et == "view" => ts }
        val tClick = firstAfter("click", tView)
        val tPurchase = firstAfter("purchase", tClick)
        val depth = if (tPurchase.isDefined) 3 else if (tClick.isDefined) 2 else if (tView.isDefined) 1 else 0
        FunnelRow(uid, tView, tClick, tPurchase, depth)
      }
      .toDF()
  }

  /** e5: AS-OF join — attach to every purchase the most recent strictly
    * prior click by the same user (event attribution; the general form
    * joins an event stream to the latest state of a slowly-changing
    * dimension at event time).
    *
    * Spark has no native as-of join; the naive formulation is a range
    * self-join (`b.ts < a.ts` then argmax) whose output explodes with
    * activity and whose range predicate defeats the equi-join planner. The
    * scalable formulation used here is the union-window trick: both event
    * roles flow through ONE shuffle keyed by user, ordered by
    * (ts, event_id), and a running `max(click_ts)` over the strictly-prior
    * frame ROWS UNBOUNDED PRECEDING..1 PRECEDING computes the as-of value
    * in a single pass — no pair explosion at any activity level, which is
    * the property that holds at 100 TB.
    */
  def e5AsofJoin(spark: SparkSession, dir: String): DataFrame =
    asofJoin(Tables(spark, dir).events)

  /** The as-of core over any events DataFrame with (event_id, user_id,
    * event_type, ts-in-ns) — factored so the streaming form's agreement
    * spec can run both on one in-memory input.
    */
  def asofJoin(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tsu"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("ts DIV 1000").as("tsu"))
      .withColumn("last_click_us",
        max(when(col("event_type") === "click", col("tsu"))).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("tsu").as("purchase_us"),
        col("last_click_us"),
        (col("last_click_us").isNotNull).cast("int").as("attributed"))
  }

  /** e6: event-time INTERVAL join — every (click, purchase) pair of the
    * same user with the purchase inside (click, click + 30 min]: the
    * conversion-attribution join (e5 keeps only the latest prior click;
    * this keeps every in-window pair, the input to multi-touch models).
    *
    * Batch form here: one shuffle keyed by user_id with the time-range
    * predicate as a join residual — per-user pair counts bound the output,
    * never all-pairs. The streaming twin
    * [[EventsStream.intervalJoinStream]] is the canonical Structured
    * Streaming stream-stream join: the SAME predicate plus watermarks on
    * both sides, which is what lets Spark drop buffered rows once they can
    * no longer match (state stays bounded on an unbounded stream).
    */
  def e6IntervalJoin(spark: SparkSession, dir: String): DataFrame =
    intervalJoin(Tables(spark, dir).events)

  /** The interval-join core over any events DataFrame with (event_id,
    * user_id, event_type, ts-in-ns) — factored so the streaming form's
    * agreement spec can run both on one in-memory input. µs integer
    * bounds keep the oracle exact.
    */
  def intervalJoin(events: DataFrame): DataFrame = {
    val windowUs = 30L * 60 * 1000000L
    val ev = events.select(
      col("event_id"), col("user_id"), col("event_type"), expr("ts DIV 1000").as("tsu"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("tsu").as("click_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("tsu").as("purchase_us"))
    clicks.join(purchases, Seq("user_id"))
      .filter(col("purchase_us") > col("click_us") &&
        col("purchase_us") <= col("click_us") + lit(windowUs))
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        (col("purchase_us") - col("click_us")).as("lag_us"))
  }

  /** e3: first-event-per-key dedup — the batch analog of streaming
    * `dropDuplicates` under a watermark.
    */
  def e3StreamDedup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window
      .partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables(spark, dir).events
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id").as("first_event_id"))
  }

  /** e8: retention cohorts — the canonical product-analytics matrix:
    * users grouped by the hour they were first seen (the cohort), and for
    * each later hour, how many of that cohort were active. The per-user
    * min-hour aggregate is tiny (one row per user) and BROADCASTS back
    * onto the event scan, so the fact table shuffles exactly once — for
    * the distinct (user, cohort, hours_since) triples; the matrix then
    * reduces already-distinct rows with a plain count (a countDistinct
    * here would re-pay a two-phase distinct aggregate for nothing).
    * `hours_since` ≥ 0 by construction; exact integer hour buckets from
    * the ns timestamp keep the matrix bit-stable. The physical plan has
    * one fact Exchange, with the cohorts joined through a BroadcastExchange.
    */
  def e8RetentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("user_id"), expr("ts DIV 3600000000000").as("hour"))
    val cohorts = ev.groupBy("user_id").agg(min(col("hour")).as("cohort_hour"))
    ev.join(cohorts, Seq("user_id"))
      .select(col("user_id"), col("cohort_hour"),
        (col("hour") - col("cohort_hour")).as("hours_since"))
      .distinct()
      .groupBy("cohort_hour", "hours_since")
      .agg(count(lit(1)).as("n_active"))
      .orderBy("cohort_hour", "hours_since")
  }

  /** e7: exact-percentile outlier scan — flag events whose value exceeds
    * their event type's exact p99. Rank-based like t12 (deterministic
    * under ties via event_id), in exact fixed-point millis, so the flag
    * set is bit-stable across engines — the property a monitoring alert
    * needs (an approx-percentile threshold flaps near the boundary).
    *
    * Two passes over the same scan: a per-type value HISTOGRAM reduced by
    * a parallel hash aggregate feeds the cumulative-rank pick of the p99
    * value (see [[e7Thresholds]] — no stratum is ever sorted in one
    * task), then a broadcast join back — no second shuffle of the fact
    * side.
    */
  def e7ThresholdAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables(spark, dir).events
    anomalyScan(events, e7Thresholds(events))
  }

  /** The per-type exact-p99 threshold table of e7 — factored out because
    * it is also the STATIC side of the streaming form: a monitoring
    * pipeline recomputes thresholds on a batch cadence (hourly/daily) and
    * the live stream filters against the latest table.
    */
  def e7Thresholds(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Exact p99 without sorting any stratum in one task: the rank-r VALUE
    // depends only on per-value counts, so reduce the fact table with a
    // map-side-combined hash aggregate `(type, value_milli) → count` and
    // run the cumulative-rank window over that small histogram. The value
    // at rank ceil(0.99·n) is the first one whose cumulative count
    // reaches the rank — identical to the old row_number() formulation
    // (the event_id tiebreak only orders rows WITHIN a value's run, never
    // changes which value holds a rank).
    val hist = events
      .select(col("event_type"),
        expr("CAST(floor(value * 1000) AS BIGINT)").as("value_milli"))
      .groupBy("event_type", "value_milli")
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("value_milli").asc)
    val wAll = Window.partitionBy(col("event_type"))
    hist
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .groupBy("event_type")
      .agg(min(when(col("cum") >= ceil(col("n") * 0.99), col("value_milli"))).as("p99_milli"))
  }

  /** The filter core shared by batch e7 and its streaming twin: works
    * unchanged on an unbounded `events` because a stream-static broadcast
    * join is stateless — each micro-batch joins the same tiny threshold
    * table; nothing is buffered, no watermark needed. That statelessness
    * is exactly why the threshold lives in a separate batch-maintained
    * table rather than being computed on the stream (an exact percentile
    * over an unbounded stream would need unbounded state).
    */
  /** e9: trending per window — the top-`k` most active users inside each
    * tumbling 1-hour window (the live "heavy hitters this hour" board
    * every event pipeline ends up serving). Two-level shape: one
    * map-side-combined count keyed by (window, user) — the only
    * fact-proportional shuffle — then a per-window `row_number ≤ k`
    * that Spark 4 prunes to per-task top-k via WindowGroupLimit
    * (plan-asserted in ScaleSpec), so no window's full user list is
    * ever sorted in one task. Deterministic (count desc, user asc)
    * tie-break; window start emitted as epoch seconds like e1.
    */
  def e9WindowTopk(spark: SparkSession, dir: String, k: Int = 3): DataFrame =
    windowTopk(Tables(spark, dir).events, k).orderBy("hour_ts", "rank")

  /** Core of [[e9WindowTopk]] over an arbitrary events frame; also the
    * ranking semantics the streaming twin
    * ([[EventsStream.windowTopkStream]]) must agree with (spec-checked).
    */
  def windowTopk(events: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wTop = Window.partitionBy(col("hour_ts"))
      .orderBy(col("cnt").desc, col("user_id").asc)
    events
      .withColumn("hour_ts", expr("ts DIV 3600000000000") * 3600L)
      .groupBy(col("hour_ts"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rank", row_number().over(wTop).cast("long"))
      .filter(col("rank") <= k)
  }

  /** e10: SLIDING (hopping) window counts — 1-hour windows advancing
    * every 15 minutes, per event type. The windowing mode the suite was
    * missing: e1 is tumbling (hop = width) and e2 is session (gap-driven);
    * a rate monitor wants overlap, because a burst straddling a tumbling
    * boundary halves into two windows and dodges the threshold. Each
    * event belongs to exactly width/hop = 4 windows; the batch form
    * materializes that membership as an integer `sequence` explode over
    * window starts — the same 4× expansion Spark's native
    * `window(col, "1 hour", "15 minutes")` plans, kept in explicit
    * epoch-second arithmetic (`ts DIV 900e9` 15-min buckets) so the
    * bucket edges are exact integers on both engines.
    *
    * Scale shape: the explode is map-side (no shuffle of the raw rows
    * beyond the one (win_start, event_type) aggregate, which is map-side
    * combined after a 4× row expansion — the price of overlap, paid by
    * every hopping-window engine); output cardinality is #windows ×
    * #types, tiny. The streaming twin
    * ([[EventsStream.slidingAggStream]]) uses the native sliding
    * `window` with a watermark; agreement is spec-checked.
    */
  def e10SlidingAgg(spark: SparkSession, dir: String): DataFrame =
    slidingAgg(Tables(spark, dir).events).orderBy("win_start", "event_type")

  /** Core of [[e10SlidingAgg]] over an arbitrary events frame. */
  def slidingAgg(events: DataFrame): DataFrame =
    events
      .withColumn("q", expr("ts DIV 900000000000"))
      .withColumn("win_start",
        explode(sequence((col("q") - 3) * 900L, col("q") * 900L, lit(900L))))
      .groupBy(col("win_start"), col("event_type"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(floor(col("value") * 1000).cast("long")).as("sum_value_milli"))

  def anomalyScan(events: DataFrame, thresholds: DataFrame): DataFrame =
    events
      .select(col("event_id"), col("event_type"),
        expr("CAST(floor(value * 1000) AS BIGINT)").as("value_milli"))
      .join(thresholds, Seq("event_type"))
      .filter(col("value_milli") > col("p99_milli"))
      .select(col("event_id"), col("event_type"), col("value_milli"), col("p99_milli"))

  /** e11: event-time DISORDER probe — the measurement every watermark in
    * the F-group is sized from. "How late do events actually arrive?" is
    * an empirical property of the feed, yet watermarks are usually
    * guessed; this operator measures it: events are grouped into ingest
    * micro-batches by ARRIVAL order, an event is late by the amount the
    * event-time high-water mark of PRECEDING batches exceeds its own
    * event time, and the per-type rollup (late share in ppm, max lateness
    * in ms) reads directly as "a watermark of `max_late_ms` would have
    * admitted every event; one of 0 would have dropped `late_ppm`·1e-6 of
    * them".
    *
    * Scale shape is the t16 two-level discipline: per-batch maxima are a
    * map-side-combined aggregate, the running high-water mark is a window
    * over THAT (rows = corpus/batchSize, never the corpus), and each
    * event compares against its batch's bound through one broadcast join
    * — no global sort, no corpus-wide window.
    *
    * The test feed is perfectly ordered (event_id correlates with ts), so
    * arrival is simulated as creation order plus bounded deterministic
    * jitter (md5-derived, 0..2000 positions — the md5 determinism
    * discipline of t13/t17/t21); a real deployment feeds the actual
    * arrival sequence and drops the jitter column. All arithmetic is
    * non-negative integer ns (floor ≡ truncate, so Spark DIV and DuckDB
    * `//` agree).
    */
  def e11DisorderProbe(spark: SparkSession, dir: String, batchSize: Long = 1000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables(spark, dir).events
      .select(col("event_id"), col("event_type"), col("ts"))
      .withColumn("u",
        conv(substring(md5(col("event_id").cast("string")), 1, 12), 16, 10).cast("long"))
      .withColumn("b", expr(s"(event_id + u % 2001) DIV $batchSize"))
    val batchMax = e.groupBy(col("b")).agg(max(col("ts")).as("mt"))
    // Unpartitioned window is deliberate and safe: batchMax has
    // corpus/batchSize rows (the two-level contract), not corpus rows.
    val wPrev = Window.orderBy(col("b")).rowsBetween(Window.unboundedPreceding, -1)
    val hwm = batchMax.withColumn("prev", max(col("mt")).over(wPrev)).select("b", "prev")
    e.join(hwm, Seq("b"))
      .withColumn("late",
        when(col("prev").isNotNull && col("prev") > col("ts"), col("prev") - col("ts"))
          .otherwise(lit(0L)))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("late") > 0, 1L).otherwise(0L)).as("n_late"),
        expr("sum(CASE WHEN late > 0 THEN 1 ELSE 0 END) * 1000000 DIV count(1)").as("late_ppm"),
        expr("max(late) DIV 1000000").as("max_late_ms"))
      .orderBy("event_type")
  }

  /** e12: changelog compaction — CDC apply as ONE aggregate. The event
    * stream is read as a change log on per-user state (each event
    * upserts its user's row; an `error` event is the tombstone — the
    * Debezium/Kafka-compaction delete marker), and the compacted table
    * is "the latest surviving record per key".
    *
    * The naive plan is a per-key window sort (`row_number() OVER
    * (PARTITION BY user ORDER BY ts DESC) = 1`): it shuffles EVERY
    * change record and sorts each key's full history just to keep one
    * row. Compaction here is a plain `max(struct(seq, payload))`
    * aggregate instead: argmax-by-sequence is associative, so map-side
    * partial aggregation folds each input partition to ≤1 row per key
    * BEFORE the exchange — the shuffle carries |keys|·|partitions|
    * records at worst, not the 100 TB change history, and no sort ever
    * runs. That partial-fold is exactly why log-compacted stores never
    * sort segments: merging "latest wins" states needs only the pairwise
    * max. The tombstone filter runs AFTER the argmax (a key whose latest
    * record is a delete must vanish, but a delete followed by a
    *  reinsert must survive) — order-free and single-pass, the same
    * greedy stage discipline as t27.
    *
    * Sequence = (event-time µs, event_id): event ids are unique, so the
    * argmax is total and deterministic; comparing at the µs grain keeps
    * Spark's ns-normalized `ts` and an engine reading the raw parquet
    * timestamps bit-agreed (the e5 convention). `value` is carried in
    * exact milli fixed-point (the e7 convention).
    */
  def e12ChangelogCompact(spark: SparkSession, dir: String): DataFrame =
    compactChangelog(Tables(spark, dir).events)

  /** Core of [[e12ChangelogCompact]] over an arbitrary events frame
    * (ts in epoch ns) — also the batch contract its streaming twin in
    * [[EventsStream]] must agree with. */
  def compactChangelog(events: DataFrame): DataFrame =
    events
      .select(col("user_id"),
        struct(
          expr("ts DIV 1000").as("ts_us"),
          col("event_id"),
          col("event_type"),
          expr("CAST(floor(value * 1000) AS BIGINT)").as("value_milli")).as("rec"))
      .groupBy(col("user_id"))
      .agg(max(col("rec")).as("last"))
      .filter(col("last.event_type") =!= "error")
      .select(
        col("user_id"),
        col("last.event_id").as("last_event_id"),
        col("last.ts_us").as("last_ts_us"),
        col("last.event_type").as("last_type"),
        col("last.value_milli").as("last_value_milli"))

  /** e13: user-journey PATH analysis — the top event-type sequences users
    * actually follow (product analytics' "path / flow" report; the
    * ordered generalization of e4's fixed funnel: e4 asks "how many got
    * through THIS sequence", e13 asks "WHICH sequences happen").
    *
    * Shape: one per-user aggregate collects (ts, id, type) structs,
    * `array_sort` orders them by event time (event_id breaks ties — the
    * sequence is total and deterministic), the first `maxLen` types
    * join into the path string, and a second tiny aggregate counts users
    * per path. No per-user window sort ever runs: `collect_list` is an
    * ObjectHashAggregate with map-side partials, so each partition folds
    * its users' local event lists before the one per-user exchange, and
    * the per-path rollup sees |users| rows, not |events|. State per key
    * is that user's events — bounded by per-user activity (the same
    * contract as e2's session state; a corpus with unbounded single-user
    * histories would pre-slice by the e2 session boundary first, making
    * the path a per-SESSION journey, which is also the more useful
    * report). Top-k is deterministic: (count desc, path) is total.
    */
  def e13PathAnalysis(spark: SparkSession, dir: String,
      maxLen: Int = 8, topK: Int = 20): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("user_id"), expr("ts DIV 1000").as("ts_us"),
        col("event_id"), col("event_type"))
    ev.groupBy(col("user_id"))
      .agg(array_sort(collect_list(struct(col("ts_us"), col("event_id"),
        col("event_type")))).as("seq"))
      .select(array_join(
        slice(expr("transform(seq, x -> x.event_type)"), 1, maxLen),
        ">").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path"))
      .limit(topK)
  }
}
