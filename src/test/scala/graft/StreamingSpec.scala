package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{Events, EventsStream}

final case class Ev(event_id: Long, user_id: Long, event_type: String, ts: Long, value: Double)

final case class Doc(doc_id: Long, text: String, ingest_ts_ns: Long)

final case class CallEv(event_id: Long, user_id: Long, event_type: String, ts: Long, value: Double, props: String)

final case class CurDoc(doc_id: Long, lang: String, text: String)

final case class EmbRow(vec_id: Long, embedding: Seq[Float])

/** Structured Streaming forms of the F-group, driven through MemoryStream:
  * the streaming plans must (a) run incrementally with watermarked state and
  * (b) agree with the batch forms on the same finite input.
  */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.create("graft-streaming-test", master = "local[4]")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val hourNs = 3600L * 1000000000L
  private def sample: Seq[Ev] = Seq(
    Ev(1, 1, "click", 1 * hourNs + 1000000000L, 1.5),
    Ev(2, 1, "click", 1 * hourNs + 2000000000L, 2.5),
    Ev(3, 1, "view", 1 * hourNs + 3000000000L, 0.5),
    Ev(4, 2, "click", 2 * hourNs + 1000000000L, 3.0),
    // user 1 again, > 30 min after the first burst → second session
    Ev(5, 1, "click", 1 * hourNs + 2400L * 1000000000L, 1.0),
    Ev(6, 2, "click", 2 * hourNs + 100L * 1000000000L, 4.0)
  )

  private def runStream(name: String, df: org.apache.spark.sql.DataFrame): Array[org.apache.spark.sql.Row] = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    spark.table(name).collect()
  }

  test("streaming e1 tumbling agg matches hand-computed windows (complete mode)") {
    val ss = spark
    implicit val sqlCtx = ss.sqlContext
    import ss.implicits._
    val mem = MemoryStream[Ev]
    mem.addData(sample: _*)
    val q = EventsStream.tumblingAggStream(mem.toDF())
      .writeStream.format("memory").queryName("e1s").outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val out = spark.table("e1s").collect()
      .map(r => (r.getAs[Long]("hour_ts"), r.getAs[String]("event_type")) -> r.getAs[Long]("cnt"))
      .toMap
    assert(out((3600L, "click")) === 3L) // ev1, ev2, and ev5 (1h40m is inside hour 1)
    assert(out((3600L, "view")) === 1L)
    assert(out((7200L, "click")) === 2L) // ev4 + ev6 (both inside hour 2)
  }

  test("streaming e10 sliding agg agrees with the batch explode form") {
    val ss = spark
    implicit val sqlCtx = ss.sqlContext
    import ss.implicits._
    val mem = MemoryStream[Ev]
    mem.addData(sample: _*)
    val q = EventsStream.slidingAggStream(mem.toDF())
      .writeStream.format("memory").queryName("e10s").outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("e10s").collect()
      .map(r => (r.getAs[Long]("win_start"), r.getAs[String]("event_type"),
        r.getAs[Long]("cnt"), r.getAs[Long]("sum_value_milli"))).toSet
    val batch = Events.slidingAgg(sample.toDF()).collect()
      .map(r => (r.getAs[Long]("win_start"), r.getAs[String]("event_type"),
        r.getAs[Long]("cnt"), r.getAs[Long]("sum_value_milli"))).toSet
    assert(streamed === batch)
    // An event sits in exactly 4 hopping windows.
    assert(streamed.toSeq.map(_._3).sum === sample.length * 4L)
  }

  test("streaming e2 session windows split at the 30-min gap") {
    val ss = spark
    implicit val sqlCtx = ss.sqlContext
    import ss.implicits._
    val mem = MemoryStream[Ev]
    mem.addData(sample: _*)
    val q = EventsStream.sessionizeStream(mem.toDF())
      .writeStream.format("memory").queryName("e2s").outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val byUser = spark.table("e2s").collect()
      .groupBy(_.getAs[Long]("user_id"))
      .view.mapValues(_.length).toMap
    assert(byUser(1L) === 2) // burst + the 40-min-later event
    assert(byUser(2L) === 1) // two events ~100s apart merge into one session
  }

  test("custom-state sessionization emits closed sessions and holds the open tail") {
    val ss = spark
    implicit val sqlCtx = ss.sqlContext
    import ss.implicits._
    val mem = MemoryStream[Ev]
    mem.addData(sample: _*)
    val q = graft.streaming.EventsStream
      .sessionizeCustomState(mem.toDF().as[graft.streaming.RawEvent])
      .writeStream.format("memory").queryName("e2cs").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.table("e2cs").collect()
    // user 1's 3-event burst is closed by the 40-min-later event; user 2's
    // single session and user 1's tail stay open in state, unemitted.
    assert(rows.length === 1)
    assert(rows(0).getAs[Long]("user_id") === 1L)
    assert(rows(0).getAs[Long]("n_events") === 3L)
  }

  test("streaming funnel flushes per-user rows once the watermark passes the quiet period") {
    val ss = spark
    implicit val sqlCtx = ss.sqlContext
    import ss.implicits._
    val mem = MemoryStream[Ev]
    val q = EventsStream.funnelStream(mem.toDF().as[graft.streaming.RawEvent])
      .writeStream.format("memory").queryName("e4s").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    mem.addData(sample: _*)
    q.processAllAvailable()
    // far-future sentinel events: the first advances the watermark past
    // every sample user's quiet period, the second triggers the batch in
    // which those timeouts actually fire.
    mem.addData(Ev(100, 99, "view", 100 * hourNs, 0.0))
    q.processAllAvailable()
    mem.addData(Ev(101, 99, "view", 101 * hourNs, 0.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("e4s").collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("t_view"), r.getAs[Long]("t_click"), r.getAs[Long]("t_purchase"),
          r.getAs[Int]("funnel_depth"))).toMap
    // user 1: view at 1h+3s, first click strictly after it at 1h+40m, no
    // purchase -> depth 2. user 2: clicks but never a view -> depth 0
    // (Option fields surface as null/0 via getAs on the row).
    assert(rows.contains(1L) && rows.contains(2L))
    assert(rows(1L)._1 === (3600L + 3) * 1000000L)
    assert(rows(1L)._2 === (3600L + 2400) * 1000000L)
    assert(rows(1L)._4 === 2)
    assert(rows(2L)._4 === 0)
  }

  test("streaming e5 as-of attribution matches the batch window form and carries state across batches") {
    val ss = spark
    implicit val sqlCtx = ss.sqlContext
    import ss.implicits._
    // Purchases interleaved with clicks, incl. same-timestamp ordering
    // (ev3/ev4 share ts: the click's smaller event_id sorts it strictly
    // before the purchase, so it must attribute) and a clickless user.
    val evs = Seq(
      Ev(1, 1, "view", 1 * hourNs, 0.1),
      Ev(2, 1, "click", 1 * hourNs + 60L * 1000000000L, 0.2),
      Ev(3, 1, "click", 1 * hourNs + 120L * 1000000000L, 0.3),
      Ev(4, 1, "purchase", 1 * hourNs + 120L * 1000000000L, 9.0),
      Ev(5, 1, "purchase", 1 * hourNs + 300L * 1000000000L, 8.0),
      Ev(6, 2, "purchase", 1 * hourNs + 30L * 1000000000L, 7.0),
      Ev(7, 3, "click", 1 * hourNs + 10L * 1000000000L, 0.4)
    )
    def key(r: org.apache.spark.sql.Row) = (
      r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
      r.getAs[Long]("purchase_us"),
      Option(r.getAs[java.lang.Long]("last_click_us")).map(_.longValue()),
      r.getAs[Int]("attributed"))
    val mem = MemoryStream[Ev]
    val q = EventsStream.asofJoinStream(mem.toDF().as[graft.streaming.RawEvent]).toDF()
      .writeStream.format("memory").queryName("e5s").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    mem.addData(evs: _*)
    q.processAllAvailable()
    val streamed = spark.table("e5s").collect().map(key).toSet
    val batch = graft.streaming.Events.asofJoin(evs.toDF()).collect().map(key).toSet
    assert(streamed === batch)
    assert(streamed.exists { case (id, _, _, click, att) => id == 4L && click.isDefined && att == 1 })
    assert(streamed.exists { case (id, _, _, click, att) => id == 6L && click.isEmpty && att == 0 })
    // Cross-batch carry: user 3's click lives in batch 1 state; a purchase
    // arriving in a later batch attributes to it.
    mem.addData(Ev(8, 3, "purchase", 1 * hourNs + 600L * 1000000000L, 6.0))
    q.processAllAvailable()
    q.stop()
    val after = spark.table("e5s").collect().map(key).toSet
    assert(after.contains((8L, 3L, (3600L + 600) * 1000000L, Some((3600L + 10) * 1000000L), 1)))
  }

  test("streaming incremental dedup: anti-joins the corpus index, dedups in flight, carries state across batches") {
    val ss = spark
    implicit val sqlCtx = ss.sqlContext
    import ss.implicits._
    val existing = Seq("corpus doc A", "corpus doc B").toDF("text")
      .select(md5(org.apache.spark.sql.functions.col("text")).as("text_hash"))
    val mem = MemoryStream[Doc]
    val q = graft.dedup.DedupStream.incrementalDedupStream(mem.toDF(), existing)
      .writeStream.format("memory").queryName("d7s").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    mem.addData(
      Doc(1, "corpus doc A", 1 * hourNs), // exact dup of the store -> dropped
      Doc(2, "fresh doc X", 1 * hourNs),  // new -> kept
      Doc(3, "fresh doc X", 1 * hourNs),  // in-batch dup -> dropped (first wins)
      Doc(4, "fresh doc Y", 1 * hourNs)   // new -> kept
    )
    q.processAllAvailable()
    mem.addData(
      Doc(5, "fresh doc X", 1 * hourNs + 60L * 1000000000L), // cross-batch dup -> dropped
      Doc(6, "corpus doc B", 1 * hourNs + 60L * 1000000000L), // store dup -> dropped
      Doc(7, "fresh doc Z", 1 * hourNs + 60L * 1000000000L)   // new -> kept
    )
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("d7s").collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept === Set(2L, 4L, 7L))
  }

  test("streaming t21 hash split labels rows exactly as the batch split") {
    val ss = spark
    implicit val sqlCtx = ss.sqlContext
    import ss.implicits._
    val docs = Seq(
      CurDoc(1, "en", "alpha beta gamma"),
      CurDoc(2, "en", "delta epsilon"),
      CurDoc(3, "de", "zeta eta theta iota"),
      CurDoc(4, "de", "kappa"),
      CurDoc(5, "en", "lambda mu nu xi"))
    val mem = MemoryStream[CurDoc]
    mem.addData(docs: _*)
    val got = runStream("t21s", graft.streaming.CurationStream.hashSplitStream(mem.toDF()))
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("u_milli"), r.getAs[String]("split"))).toSet
    val batch = graft.streaming.CurationStream.hashSplitStream(docs.toDF())
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("u_milli"), r.getAs[String]("split"))).toSet
    assert(got === batch)
    assert(got.size === docs.size)
  }

  test("streaming t13 reservoir converges to the batch stratified sample across batches") {
    val ss = spark
    implicit val sqlCtx = ss.sqlContext
    import ss.implicits._
    val batch1 = Seq(
      CurDoc(1, "en", "aaa"), CurDoc(2, "en", "bbb"), CurDoc(3, "en", "ccc"),
      CurDoc(10, "de", "ddd"), CurDoc(11, "de", "eee"))
    val batch2 = Seq(
      CurDoc(4, "en", "fff"), CurDoc(5, "en", "ggg"),
      CurDoc(12, "de", "hhh"), CurDoc(2, "en", "bbb")) // replay of doc 2
    val cap = 3
    val mem = MemoryStream[CurDoc]
    val q = graft.streaming.CurationStream.stratifiedSampleStream(mem.toDF(), cap)
      .writeStream.format("memory").queryName("t13s").outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    mem.addData(batch1: _*)
    q.processAllAvailable()
    mem.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()
    val emitted = spark.table("t13s").collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("sample_rank"), r.getAs[Long]("version")))
    // Latest snapshot per stratum = rows carrying that lang's max version.
    val latest = emitted.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val v = rows.map(_._4).max
      rows.filter(_._4 == v).toSeq
    }.map(t => (t._2, t._1, t._3)).toSet
    val batchForm = graft.functions.TextFuncs
      .stratifiedSampleCore((batch1 ++ batch2).distinct.toDF()
        .select(col("doc_id"), col("lang"), col("text")), cap)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"), r.getAs[Long]("sample_rank")))
      .toSet
    assert(latest === batchForm)
    assert(latest.nonEmpty && latest.size <= 2 * cap)
  }

  test("streaming t22 verdict labels rows exactly as the batch verdict") {
    val ss = spark
    implicit val sqlCtx = ss.sqlContext
    import ss.implicits._
    val docs = Seq(
      CurDoc(1, "en", "the cat and the dog of the house " * 5),     // en, repetitive
      CurDoc(2, "en", ("w" + "x").take(2)),                          // too short -> quality
      CurDoc(3, "de", Seq.tabulate(40)(i => s"wort$i und der die das tag$i").mkString(" ")),
      CurDoc(4, "und", "zzz qqq vvv"))                               // no markers -> lang
    val mem = MemoryStream[CurDoc]
    mem.addData(docs: _*)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_id"), r.getAs[String]("pred_lang"), r.getAs[Int]("keep"),
        r.getAs[String]("reasons"))
    val got = runStream("t22s",
      graft.streaming.CurationStream.curationVerdictStream(mem.toDF())).map(key).toSet
    val batch = graft.functions.TextFuncs.curationVerdictCore(docs.toDF()).collect().map(key).toSet
    assert(got === batch)
    assert(got.size === docs.size)
    assert(got.exists(_._4.nonEmpty), "spec must exercise at least one drop reason")
  }

  test("idempotent batch sink: replaying a micro-batch does not duplicate rows") {
    val ss = spark
    implicit val sqlCtx = ss.sqlContext
    import ss.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-sink").toString
    // Direct replay of the batch writer: same (batch, id) twice must be
    // a no-op the second time — the exactly-once property under source
    // replay.
    val batch = sample.toDF()
    val overwriteMode = "spark.sql.sources.partitionOverwriteMode"
    val before = spark.conf.getOption(overwriteMode)
    EventsStream.writeBatchIdempotent(batch, 0L, s"$out/events")
    EventsStream.writeBatchIdempotent(batch, 0L, s"$out/events")
    assert(spark.read.parquet(s"$out/events").count() === sample.size.toLong)
    // Dynamic overwrite is the write's own option: the session's mode stays.
    assert(spark.conf.getOption(overwriteMode) === before)
    // And through the stream wiring: a second batch lands alongside.
    val mem = MemoryStream[Ev]
    val q = EventsStream.eventsToParquetSink(mem.toDF(), s"$out/stream", s"$out/ckpt")
    mem.addData(sample: _*)
    q.processAllAvailable()
    mem.addData(Ev(100, 9, "view", 50 * hourNs, 0.0))
    q.processAllAvailable()
    q.stop()
    val landed = spark.read.parquet(s"$out/stream")
    assert(landed.count() === sample.size.toLong + 1)
    assert(landed.select("ingest_batch").distinct().count() === 2)
  }


  test("streaming e8 retention increments fold to the batch matrix across batches") {
    val ss = spark
    implicit val sqlCtx = ss.sqlContext
    import ss.implicits._
    val mem = MemoryStream[Ev]
    val q = EventsStream.retentionStream(mem.toDF().as[graft.streaming.RawEvent])
      .writeStream.format("memory").queryName("e8s").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    // Batch 1: user 1 active hours 1 and 2 (two events in hour 1 — one
    // increment), user 2 active hour 2.
    mem.addData(
      Ev(1, 1, "view", 1 * hourNs + 1e9.toLong, 0.0),
      Ev(2, 1, "view", 1 * hourNs + 2e9.toLong, 0.0),
      Ev(3, 1, "click", 2 * hourNs + 1e9.toLong, 0.0),
      Ev(4, 2, "view", 2 * hourNs + 1e9.toLong, 0.0))
    q.processAllAvailable()
    // Batch 2: user 1 returns in hour 4 (hours_since vs the ORIGINAL
    // cohort), user 2 repeats hour 2 (no new increment).
    mem.addData(
      Ev(5, 1, "view", 4 * hourNs + 1e9.toLong, 0.0),
      Ev(6, 2, "view", 2 * hourNs + 5e9.toLong, 0.0))
    q.processAllAvailable()
    q.stop()
    val incs = spark.table("e8s").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("cohort_hour"),
        r.getAs[Long]("hours_since")))
    assert(incs.length === incs.distinct.length, "duplicate increments")
    assert(incs.toSet === Set((1L, 1L, 0L), (1L, 1L, 1L), (1L, 1L, 3L), (2L, 2L, 0L)))
    // Folding the increments reproduces the batch matrix on the same rows.
    val matrix = incs.groupBy(i => (i._2, i._3)).view.mapValues(_.length.toLong).toMap
    assert(matrix === Map((1L, 0L) -> 1L, (1L, 1L) -> 1L, (1L, 3L) -> 1L, (2L, 0L) -> 1L))
  }

  test("streaming exact rollup maintains cells bit-identical to a batch rebuild") {
    val ss = spark
    implicit val sqlCtx = ss.sqlContext
    import ss.implicits._
    val dayNs = 86400000000000L
    val mem = MemoryStream[Ev]
    // Latest emitted cell per key across batches (update semantics).
    val acc = scala.collection.mutable.Map.empty[(Long, String), (Long, Seq[Byte], Long)]
    val q = EventsStream.exactRollupStream(mem.toDF().as[graft.streaming.RawEvent])
      .writeStream.outputMode("update")
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[graft.streaming.RollupCell], bid: Long) =>
        val rows = ds.collect()
        acc.synchronized {
          rows.foreach(c => acc((c.day, c.event_type)) = (bid, c.user_set.toSeq, c.n_events))
        }
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    val b1 = Seq(
      Ev(1, 10, "view", 1 * dayNs + 1, 0.0),
      Ev(2, 11, "view", 1 * dayNs + 2, 0.0),
      Ev(3, 10, "view", 1 * dayNs + 3, 0.0), // repeat user same day
      Ev(4, 10, "click", 1 * dayNs + 4, 0.0),
      Ev(5, 12, "view", 2 * dayNs + 5, 0.0))
    mem.addData(b1: _*)
    q.processAllAvailable()
    // Batch 2 touches an EXISTING cell (day 1 view: new user + repeat)
    // and opens a new one; day-1 arrival after day-2 exercises the
    // no-expiry contract.
    val b2 = Seq(
      Ev(6, 13, "view", 1 * dayNs + 6, 0.0),
      Ev(7, 11, "view", 1 * dayNs + 7, 0.0),
      Ev(8, 12, "purchase", 2 * dayNs + 8, 0.0))
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val all = b1 ++ b2
    // Independent reference: the canonical blob straight off RoaringSet,
    // and the real batch aggregate over one DataFrame — all three forms
    // must agree at the BYTE level (canonical serialization).
    val expected = all.groupBy(e => (e.ts / dayNs, e.event_type)).map { case (k, evs) =>
      val rs = new org.apache.spark.sql.graft.RoaringSet
      evs.foreach(e => rs.add(e.user_id))
      k -> ((rs.serialize().toSeq, evs.length.toLong))
    }
    assert(acc.view.mapValues(v => (v._2, v._3)).toMap === expected)
    val viaAgg = all.toDF()
      .groupBy(expr("ts DIV 86400000000000").as("day"), col("event_type"))
      .agg(org.apache.spark.sql.graft.RoaringAggregates.roaringSetAgg(col("user_id")).as("s"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getAs[Long]("day"), r.getAs[String]("event_type")) ->
        ((r.getAs[Array[Byte]]("s").toSeq, r.getAs[Long]("n"))))
      .toMap
    assert(viaAgg === expected)
  }

  test("streaming frequency rollup maintains count cells identical to a batch recount") {
    val ss = spark
    implicit val sqlCtx = ss.sqlContext
    import ss.implicits._
    val dayNs = 86400000000000L
    val mem = MemoryStream[Ev]
    // Latest emitted cell per (day, type, value) across batches.
    val acc = scala.collection.mutable.Map.empty[(Long, String, Long), Long]
    val q = EventsStream.freqRollupStream(mem.toDF().as[graft.streaming.RawEvent])
      .writeStream.outputMode("update")
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[graft.streaming.FreqCell], _: Long) =>
        val rows = ds.collect()
        acc.synchronized { rows.foreach(c => acc((c.day, c.event_type, c.v)) = c.cnt) }
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    val b1 = Seq(
      Ev(1, 10, "view", 1 * dayNs + 1, 3.7),   // floors to 3
      Ev(2, 11, "view", 1 * dayNs + 2, 3.1),   // same cell
      Ev(3, 10, "view", 1 * dayNs + 3, 4.0),
      Ev(4, 10, "click", 1 * dayNs + 4, 3.9),
      Ev(5, 12, "view", 2 * dayNs + 5, 3.2))
    mem.addData(b1: _*)
    q.processAllAvailable()
    // Batch 2 increments an EXISTING cell (day 1, view, v=3) after a
    // later-day cell opened — the no-expiry contract.
    val b2 = Seq(
      Ev(6, 13, "view", 1 * dayNs + 6, 3.0),
      Ev(7, 12, "purchase", 2 * dayNs + 8, 4.5))
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val all = b1 ++ b2
    val expected = all
      .groupBy(e => (e.ts / dayNs, e.event_type, math.floor(e.value).toLong))
      .view.mapValues(_.length.toLong).toMap
    assert(acc.toMap === expected)
    assert(expected((1L, "view", 3L)) === 3L, "the merged cell saw both batches")
  }

  test("streaming CDC compaction folds to the batch e12 result across batch boundaries") {
    val ss = spark
    implicit val sqlCtx = ss.sqlContext
    import ss.implicits._
    val mem = MemoryStream[Ev]
    // Latest emission per user across batches = the maintained store.
    val acc = scala.collection.mutable.Map.empty[Long, graft.streaming.CompactRow]
    val q = EventsStream.changelogCompactStream(mem.toDF().as[graft.streaming.RawEvent])
      .writeStream.outputMode("update")
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[graft.streaming.CompactRow], _: Long) =>
        val rows = ds.collect()
        acc.synchronized { rows.foreach(r => acc(r.user_id) = r) }
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    // User 1: update then DELETE in a later batch (must vanish).
    // User 2: delete then REINSERT across batches (must survive).
    // User 3: late-arriving OLDER event in batch 2 (must not regress).
    val b1 = Seq(
      Ev(1, 1, "view", 1000000L, 1.5),
      Ev(2, 2, "error", 2000000L, 0.0),
      Ev(3, 3, "click", 9000000L, 2.25))
    mem.addData(b1: _*)
    q.processAllAvailable()
    val b2 = Seq(
      Ev(4, 1, "error", 3000000L, 0.0),
      Ev(5, 2, "purchase", 4000000L, 3.0),
      Ev(6, 3, "view", 5000000L, 9.9))   // older than event 3: ignored
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val survivors = acc.toMap.filter(_._2.last_type != "error")
    val batch = graft.streaming.Events.compactChangelog(
      (b1 ++ b2).toDF("event_id", "user_id", "event_type", "ts", "value"))
      .collect()
      .map(r => r.getAs[Long]("user_id") -> graft.streaming.CompactRow(
        r.getAs[Long]("user_id"), r.getAs[Long]("last_event_id"),
        r.getAs[Long]("last_ts_us"), r.getAs[String]("last_type"),
        r.getAs[Long]("last_value_milli"))).toMap
    assert(survivors === batch)
    assert(!survivors.contains(1L), "latest-delete must vanish")
    assert(survivors(2L).last_event_id === 5L, "delete-then-reinsert survives")
    assert(survivors(3L).last_event_id === 3L, "late older event must not regress state")
  }

  test("streaming e9 window top-k ranks closed windows and matches the batch form") {
    val ss = spark
    implicit val sqlCtx = ss.sqlContext
    import ss.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-topk").toString
    // Hour 1: user 1 has 3 events, user 2 has 2, user 3 has 1 (tie on
    // cnt with nobody — rank by (cnt desc, user asc)). Hour 2: users 4/5
    // tie at 1 each — the id tie-break decides.
    val evs = Seq(
      Ev(1, 1, "click", 1 * hourNs + 1e9.toLong, 0.0),
      Ev(2, 1, "click", 1 * hourNs + 2e9.toLong, 0.0),
      Ev(3, 1, "view",  1 * hourNs + 3e9.toLong, 0.0),
      Ev(4, 2, "click", 1 * hourNs + 4e9.toLong, 0.0),
      Ev(5, 2, "view",  1 * hourNs + 5e9.toLong, 0.0),
      Ev(6, 3, "view",  1 * hourNs + 6e9.toLong, 0.0),
      Ev(7, 5, "click", 2 * hourNs + 1e9.toLong, 0.0),
      Ev(8, 4, "click", 2 * hourNs + 2e9.toLong, 0.0))
    val mem = MemoryStream[Ev]
    val q = EventsStream.windowTopkStream(mem.toDF(), s"$out/topk", s"$out/ckpt", k = 2)
    mem.addData(evs: _*)
    q.processAllAvailable()
    // Watermark pusher: an event 10 hours on closes hours 1 and 2.
    mem.addData(Ev(99, 9, "view", 12 * hourNs, 0.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(s"$out/topk")
      .select("hour_ts", "user_id", "cnt", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got === Map(
      (3600L, 1L) -> (3L, 1L), (3600L, 2L) -> (2L, 2L),
      (7200L, 4L) -> (1L, 1L), (7200L, 5L) -> (1L, 2L)))
    // Batch/stream agreement: the batch core over the same rows (k = 2),
    // restricted to the closed hours 1-2, is identical.
    val ranked = Events.windowTopk(evs.toDF(), k = 2)
      .filter(col("hour_ts") < 3 * 3600L)
      .collect()
      .map(r => (r.getAs[Long]("hour_ts"), r.getAs[Long]("user_id")) ->
        (r.getAs[Long]("cnt"), r.getAs[Long]("rank"))).toMap
    assert(got === ranked)
  }

  test("streaming cost meter accumulates across batches, latches, and matches the batch ledger") {
    val ss = spark
    implicit val sqlCtx = ss.sqlContext
    import ss.implicits._
    val dayNs = 86400L * 1000000000L
    val b1 = Seq(
      CallEv(1, 1, "chat", 1 * dayNs, 100.0, "{\"k\": 40}"),
      CallEv(2, 1, "chat", 1 * dayNs + 1, 200.0, "{\"k\": 0}"),
      CallEv(3, 2, "embed", 1 * dayNs + 2, 50.0, "{\"k\": 10}"))
    val b2 = Seq(
      CallEv(4, 1, "chat", 2 * dayNs, 400.0, "{\"k\": 99}"),
      CallEv(5, 2, "embed", 2 * dayNs + 1, 60.0, "{\"k\": 5}"))
    // Limit chosen so gpt-chat crosses it only once batch 2 lands.
    def expected(calls: Seq[CallEv]): Map[String, (Long, Long)] =
      graft.functions.TextFuncs.costPerCall(calls.toDF())
        .groupBy("model").agg(count(lit(1)).as("n"), sum("cost_micro").as("c"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val limit = expected(b1)("gpt-chat")._2 + 1

    val mem = MemoryStream[CallEv]
    val q = EventsStream.costMeterStream(mem.toDF(), limit)
      .writeStream.format("memory").queryName("t18s").outputMode("complete").start()
    try {
      def snapshot(): Map[String, (Long, Long, Int)] =
        spark.table("t18s").collect()
          .map(r => r.getAs[String]("model") ->
            ((r.getAs[Long]("n_calls"), r.getAs[Long]("cum_cost_micro"),
              r.getAs[Int]("limit_reached")))).toMap

      mem.addData(b1: _*)
      q.processAllAvailable()
      val s1 = snapshot()
      val e1 = expected(b1)
      assert(s1.keySet === e1.keySet)
      e1.foreach { case (m, (n, c)) => assert(s1(m) === ((n, c, 0))) }

      mem.addData(b2: _*)
      q.processAllAvailable()
      val s2 = snapshot()
      val e2 = expected(b1 ++ b2)
      assert(s2.keySet === e2.keySet)
      e2.foreach { case (m, (n, c)) =>
        assert(s2(m) === ((n, c, if (c >= limit) 1 else 0)))
      }
      // The latch actually fired for the model that crossed the budget.
      assert(s2("gpt-chat")._3 === 1)
      assert(s2("gpt-embed")._3 === 0)
    } finally q.stop()
  }

  test("streaming e3 dedup keeps one row per (user, type)") {
    val ss = spark
    implicit val sqlCtx = ss.sqlContext
    import ss.implicits._
    val mem = MemoryStream[Ev]
    mem.addData(sample: _*)
    val rows = runStream("e3s", EventsStream.dedupStream(mem.toDF()))
    val keys = rows.map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type")))
    assert(keys.length === keys.distinct.length)
    assert(keys.toSet === Set((1L, "click"), (1L, "view"), (2L, "click")))
  }

  test("streaming e7: stream-static anomaly scan flags exactly the batch rows") {
    val ss = spark
    implicit val sqlCtx = ss.sqlContext
    import ss.implicits._
    // Thresholds maintained batch-side (the monitoring cadence); the
    // stream filters against the broadcast table statelessly.
    val history = Seq.tabulate(100)(i =>
      Ev(i.toLong, 1, "click", 1 * hourNs + i * 1000000000L, i / 100.0)) :+
      Ev(100L, 1, "view", 1 * hourNs, 5.0)
    val thresholds = graft.streaming.Events.e7Thresholds(history.toDF())
    val mem = MemoryStream[Ev]
    mem.addData(history: _*)
    val rows = runStream("e7s", graft.streaming.Events.anomalyScan(mem.toDF(), thresholds))
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("event_id"), r.getAs[Long]("value_milli"), r.getAs[Long]("p99_milli"))
    val batch = graft.streaming.Events.anomalyScan(history.toDF(), thresholds)
      .collect().map(key).toSet
    assert(rows.map(key).toSet === batch)
    assert(batch.nonEmpty)
  }

  test("streaming e6 interval join matches the batch form incl. the exact 30-min boundary") {
    val ss = spark
    implicit val sqlCtx = ss.sqlContext
    import ss.implicits._
    // Realistic epoch-ns magnitude (~1.7e18): ts is NOT exactly
    // representable as a double here (ulp ≈ 256ns), which is precisely
    // where a double-division-derived event_time diverges from the exact
    // `ts DIV 1000` microseconds and silently drops boundary pairs.
    val base = 1700000000000000000L
    val min30 = 1800L * 1000000000L
    val evs = Seq(
      Ev(1, 1, "click", base, 0.1),
      Ev(2, 1, "purchase", base + min30, 1.0),        // exactly 30 min -> in
      Ev(3, 1, "purchase", base + min30 + 1000L, 2.0), // 30 min + 1µs -> out
      Ev(4, 1, "purchase", base, 3.0),                 // same µs -> out (strict >)
      Ev(5, 2, "purchase", base + 1000000L, 4.0),      // other user, no click -> out
      Ev(6, 1, "purchase", base + 60L * 1000000000L, 5.0) // 1 min -> in
    )
    def key(r: org.apache.spark.sql.Row) = (
      r.getAs[Long]("click_id"), r.getAs[Long]("purchase_id"),
      r.getAs[Long]("user_id"), r.getAs[Long]("lag_us"))
    val mem = MemoryStream[Ev]
    val src = mem.toDF()
    val q = EventsStream.intervalJoinStream(
        src.filter(col("event_type") === "click"),
        src.filter(col("event_type") === "purchase"))
      .writeStream.format("memory").queryName("e6s").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    mem.addData(evs: _*)
    q.processAllAvailable()
    val streamed = spark.table("e6s").collect().map(key).toSet
    val batch = graft.streaming.Events.intervalJoin(evs.toDF()).collect().map(key).toSet
    assert(streamed === batch)
    assert(streamed === Set(
      (1L, 2L, 1L, 1800000000L),
      (1L, 6L, 1L, 60000000L)))
    // Cross-batch buffering: the click was delivered in batch 1; a
    // purchase arriving in a LATER micro-batch still pairs with it — the
    // buffered-state behavior the watermark bounds.
    mem.addData(Ev(7, 1, "purchase", base + 120L * 1000000000L, 6.0))
    q.processAllAvailable()
    q.stop()
    val after = spark.table("e6s").collect().map(key).toSet
    assert(after === streamed + ((1L, 7L, 1L, 120000000L)))
  }

  test("streaming t24 drift monitor: accumulated counts equal the batch recount and close to the identical report") {
    val ss = spark
    implicit val sqlCtx = ss.sqlContext
    import ss.implicits._
    val ref = Seq(
      CurDoc(100, "en", "alpha alpha beta gamma"),
      CurDoc(101, "en", "beta delta")).toDF()
      .select(col("doc_id"), col("lang"), col("text"))
    val live1 = Seq(
      CurDoc(1, "en", "alpha beta beta"),
      CurDoc(2, "en", "epsilon zeta"))
    val live2 = Seq(
      CurDoc(3, "en", "beta epsilon epsilon"),
      CurDoc(4, "en", "alpha eta"))
    val mem = MemoryStream[CurDoc]
    val q = graft.streaming.CurationStream.termCountsStream(mem.toDF())
      .writeStream.format("memory").queryName("t24s").outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    mem.addData(live1: _*)
    q.processAllAvailable()
    mem.addData(live2: _*)
    q.processAllAvailable()
    q.stop()
    // Update-mode sink appends each term's refreshed count; counts are
    // monotone, so the accumulated state is the per-term max.
    val got = spark.table("t24s").collect()
      .map(r => (r.getAs[String]("term"), r.getAs[Long]("cnt")))
      .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val liveDf = (live1 ++ live2).toDF().select(col("doc_id"), col("lang"), col("text"))
    val batch = graft.functions.TextFuncs.termCountsOf(liveDf)
      .collect().map(r => r.getAs[String]("term") -> r.getAs[Long]("cnt")).toMap
    assert(got === batch)
    // Closing projection: the report off the streamed state is the report
    // off the batch recount, row for row.
    val refCounts = graft.functions.TextFuncs.termCountsOf(ref)
    val gotDf = got.toSeq.toDF("term", "cnt")
    def report(live: org.apache.spark.sql.DataFrame) =
      graft.functions.TextFuncs.driftFromCounts(refCounts, live)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(report(gotDf) === report(graft.functions.TextFuncs.termCountsOf(liveDf)))
    assert(report(gotDf).exists(_._4 != 0L))
  }

  test("streaming s6 assignment against frozen centroids equals the batch assignment") {
    val ss = spark
    implicit val sqlCtx = ss.sqlContext
    import ss.implicits._
    val dir = "/root/testdata/sf0.001"
    val cents = graft.similarity.Cluster.trainExact(Tables(spark, dir).embeddings)
    // "Live" vectors: a handful of corpus vectors replayed as a stream —
    // exact arithmetic means the stream assigns them identically.
    val live = Tables(spark, dir).embeddings
      .filter(org.apache.spark.sql.functions.col("vec_id") < 20)
      .collect().map(r => EmbRow(r.getLong(0), r.getSeq[Float](1)))
    val mem = MemoryStream[EmbRow]
    mem.addData(live.toIndexedSeq: _*)
    val got = runStream("s6s",
      graft.streaming.CurationStream.clusterAssignStream(mem.toDF(), cents))
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster")).toMap
    val batch = graft.similarity.Cluster
      .assignFrozen(Tables(spark, dir).embeddings
        .filter(org.apache.spark.sql.functions.col("vec_id") < 20), cents)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === batch)
    assert(got.size === 20)
  }

  test("snapshot ingest sink: one version per microbatch, replays exactly-once, delta feed exact") {
    val ss = spark
    implicit val sqlCtx = ss.sqlContext
    import ss.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-snap-ingest").toString
    val table = s"$tmp/table"
    val mem = MemoryStream[Ev]
    val q = EventsStream.snapshotIngestSink(
      mem.toDF(), table, s"$tmp/ckpt", statsCols = Seq("event_id"))
    mem.addData(Ev(1, 1, "view", 1000, 1.0), Ev(2, 1, "click", 2000, 2.0))
    q.processAllAvailable()
    mem.addData(Ev(3, 2, "view", 3000, 3.0))
    q.processAllAvailable()
    q.stop()
    val v = graft.sources.Snapshots.currentVersion(spark, table)
    assert(v === 2L, "each microbatch must land as exactly one snapshot version")
    assert(graft.sources.Snapshots.readAsOf(spark, table, v).count() === 3L)
    // The change feed between versions IS microbatch 2, nothing else.
    assert(graft.sources.Snapshots.readBetween(spark, table, 1L, 2L)
      .select("event_id").as[Long].collect().toSet === Set(3L))
    // A restart replay of an already-committed batch id is a no-op: the
    // batch-id-named chunk is already referenced by the current version.
    val vr = graft.sources.Snapshots.ingestBatch(
      Seq(Ev(3, 2, "view", 3000, 3.0)).toDF(), 1L, table, Seq("event_id"))
    assert(vr === 2L)
    assert(graft.sources.Snapshots.readAsOf(spark, table, 2L).count() === 3L)
    // A genuinely new batch id commits the next version.
    val vn = graft.sources.Snapshots.ingestBatch(
      Seq(Ev(4, 2, "click", 4000, 4.0)).toDF(), 7L, table, Seq("event_id"))
    assert(vn === 3L)
    assert(graft.sources.Snapshots.readAsOf(spark, table, 3L).count() === 4L)
    // The streamed-in table carries stats: pruning by event_id skips files.
    val (surv, total) = graft.sources.Snapshots.pruneFiles(
      spark, table, 3L, "event_id", 4L, 4L)
    assert(surv.size.toLong < total, s"expected a skip, kept ${surv.size}/$total")
  }
}
