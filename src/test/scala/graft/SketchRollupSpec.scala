package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SketchRollup

/** Sketch-rollup contracts: the daily HLL rollup must answer range
  * queries IDENTICALLY to sketching the raw rows (union is lossless at
  * equal lgK), stay within HLL's error envelope of the exact count, and
  * extend one appended day at a time without rebuilding.
  */
class SketchRollupSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.create("graft-sketch-test", master = "local[4]")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def rawWithDay = Tables(spark, dir).events
    .withColumn("day", expr("ts DIV 86400000000000").cast("long"))

  private def dayBounds: (Long, Long) = {
    val r = rawWithDay.agg(min("day"), max("day")).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  test("range query over the rollup == sketching the raw rows directly") {
    val (lo, hi) = dayBounds
    val from = lo + (hi - lo) / 4
    val to = hi - (hi - lo) / 4
    val viaRollup =
      SketchRollup.distinctUsersOverRange(SketchRollup.buildDaily(spark, dir), from, to)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    val direct = rawWithDay
      .filter(col("day").between(from, to))
      .groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12))).as("n_users_est"))
      .orderBy("event_type")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(viaRollup === direct) // lossless union: estimates identical, not just close
    assert(viaRollup.nonEmpty)
  }

  test("estimates sit inside the HLL error envelope of the exact counts") {
    val (lo, hi) = dayBounds
    val est =
      SketchRollup.distinctUsersOverRange(SketchRollup.buildDaily(spark, dir), lo, hi)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = rawWithDay
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet === exact.keySet)
    exact.foreach { case (tpe, n) =>
      val e = est(tpe)
      // lgK=12 → rsd ≈ 1.04/sqrt(4096) ≈ 1.6%; 5σ guard keeps the test
      // deterministic-in-practice without masking a broken rollup
      assert(math.abs(e - n) <= math.max(5.0, 0.08 * n),
        s"$tpe: estimate $e too far from exact $n")
    }
  }

  test("adaptive rollup: probe picks exact at sf cells; forced escalation stays in the HLL envelope") {
    import graft.operators.AdaptiveRollup
    val (lo, hi) = dayBounds
    // Default budget: sf0.001 cells are tiny, so the probe must choose the
    // exact representation and the answer must EQUAL count(DISTINCT).
    val (cells, exact) = AdaptiveRollup.buildDaily(spark, dir)
    assert(exact, "probe should choose roaring at sf-scale cell cardinalities")
    val got = AdaptiveRollup.distinctUsersOverRange(cells, exact, lo, hi)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val truth = rawWithDay
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet === truth.keySet)
    truth.foreach { case (tpe, n) => assert(got(tpe) === n.toDouble, tpe) }
    // Forced escalation (budget 0): every cell degrades to HLL; answers
    // must sit inside the documented envelope of the exact path — the
    // boundary changes cost and error bars, never the question.
    val (cellsF, exactF) = AdaptiveRollup.buildDaily(spark, dir, exactCellLimit = 0L)
    assert(!exactF)
    val est = AdaptiveRollup.distinctUsersOverRange(cellsF, exactF, lo, hi)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(est.keySet === truth.keySet)
    truth.foreach { case (tpe, n) =>
      assert(math.abs(est(tpe) - n) <= math.max(5.0, 0.08 * n),
        s"$tpe: escalated estimate ${est(tpe)} too far from exact $n")
    }
  }

  test("q20 keyed form answers the middle-half range exactly via the probe-chosen path") {
    import graft.operators.AdaptiveRollup
    val (lo, hi) = dayBounds
    val (from, to) = (lo + (hi - lo) / 4, hi - (hi - lo) / 4)
    val got = AdaptiveRollup.q20AdaptiveDistinct(spark, dir)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val truth = rawWithDay
      .filter(col("day").between(from, to))
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet === truth.keySet)
    truth.foreach { case (tpe, n) => assert(got(tpe) === n.toDouble, tpe) }
  }

  test("q21 delta fold is bit-identical to a rebuild, and the split genuinely merges cells") {
    import graft.operators.HistogramQuantiles
    val li = Tables(spark, dir).lineitem
    val stored = HistogramQuantiles.cellsOf(li.filter(col("l_orderkey") % 10 =!= 0))
    val delta = HistogramQuantiles.cellsOf(li.filter(col("l_orderkey") % 10 === 0))
    assert(stored.count() > 0 && delta.count() > 0, "vacuous split")
    // The orderkey split must hit the SAME (seg, flag, value) cells from
    // both sides — otherwise the fold degenerates to concatenation and
    // proves nothing about count merging.
    val overlap = stored.select("seg", "l_returnflag", "v")
      .intersect(delta.select("seg", "l_returnflag", "v")).count()
    assert(overlap > 0, "stored and delta populate disjoint cells — fold is vacuous")
    def cellMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.get(0), r.getString(1), r.getLong(2)) -> r.getLong(3)).toMap
    val folded = stored.unionByName(delta)
      .groupBy("seg", "l_returnflag", "v").agg(sum("cnt").as("cnt"))
    assert(cellMap(folded) === cellMap(HistogramQuantiles.cellsOf(li)))
    // End to end: the folded quantiles equal the single-pass q17 answer.
    assert(HistogramQuantiles.q21IncrementalQuantiles(spark, dir).collect().map(_.toSeq).toSeq
      === HistogramQuantiles.q17HistogramQuantiles(spark, dir).collect().map(_.toSeq).toSeq)
  }

  test("q20 answers an EMPTY corpus with an empty result, not an NPE") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_q20_empty").toString
    Tables(spark, dir).events.limit(0).write.parquet(s"$tmp/events.parquet")
    val got = graft.operators.AdaptiveRollup.q20AdaptiveDistinct(spark, tmp)
    assert(got.columns.toSeq === Seq("event_type", "n_users"))
    assert(got.collect().isEmpty)
    // q13 and q18 read the same pin-job day bounds (0, 0 when empty).
    assert(graft.operators.ExactRollup.q13RollupDistinct(spark, tmp).collect().isEmpty)
    assert(graft.operators.ExactRollup.q18CohortSetops(spark, tmp).collect().isEmpty)
  }

  test("appending one day's sketches == full rebuild for the extended range") {
    val (lo, hi) = dayBounds
    assert(hi > lo, "need at least two days of events")
    val history = SketchRollup.buildDaily(spark, dir).filter(col("day") < hi)
    val lastDay = Tables(spark, dir).events
      .withColumn("day", expr("ts DIV 86400000000000").cast("long"))
      .filter(col("day") === hi)
      .groupBy(col("day"), col("event_type"))
      .agg(
        hll_sketch_agg(col("user_id"), lit(12)).as("user_sketch"),
        count(lit(1)).as("n_events"))
    val appended = history.unionByName(lastDay)
    val viaAppend = SketchRollup.distinctUsersOverRange(appended, lo, hi)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    val rebuilt = SketchRollup.distinctUsersOverRange(
      SketchRollup.buildDaily(spark, dir), lo, hi)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(viaAppend === rebuilt)
  }

  test("exact rollup: blob-union range query == exact distinct over the raw rows") {
    import graft.operators.ExactRollup
    val (lo, hi) = dayBounds
    val from = lo + (hi - lo) / 4
    val to = hi - (hi - lo) / 4
    val viaRollup =
      ExactRollup.distinctUsersOverRange(ExactRollup.buildDaily(spark, dir), from, to)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    // Two independent exact baselines: the one-pass roaring aggregate
    // and Spark's count(distinct) rewrite.
    val viaRoaring = rawWithDay
      .filter(col("day").between(from, to))
      .groupBy(col("event_type"))
      .agg(org.apache.spark.sql.graft.RoaringAggregates
        .roaringDistinctCount(col("user_id")).as("n_users"))
      .orderBy("event_type")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    val viaBuiltin = rawWithDay
      .filter(col("day").between(from, to))
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("event_type")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(viaRollup === viaRoaring)
    assert(viaRollup === viaBuiltin)
    assert(viaRollup.nonEmpty)
  }

  test("exact rollup: appended day's blobs are bit-identical to the rebuilt cells") {
    import graft.operators.ExactRollup
    val (lo, hi) = dayBounds
    assert(hi > lo, "need at least two days of events")
    // Canonical serialization: the blob is a pure function of the SET,
    // so append-vs-rebuild agreement holds at the BYTE level per cell,
    // not merely on the final counts.
    val history = ExactRollup.buildDaily(spark, dir).filter(col("day") < hi)
    val lastDay = rawWithDay
      .filter(col("day") === hi)
      .groupBy(col("day"), col("event_type"))
      .agg(
        org.apache.spark.sql.graft.RoaringAggregates
          .roaringSetAgg(col("user_id")).as("user_set"),
        count(lit(1)).as("n_events"),
        sum(floor(col("value") * 1000).cast("long")).as("sum_value_milli"))
    def cells(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("day"), r.getAs[String]("event_type")) ->
        r.getAs[Array[Byte]]("user_set").toSeq).toMap
    val appended = cells(history.unionByName(lastDay))
    val rebuilt = cells(ExactRollup.buildDaily(spark, dir))
    assert(appended === rebuilt)
    // And the SQL surface answers the same union.
    ExactRollup.buildDaily(spark, dir).createOrReplaceTempView("exact_cells")
    val viaSql = spark.sql(
      s"""SELECT event_type, graft_roaring_union(user_set) AS n_users
         |FROM exact_cells WHERE day BETWEEN $lo AND $hi
         |GROUP BY event_type ORDER BY event_type""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    val viaApi = ExactRollup.distinctUsersOverRange(
      ExactRollup.buildDaily(spark, dir), lo, hi)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(viaSql === viaApi)
  }

  test("incremental maintenance: appendDelta fold == full rebuild, late-arriving days merge") {
    import graft.operators.ExactRollup
    val ss = spark
    import ss.implicits._
    val dayNs = 86400000000000L
    val tmp = java.nio.file.Files.createTempDirectory("graft-mv-inc").toString
    // Crafted history: 4 days × 2 types with user overlap ACROSS the
    // halves, plus the delta carrying LATE events for day 0 — the
    // merge case a rebuild-free refresh must get right.
    def mk(rows: Seq[(Long, Long, Long, String, Double)]) =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    val first = mk((0 until 40).map { i =>
      (i.toLong, (i % 2) * dayNs + i * 1000L, (i % 5).toLong,
        if (i % 2 == 0) "click" else "view", i * 0.31 - 2.0)
    })
    val delta = mk((40 until 80).map { i =>
      val day = if (i % 10 == 0) 0L else 2L + (i % 2) // late day-0 rows
      (i.toLong, day * dayNs + i * 1000L, (i % 7).toLong,
        if (i % 2 == 0) "click" else "view", i * 0.17 - 1.0)
    })
    ExactRollup.buildDailyFrom(first)
      .write.mode("overwrite").partitionBy("day").parquet(s"$tmp/cells")
    val touched = ExactRollup.appendDelta(spark, s"$tmp/cells", delta)
    // Delta days: {0 (late), 2, 3} — day 1 must not be rewritten.
    assert(touched === 3)
    // The maintained store is cell-identical to a rebuild from all rows:
    // same counts and sums, same user SET per cell (cardinality + a
    // membership-sensitive intersection against the rebuilt blob).
    val rebuilt = ExactRollup.buildDailyFrom(first.unionByName(delta))
    def flat(df: org.apache.spark.sql.DataFrame) = df
      .select(col("day").cast("long"), col("event_type"),
        col("n_events"), col("sum_value_milli"),
        org.apache.spark.sql.graft.RoaringAggregates
          .roaringBlobCardinality(col("user_set")).as("card"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val got = flat(spark.read.parquet(s"$tmp/cells"))
    assert(got === flat(rebuilt))
    assert(got.keys.map(_._1).toSet === Set(0L, 1L, 2L, 3L))
    // Set equality per cell, not just cardinality: |A ∩ B| = |A| = |B|.
    val inc = spark.read.parquet(s"$tmp/cells")
      .select(col("day").cast("long").as("day"), col("event_type"),
        col("user_set").as("a"))
    val reb = rebuilt.select(col("day"), col("event_type"), col("user_set").as("b"))
    val mismatched = inc.join(reb, Seq("day", "event_type"))
      .select(
        org.apache.spark.sql.graft.RoaringAggregates.roaringBlobAndCount(col("a"), col("b")).as("i"),
        org.apache.spark.sql.graft.RoaringAggregates.roaringBlobCardinality(col("a")).as("ca"),
        org.apache.spark.sql.graft.RoaringAggregates.roaringBlobCardinality(col("b")).as("cb"))
      .filter(col("i") =!= col("ca") || col("i") =!= col("cb"))
    assert(mismatched.count() === 0L)
  }

  test("appendDelta refuses an unpartitioned cell store (double-count hazard)") {
    import graft.operators.ExactRollup
    val ss = spark
    import ss.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-mv-flat").toString
    val day = 86400000000000L
    val rows = Seq((1L, "view", 100L, day, 1.0)).toDF(
      "event_id", "event_type", "user_id", "ts", "value")
    // Written WITHOUT partitionBy: dynamic overwrite against this layout
    // would add day=N dirs while leaving the flat files in place —
    // appendDelta must fail fast instead of silently double-counting.
    ExactRollup.buildDailyFrom(rows)
      .write.mode("overwrite").parquet(s"$tmp/cells_flat")
    val e = intercept[IllegalArgumentException] {
      ExactRollup.appendDelta(spark, s"$tmp/cells_flat", rows)
    }
    assert(e.getMessage.contains("day-partitioned"))
    // And the store is byte-untouched: still exactly the flat build.
    assert(spark.read.parquet(s"$tmp/cells_flat").count() === 1L)
  }

  test("q27 keyed form: the SUM stat block answers from the cell store on gate data") {
    // Pins that the rewrite fires on the DRIVER's parquet (ts arrives as
    // the MICROS widening projection there, the shape the rule matches
    // via isTsNanos — before that, the q24/q26 gates were passing
    // answer-identical but silently native).
    val df = graft.operators.RollupRewrite.q27RollupRewriteSum(spark, "/root/testdata/sf0.01")
    val scans = df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.rootPaths.map(_.toUri.getPath)
    }.flatten
    assert(scans.nonEmpty && scans.forall(_.contains("events_cells")),
      s"q27 must answer from the cell store on gate data, got: $scans")
    assert(df.collect().nonEmpty)
  }

  test("q28 keyed form: the rewrite answers from the INCREMENTAL store") {
    // The gate SF. sf0.01's events store ts as TIMESTAMP(MICROS) without a
    // zone (timestamp_ntz), so the rule matches Tables.events' widening
    // `unix_micros(cast(ts as timestamp)) * 1000` in the range conjuncts,
    // not the bare LONG ts that a TIMESTAMP(NANOS) file gives.
    val dir = "/root/testdata/sf0.01"
    val df = graft.operators.RollupRewrite.q28RollupIncremental(spark, dir)
    val scans = df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.rootPaths.map(_.toUri.getPath)
    }.flatten
    assert(scans.nonEmpty && scans.forall(_.contains("events_cells_inc")),
      s"q28 must answer from the incrementally-maintained store, got scans: $scans\n" +
        df.queryExecution.optimizedPlan)
    // And the answer equals the native plan's (confs cleared).
    val got = df.collect().map(_.toSeq).toSeq
    spark.conf.set("spark.graft.rollup.source", "")
    spark.conf.set("spark.graft.rollup.store", "")
    try {
      val native = graft.Tables(spark, dir).events
        .withColumn("day", expr("ts DIV 86400000000000").cast("long"))
      val b = native.agg(min("day"), max("day")).head()
      val (lo, hi) = (b.getLong(0), b.getLong(1))
      val (dLo, dHi) = (lo + (hi - lo) / 4, hi - (hi - lo) / 4)
      val exact = native
        .filter(col("day").between(dLo, dHi))
        .groupBy(col("event_type"))
        .agg(
          sum(floor(col("value") * 1000).cast("long")).as("sum_value_milli"),
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("event_type")
        .collect().map(_.toSeq).toSeq
      assert(got === exact)
      assert(got.nonEmpty)
    } finally {
      spark.conf.set("spark.graft.rollup.fingerprint", "")
    }
  }
}
