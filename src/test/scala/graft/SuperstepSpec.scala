package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class SuperstepSpec extends AnyFunSuite with BeforeAndAfterAll with AdaptiveSparkPlanHelper {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.create("graft-superstep-test", master = "local[4]")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def withThreshold[T](value: String)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    spark.conf.set(key, value)
    try body finally spark.conf.set(key, saved)
  }

  test("pin metrics equal a separate count and max; an empty frame reads 0") {
    val df = spark.range(0, 1000).select((col("id") % 37).as("k"))
    val (pinned, Seq(n, mx, sm)) =
      Superstep.pin(df, count(lit(1)), max(col("k")), sum(col("k")))
    assert(n === df.count())
    assert(mx === df.agg(max(col("k"))).head().getLong(0))
    assert(sm === df.agg(sum(col("k"))).head().getLong(0))
    assert(pinned.count() === n)

    val empty = df.filter(col("k") < 0)
    val (_, Seq(en, emx)) = Superstep.pin(empty, count(lit(1)), max(col("k")))
    assert((en, emx) === ((0L, 0L)))
    val noParts = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], df.schema)
    val (_, Seq(pn)) = Superstep.pin(noParts, count(lit(1)))
    assert(pn === 0L)
  }

  test("release frees the pin's blocks and a frame pinned from it still reads") {
    val a = Superstep.pin(spark.range(0, 100).select((col("id") * 2).as("v")))
    val aId = Superstep.rddOf(a).id
    assert(persistentIds.contains(aId))
    val b = Superstep.pin(a.select((col("v") + 1).as("w")))
    Superstep.release(a)
    assert(!persistentIds.contains(aId))
    assert(b.agg(sum("w")).head().getLong(0) === (0 until 100).map(i => 2L * i + 1).sum)
    // Dataset.unpersist is not a release: the pin's RDD stays.
    val c = Superstep.pin(spark.range(0, 10).toDF("v"))
    c.unpersist(blocking = true)
    assert(persistentIds.contains(Superstep.rddOf(c).id))
    intercept[IllegalArgumentException](Superstep.release(c.select("v")))
  }

  test("retainCheckpoint survives releaseCaches; a released pin does not come back") {
    val kept = GraftSession.retainCheckpoint(spark.range(0, 50).toDF("v"))
    val loop = Superstep.pin(spark.range(0, 50).toDF("v"))
    val loopId = Superstep.rddOf(loop).id
    Superstep.release(loop)
    GraftSession.releaseCaches(spark)
    assert(persistentIds.contains(Superstep.rddOf(kept).id))
    assert(!persistentIds.contains(loopId))
    assert(kept.agg(sum("v")).head().getLong(0) === (0 until 50).sum)
  }

  test("release frees a pin's blocks without Spark's unpersist warning; reading it again fails") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // Spark's RDD classes log under their own class names.
    val appender = new AbstractAppender("release-capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == org.apache.logging.log4j.Level.WARN && e.getLoggerName.startsWith("org.apache.spark.rdd."))
          warnings.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val rddLog = LogManager.getLogger("org.apache.spark.rdd.MapPartitionsRDD").asInstanceOf[Logger]
    rddLog.addAppender(appender)
    def blocks(id: Int) = org.apache.spark.SparkEnv.get.blockManager.master
      .getMatchingBlockIds(_.asRDDId.exists(_.rddId == id), askStorageEndpoints = true)
    try {
      // The control: RDD.unpersist on a pin warns.
      val control = Superstep.pin(spark.range(0, 100).toDF("v"))
      Superstep.rddOf(control).unpersist(blocking = true)
      assert(warnings.size === 1, warnings)
      warnings.clear()

      val pinned = Superstep.pin(spark.range(0, 100).toDF("v"))
      val id = Superstep.rddOf(pinned).id
      assert(blocks(id).nonEmpty)
      Superstep.release(pinned)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (blocks(id).nonEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      assert(blocks(id).isEmpty)
      assert(!persistentIds.contains(id))
      assert(warnings.isEmpty, warnings)
      val e = intercept[org.apache.spark.SparkException](pinned.count())
      assert(e.getMessage.contains("Checkpoint block"), e.getMessage)
    } finally {
      rddLog.removeAppender(appender)
      appender.stop()
    }
  }

  test("no .unpersist( outside GraftInternals.release") {
    // `.unpersist()` on a localCheckpoint'ed frame frees nothing, and
    // `RDD.unpersist` warns for every pin: a pin's blocks
    // (Superstep.release) and the session's RDDs (releaseCaches) are freed
    // through GraftInternals.release.
    val allowed = Set("GraftInternals.scala" -> "release")
    val offenders = MainSources.lines.filter(l =>
      l.text.contains(".unpersist(") && !allowed(l.fileName -> l.member))
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("no localCheckpoint, persist or cache in src/main/scala outside Superstep.pin") {
    // Superstep.pin is the one materialization: it measures what it
    // stores, so the planner sizes every pinned side. Its checkpoint lives
    // in GraftInternals.measuredCheckpoint, next to Spark's internals.
    val materialize = """\.localCheckpoint\(|\.persist\(|\.cache\(\)""".r
    val offenders = MainSources.lines.filter(l => l.isCode &&
      l.fileName != "Superstep.scala" &&
      (l.fileName -> l.member) != ("GraftInternals.scala" -> "measuredCheckpoint") &&
      materialize.findFirstIn(l.text).nonEmpty)
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("a pin plans with measured statistics: its small side is broadcast, and never at -1") {
    def buildSides(df: DataFrame) = collectWithSubqueries(df.queryExecution.executedPlan) {
      case j: BroadcastHashJoinExec => j.buildSide
      case j: BroadcastNestedLoopJoinExec => j.buildSide
    }
    // 10 rows of a filtered 30M-row range: the plan it replaced estimates
    // hundreds of MB, the pin holds 10 × (8 + 8) bytes.
    val small = Superstep.pin(spark.range(0, 30000000L)
      .filter(col("id") % 3000000L === 0).select(col("id").as("k")))
    // 3M rows holding every key of `small`: 3M × (8 + 8 + 8) bytes, over
    // the 64 MB default threshold.
    val big = Superstep.pin(spark.range(0, 30000000L, 10)
      .select(col("id").as("k"), (col("id") * 2).as("v")))
    try {
      assert(Superstep.rows(small) === 10L)
      assert(small.queryExecution.optimizedPlan.stats.sizeInBytes === BigInt(160))
      assert(big.queryExecution.optimizedPlan.stats.sizeInBytes === BigInt(3000000L * 24))
      val joined = small.join(big, "k")
      val expected = joined.collect().map(_.toString).sorted.toSeq
      assert(expected.size === 10)
      assert(buildSides(joined) === Seq(BuildLeft))
      withThreshold("-1") {
        val shuffled = small.join(big, "k")
        assert(shuffled.collect().map(_.toString).sorted.toSeq === expected)
        assert(buildSides(shuffled).isEmpty)
      }
    } finally Seq(small, big).foreach(Superstep.release)
  }

  test("a pin counts array elements at their observed length, and rows reads its count") {
    val arrays = Superstep.pin(spark.range(0, 1000)
      .select(col("id"), sequence(lit(1L), lit(1000L)).as("xs")))
    try {
      assert(arrays.queryExecution.optimizedPlan.stats.sizeInBytes >= BigInt(8000000))
      assert(Superstep.rows(arrays) === arrays.count())
      assert(Superstep.rows(arrays) === 1000L)
      intercept[IllegalArgumentException](Superstep.rows(arrays.select("id")))
    } finally Superstep.release(arrays)
  }

  test("a pin counts string and binary bytes at their observed length") {
    // 200 rows of 10 kB strings and 5 kB blobs: Spark's default sizes
    // (20 B a string, 100 B a blob) would size the pin at a few tens of kB.
    val blobs = Superstep.pin(spark.range(0, 200).select(col("id"),
      repeat(lit("x"), 10000).as("text"), repeat(lit("y"), 5000).cast("binary").as("blob")))
    try {
      assert(Superstep.rows(blobs) === 200L)
      assert(blobs.queryExecution.optimizedPlan.stats.sizeInBytes >= BigInt(200L * 15000))
      val nulls = Superstep.pin(spark.range(0, 10)
        .select(col("id"), lit(null).cast("string").as("text")))
      assert(Superstep.rows(nulls) === 10L)
      Superstep.release(nulls)
    } finally Superstep.release(blobs)
  }

  test("iterate pins on the cadence, stops on zero progress and releases what it pinned") {
    val init = Superstep.pin(spark.range(0, 20).select(col("id").as("v")))
    val before = persistentIds
    // Halve every value each round: the progress flag marks values that
    // still move, so the loop ends on the first pinned round with none.
    // The flag stays in the state, where the next step could read it.
    val (out, converged) = Superstep.iterate(init, 1 to 100, cadence = 2,
        progress = Some("moved")) { (s, _) =>
      s.select((col("v") / 2).cast("long").as("v"), (col("v") > 0).as("moved"))
    }
    assert(converged)
    assert(out.columns.toSeq === Seq("v", "moved"))
    assert(out.filter(col("moved")).isEmpty)
    assert(out.agg(max("v")).head().getLong(0) === 0L)
    // Only the final pin outlives the loop.
    assert((persistentIds -- before).size === 1)
    assert(Superstep.rddOf(out).id === (persistentIds -- before).head)

    val (fixed, conv2) = Superstep.iterate(init, 1 to 3, cadence = 2) { (s, _) =>
      s.select((col("v") + 1).as("v"))
    }
    assert(!conv2)
    assert(fixed.agg(sum("v")).head().getLong(0) === (0 until 20).map(_ + 3L).sum)
    intercept[IllegalArgumentException](Superstep.rddOf(fixed))
  }
}
