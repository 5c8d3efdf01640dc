package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class RouteSpec extends AnyFunSuite with BeforeAndAfterAll with AdaptiveSparkPlanHelper {

  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = GraftSession.create("graft-route-test", master = "local[2]")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def withThreshold[T](value: String)(body: => T): T =
    TestConf.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> value)(body)

  test("Route broadcasts iff rows x schema row size fits autoBroadcastJoinThreshold") {
    // The row size is Spark's own per-row estimate, the one a pin's
    // statistics use: 8 bytes of row overhead plus each column's default size.
    val longs = spark.range(1).toDF("id")
    withThreshold("160") {
      assert(Route.broadcasts(longs, 9)) // 144 bytes: below
      assert(Route.broadcasts(longs, 10)) // 160 bytes: at
      assert(!Route.broadcasts(longs, 11)) // 176 bytes: above
    }
    withThreshold("-1") {
      assert(!Route.broadcasts(longs, 0))
      assert(!Route.broadcasts(longs, 1))
    }
    // Byte strings parse as Spark parses them: 1k = 1024 bytes, 64MB = 2^26.
    withThreshold("1k") {
      assert(Route.broadcasts(longs, 64))
      assert(!Route.broadcasts(longs, 65))
    }
    val keyed = spark.range(1).select(col("id"), lit("p").as("priority"))
    withThreshold("64MB") {
      assert(Route.broadcasts(keyed, 1864135L)) // 36 bytes a row
      assert(!Route.broadcasts(keyed, 1864136L))
      assert(!Route.broadcasts(keyed, Long.MaxValue))
    }
  }

  test("Route.small hints exactly the frames that fit") {
    val longs = spark.range(1).toDF("id")
    def hinted(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collectFirst { case h: ResolvedHint => h }.nonEmpty
    withThreshold("160") {
      assert(hinted(Route.small(longs, 10)))
      assert(Route.small(longs, 11) eq longs)
    }
  }

  test("g1, s1 and t24 broadcast at the default threshold, never at -1, with the same rows") {
    // One key per former hint family: a scanned dimension (g1's nation),
    // a bounded query set (s1) and a one-row total (t24). Each side is
    // sized by the planner or by Route, so the one setting moves them all.
    // Read after the rows are collected: the final adaptive plan,
    // query stages included.
    def broadcastJoins(df: DataFrame) = collectWithSubqueries(df.queryExecution.executedPlan) {
      case j: BroadcastHashJoinExec => j
      case j: BroadcastNestedLoopJoinExec => j
    }
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val ops = Seq[(String, (SparkSession, String) => DataFrame)](
      "g1" -> ((s, d) => operators.GraphOps.g1SameGroupPairs(s, d)),
      "s1" -> ((s, d) => similarity.Ann.s1CosineTopK(s, d)),
      "t24" -> ((s, d) => functions.TextFuncs.t24DriftTerms(s, d)))
    ops.foreach { case (name, op) =>
      val routed = op(spark, dir)
      val expected = rows(routed)
      assert(expected.nonEmpty, s"$name returned no rows")
      assert(broadcastJoins(routed).nonEmpty, s"$name should broadcast under the default threshold")
      withThreshold("-1") {
        val shuffled = op(spark, dir)
        assert(rows(shuffled) === expected, s"$name changed its rows at -1")
        val left = broadcastJoins(shuffled)
        assert(left.isEmpty, s"$name still broadcasts at -1:\n${left.mkString("\n")}")
      }
    }
  }

  test("no broadcast( hint in src/main/scala outside Route.scala") {
    // A bare hint forces a broadcast whatever the threshold says; Route
    // sizes a derived side from a count, the planner sizes the rest.
    val hint = """\bbroadcast\(|hint\("broadcast""".r
    val offenders = MainSources.lines.filter(l =>
      l.fileName != "Route.scala" && hint.findFirstIn(l.text).nonEmpty)
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
