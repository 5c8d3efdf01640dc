package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class RouteSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.create("graft-route-test", master = "local[2]")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def withThreshold[T](value: String)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    spark.conf.set(key, value)
    try body finally spark.conf.set(key, saved)
  }

  test("Route broadcasts iff rows x schema row size fits autoBroadcastJoinThreshold") {
    val longs = spark.range(1).toDF("id")
    assert(longs.schema.defaultSize === 8)
    withThreshold("80") {
      assert(Route.broadcasts(longs, 9)) // 72 bytes: below
      assert(Route.broadcasts(longs, 10)) // 80 bytes: at
      assert(!Route.broadcasts(longs, 11)) // 88 bytes: above
    }
    withThreshold("-1") {
      assert(!Route.broadcasts(longs, 0))
      assert(!Route.broadcasts(longs, 1))
    }
    // Byte strings parse as Spark parses them: 1k = 1024 bytes, 64MB = 2^26.
    withThreshold("1k") {
      assert(Route.broadcasts(longs, 128))
      assert(!Route.broadcasts(longs, 129))
    }
    val keyed = spark.range(1).select(col("id"), lit("p").as("priority"))
    assert(keyed.schema.defaultSize === 28)
    withThreshold("64MB") {
      assert(Route.broadcasts(keyed, 2396745L))
      assert(!Route.broadcasts(keyed, 2396746L))
      assert(!Route.broadcasts(keyed, Long.MaxValue))
    }
  }

  test("Route.small hints exactly the frames that fit") {
    val longs = spark.range(1).toDF("id")
    def hinted(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collectFirst { case h: ResolvedHint => h }.nonEmpty
    withThreshold("80") {
      assert(hinted(Route.small(longs, 10)))
      assert(Route.small(longs, 11) eq longs)
    }
  }
}
