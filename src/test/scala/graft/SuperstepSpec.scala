package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class SuperstepSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.create("graft-superstep-test", master = "local[4]")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

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

  test("no Dataset.unpersist outside Frequent, GraftSession.releaseCaches and Superstep.release") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    // `.unpersist()` on a localCheckpoint'ed frame frees nothing; a pin's
    // blocks go through Superstep.release. The other allowed sites
    // unpersist a real `persist` (Frequent) and the session's RDDs.
    val allowed = Set("Frequent.scala" -> "*", "GraftSession.scala" -> "releaseCaches",
      "Superstep.scala" -> "release")
    val memberDef = """^  (?:private\S* )?def (\w+)""".r
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50)
    val offenders = files.flatMap { f =>
      val name = f.getFileName.toString
      var member = ""
      Files.readAllLines(f).asScala.flatMap { l =>
        memberDef.findPrefixMatchOf(l).foreach(m => member = m.group(1))
        if (l.contains(".unpersist(") && !allowed(name -> "*") && !allowed(name -> member))
          Some(s"$f ($member): ${l.trim}")
        else None
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("iterate pins on the cadence, stops on zero progress and releases what it pinned") {
    val init = Superstep.pin(spark.range(0, 20).select(col("id").as("v")))
    val before = persistentIds
    // Halve every value each round: the progress flag marks values that
    // still move, so the loop ends on the first pinned round with none.
    val (out, converged) = Superstep.iterate(init, 1 to 100, cadence = 2,
        progress = Some("moved")) { (s, _) =>
      s.select((col("v") / 2).cast("long").as("v"), (col("v") > 0).as("moved"))
    }
    assert(converged)
    assert(out.columns.toSeq === Seq("v"))
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
