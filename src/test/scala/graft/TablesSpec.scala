package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftInternals
import org.apache.spark.sql.types.{LongType, MetadataBuilder}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Input tables resolve their schema from the parquet footer on the
  * driver: the schema Spark's inference gives, and no Spark job.
  */
class TablesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tmp = java.nio.file.Files.createTempDirectory("graft-tables").toString
  private val dirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")

  override def beforeAll(): Unit = {
    spark = GraftSession.create("graft-tables-test", master = "local[2]")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private def frames(t: Tables): Seq[(String, DataFrame)] =
    Seq("region" -> t.region, "nation" -> t.nation, "customer" -> t.customer, "supplier" -> t.supplier,
      "part" -> t.part, "orders" -> t.orders, "lineitem" -> t.lineitem, "events" -> t.events,
      "documents" -> t.documents, "embeddings" -> t.embeddings)

  test("every table's schema is the one spark.read.parquet infers, events included") {
    for (dir <- dirs) {
      val t = Tables(spark, dir)
      for ((name, df) <- frames(t) if name != "events") {
        val inferred = spark.read.parquet(s"$dir/$name.parquet")
        assert(df.schema === inferred.schema, s"$dir/$name")
        assert(df.queryExecution.optimizedPlan.sameResult(inferred.queryExecution.optimizedPlan), s"$dir/$name")
      }
      // Tables.events reads NANOS as long, so this infers under that setting.
      val events = t.events
      val path = s"$dir/events.parquet"
      val inferred = TestConf.withConf(spark, nanosAsLong -> "true")(spark.read.parquet(path))
      assert(GraftInternals.readParquet(spark, path, nanosAsLong = true).schema === inferred.schema, path)
      assert(events.schema("ts").dataType === LongType)
      assert(events.schema.filterNot(_.name == "ts") === inferred.schema.filterNot(_.name == "ts"))
    }
  }

  test("resolving all ten tables and createViews() starts no Spark job") {
    for (dir <- dirs) {
      val jobs = SparkEvents.jobs(spark) {
        val t = Tables(spark, dir)
        frames(t).foreach(_._2.schema)
        t.createViews()
      }
      assert(jobs === 0, s"$jobs jobs resolving the tables at $dir")
    }
  }

  test("a TIMESTAMP(NANOS) events file reads ts as the raw nanosecond long") {
    val file = s"$tmp/nanos/events.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val conf = new Configuration()
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(new Path(file), conf))
      .withType(schema).withConf(conf).build()
    val values = Seq(0L, 1700000000123456789L, 1700000000123456790L)
    val groups = new SimpleGroupFactory(schema)
    try values.foreach(v => writer.write(groups.newGroup().append("ts", v)))
    finally writer.close()
    val before = spark.conf.getOption(nanosAsLong)
    val events = Tables(spark, s"$tmp/nanos").events
    val inferred = TestConf.withConf(spark, nanosAsLong -> "true")(spark.read.parquet(file))
    assert(events.schema === inferred.schema)
    assert(events.schema("ts").dataType === LongType)
    assert(events.collect().map(_.getLong(0)).sorted.toSeq === values)
    // Reading events leaves the session's setting as it was, so a plain
    // read of the same file still gets Spark's own refusal.
    assert(spark.conf.getOption(nanosAsLong) === before)
    val e = intercept[Exception](spark.read.parquet(file))
    assert(e.getMessage.contains("TIMESTAMP(NANOS"), e.getMessage)
  }

  test("a Spark-written directory: part files, _SUCCESS, field metadata and k=v partitions") {
    val flat = s"$tmp/parts"
    val comment = new MetadataBuilder().putString("comment", "id as text").build()
    spark.range(0, 200, 1, 4)
      .select(col("id"), col("id").cast("string").as("s", comment), (col("id") % 3).as("day"))
      .write.parquet(flat)
    val names = new java.io.File(flat).list().toSeq
    assert(names.contains("_SUCCESS") && names.count(_.endsWith(".parquet")) === 4, names)
    val partitioned = s"$tmp/days"
    spark.read.parquet(flat).write.partitionBy("day").parquet(partitioned)
    for (path <- Seq(flat, partitioned)) {
      var df: DataFrame = null
      assert(SparkEvents.jobs(spark) { df = GraftInternals.readParquet(spark, path) } === 0, path)
      val inferred = spark.read.parquet(path)
      assert(df.schema === inferred.schema, path)
      assert(df.collect().map(_.toString).sorted.toSeq === inferred.collect().map(_.toString).sorted.toSeq)
    }
    assert(GraftInternals.readParquet(spark, flat).schema("s").metadata === comment)
  }

  test("an empty directory or a missing path fails with Spark's own error") {
    val empty = new java.io.File(s"$tmp/empty")
    assert(empty.mkdirs())
    for (path <- Seq(empty.toString, s"$tmp/missing")) {
      val ours = intercept[AnalysisException](GraftInternals.readParquet(spark, path))
      val spark_ = intercept[AnalysisException](spark.read.parquet(path))
      assert(ours.getCondition === spark_.getCondition, path)
      assert(ours.getMessage === spark_.getMessage, path)
    }
    assert(intercept[AnalysisException](GraftInternals.readParquet(spark, empty.toString))
      .getMessage.contains("Unable to infer schema for Parquet"))
  }
}
