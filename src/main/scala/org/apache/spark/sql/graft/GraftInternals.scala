package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.rdd.{LocalRDDCheckpointData, RDD}
import org.apache.spark.sql.{classic, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.AttributeMap
import org.apache.spark.sql.catalyst.plans.logical.{ColumnStat, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, MapType, StringType}
import org.apache.spark.util.{HadoopFSUtils, SerializableConfiguration}

/** Small bridges to `private[spark]` runtime plumbing: executor-side file
  * maintenance, the parquet read that resolves its schema on the driver,
  * and the measured checkpoint behind every pin and its release. Lives
  * under `org.apache.spark.sql` so the standard third-party-extension
  * access rules apply (the VectorExpressions / RoaringAggregates packaging
  * rationale): nothing here touches internals beyond what a custom data
  * source would.
  */
object GraftInternals {

  /** `df` pinned with measured statistics: an eager local checkpoint, run
    * as one SQL execution the way `Dataset.localCheckpoint(eager = true)`
    * runs it, that measures the rows as they are stored. The job counts
    * them, and accumulators sum the bytes of each top-level string or
    * binary column and the elements of each top-level array or map column.
    * No aggregate is planned, so the pin job runs the plan a bare
    * checkpoint runs. The pin then plans with those numbers instead of the
    * estimate of the plan it replaced: `rowCount`, and `sizeInBytes` =
    * rows × Spark's own per-row size (`EstimationUtils.getSizePerRow`) with
    * each measured column at its observed average length (an array or map
    * element at its type's default size). Strings nested in arrays, maps or
    * structs keep Spark's default sizes.
    */
  def measuredCheckpoint(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val session = ds.sparkSession
    val qe = ds.queryExecution
    val sc = session.sparkContext
    val fields = ds.schema.fields
    val measured = fields.indices.filter(i => unitBytes(fields(i).dataType) > 0).toArray
    val kinds = measured.map(i => fields(i).dataType)
    val lengths = measured.map(_ => sc.longAccumulator)
    val (r, n) = SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      qe.executedPlan.resetMetrics()
      val rdd = qe.executedPlan.execute().mapPartitionsInternal(_.map { row =>
        var j = 0
        while (j < measured.length) {
          val i = measured(j)
          if (!row.isNullAt(i)) lengths(j).add(kinds(j) match {
            case _: StringType => row.getUTF8String(i).numBytes
            case BinaryType => row.getBinary(i).length
            case _: ArrayType => row.getArray(i).numElements
            case _ => row.getMap(i).numElements
          })
          j += 1
        }
        row.copy()
      })
      rdd.localCheckpoint()
      val stored = rdd.count()
      (LogicalRDD.fromDataset(rdd, ds, isStreaming = false), stored)
    }
    val observed = measured.indices.map { j =>
      val bytes = BigInt(lengths(j).value.longValue) * unitBytes(kinds(j))
      r.output(measured(j)) -> ColumnStat(avgLen = Some(if (n == 0) 0L else ((bytes + n - 1) / n).toLong))
    }
    val stats = Statistics(EstimationUtils.getSizePerRow(r.output, AttributeMap(observed)) * n,
      rowCount = Some(BigInt(n)))
    classic.Dataset.ofRows(session, new LogicalRDD(r.output, r.rdd, r.outputPartitioning,
      r.outputOrdering, r.isStreaming, r.stream)(session, Some(stats), Some(r.constraints)))
  }

  /** Frees `rdd`'s stored blocks now. A locally checkpointed RDD (a pin)
    * goes straight to `SparkContext.unpersistRDD`: `RDD.unpersist` would do
    * the same but warn, for every pin, that its truncated lineage cannot
    * be recomputed, which is what a release means. Any other RDD is
    * unpersisted, so a later read recomputes it instead of caching it
    * again behind the session's back.
    */
  def release(rdd: RDD[_]): Unit = rdd.checkpointData match {
    case Some(_: LocalRDDCheckpointData[_]) => rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
    case _ => rdd.unpersist(blocking = false)
  }

  /** Bytes per measured unit of a column whose length the pin measures
    * (a string or binary byte, an array or map element); 0 for the rest.
    */
  private def unitBytes(t: DataType): Int = t match {
    case _: StringType | BinaryType => 1
    case ArrayType(e, _) => e.defaultSize
    case MapType(k, v, _) => k.defaultSize + v.defaultSize
    case _ => 0
  }

  /** `spark.read.parquet(path)` without its schema-inference job. Without
    * `mergeSchema`, Spark infers a parquet schema from one footer, read in
    * a one-task job: a `_common_metadata` or `_metadata` summary if the
    * table has one, else the first data file by sorted path among the
    * leaves its file index lists. This takes the first of the same leaves
    * by sorted path (the same file wherever data file names sort after
    * `_`, as Spark's `part-` files and `k=v` directories do), reads its
    * footer here, converts it as the job does (Spark's schema from the
    * key-value metadata if present, else the parquet schema under the
    * same session settings) and reads with the result, so the plan is the
    * one inference gives and no job runs. Partition columns of a `k=v`
    * layout are still discovered from the paths. A missing path or a
    * directory with no data file fails with Spark's own error. Nothing is
    * memoized: every call reads the footer of the file as it is now.
    */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    readParquet(spark, path, spark.sessionState.conf.legacyParquetNanosAsLong)

  /** [[readParquet]] with the footer's TIMESTAMP(NANOS) columns read as
    * raw nanosecond longs when `nanosAsLong`, whatever the session's
    * `spark.sql.legacy.parquet.nanosAsLong`: the choice goes into the
    * schema the read is given, and a scan given `long` for such a column
    * needs no setting, so the session's configuration is not touched.
    */
  def readParquet(spark: SparkSession, path: String, nanosAsLong: Boolean): DataFrame = {
    val hconf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(hconf)
    if (!fs.exists(root)) throw QueryCompilationErrors.dataPathNotExistError(fs.makeQualified(root).toString)
    def leaves(s: FileStatus): Seq[FileStatus] =
      if (!s.isDirectory) Seq(s)
      else fs.listStatus(s.getPath).toSeq
        .filterNot(c => HadoopFSUtils.shouldFilterOutPathName(c.getPath.getName)).flatMap(leaves)
    val file = leaves(fs.getFileStatus(root)).minByOption(_.getPath.toString)
      .getOrElse(throw QueryCompilationErrors.dataSchemaNotSpecifiedError("Parquet"))
    val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, hconf), SKIP_ROW_GROUPS)
    val conf = spark.sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = nanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    spark.read.schema(ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer), converter))
      .parquet(path)
  }

  /** Recursively list every file under each directory in `dirs`,
    * DISTRIBUTED: directories fan out over tasks, each task walks its
    * subtrees with its own FileSystem client. Returns (path, mtimeMs)
    * rows — at 10⁶-file tables the listing is itself a dataset, and the
    * driver holds only the top-level directory names it was given.
    */
  def distributedListing(
      spark: org.apache.spark.sql.SparkSession,
      dirs: Seq[String]): Dataset[(String, Long)] = {
    val hconf = new SerializableConfiguration(spark.sessionState.newHadoopConf())
    import spark.implicits._
    spark.createDataset(dirs).repartition(math.max(1, math.min(dirs.size, 64)))
      .flatMap { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        val fs = p.getFileSystem(hconf.value)
        val out = scala.collection.mutable.ArrayBuffer[(String, Long)]()
        if (fs.exists(p)) {
          val it = fs.listFiles(p, true)
          while (it.hasNext) {
            val st = it.next()
            out += ((st.getPath.toUri.getPath, st.getModificationTime))
          }
        }
        out
      }
  }

  /** Delete every path in `paths` from its owning FileSystem,
    * DISTRIBUTED: each task opens its own client from the session's
    * Hadoop configuration (serialized via the same
    * [[SerializableConfiguration]] wrapper Spark's own datasources
    * ship to tasks) and reclaims its partition's files. The driver
    * never materializes the path list — only per-partition delete
    * counts come back. Returns the number of files actually deleted
    * (a path already gone counts zero, so replays are idempotent).
    */
  def distributedDelete(paths: Dataset[String]): Int = {
    val spark = paths.sparkSession
    val hconf = new SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    import spark.implicits._
    paths.mapPartitions { it =>
      var n = 0
      var fsCache: org.apache.hadoop.fs.FileSystem = null
      it.foreach { s =>
        val p = new org.apache.hadoop.fs.Path(s)
        if (fsCache == null) fsCache = p.getFileSystem(hconf.value)
        if (fsCache.delete(p, false)) n += 1
      }
      Iterator.single(n)
    }.collect().sum
  }
}
