package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.graft.GraftInternals

/** Central loaders for the driver-generated star schema.
  *
  * One place for reads means one place for column pruning and (on a real
  * cluster) for switching the scan to a bucketed / partitioned layout
  * without touching operators. Every table goes through one read path,
  * [[GraftInternals.readParquet]]: the schema comes from the table file's
  * parquet footer, read on the driver under the session's settings, so
  * resolving a table (or `createViews()`) starts no Spark job. The footer
  * is read on every access, so a rewritten file is never read with a
  * stale schema.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def load(name: String): DataFrame =
    GraftInternals.readParquet(spark, s"$dir/$name.parquet")

  def region: DataFrame     = load("region")
  def nation: DataFrame     = load("nation")
  def customer: DataFrame   = load("customer")
  def supplier: DataFrame   = load("supplier")
  def part: DataFrame       = load("part")
  def orders: DataFrame     = load("orders")
  def lineitem: DataFrame   = load("lineitem")
  /** `ts` is normalized to a bigint of NANOSECONDS since epoch (UTC)
    * regardless of how the parquet writer encoded it — exact integer
    * arithmetic downstream, no timestamp-precision drift between
    * generator versions:
    *  - TIMESTAMP(NANOS): Spark 4 refuses to map it to its microsecond
    *    TimestampType, so the footer is converted with NANOS read as a raw
    *    nanosecond long — full precision, no cast, and the session's
    *    `spark.sql.legacy.parquet.nanosAsLong` left as it is.
    *  - TIMESTAMP(MICROS/MILLIS): arrives as TimestampType and is widened
    *    to nanos (`unix_micros * 1000`) — a metadata-only projection on
    *    top of the scan, exact for any sub-nano-free source.
    */
  def events: DataFrame = {
    import org.apache.spark.sql.functions.{col, unix_micros}
    val df = GraftInternals.readParquet(spark, s"$dir/events.parquet", nanosAsLong = true)
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df
      // TIMESTAMP_NTZ (parquet isAdjustedToUTC=false) needs a cast before
      // unix_micros, and that cast interprets the wall-clock value in the
      // SESSION timezone — only the identity when it is UTC (GraftSession
      // pins it). Any other zone would silently shift every ts, so fail
      // loudly instead.
      case _ =>
        val tz = spark.conf.get("spark.sql.session.timeZone")
        // Accept any zero-offset fixed zone (UTC, Etc/UTC, GMT, +00:00) —
        // the cast is the identity under all of them.
        val zoneOk = scala.util.Try {
          val rules = java.time.ZoneId.of(tz).getRules
          rules.isFixedOffset && rules.getOffset(java.time.Instant.EPOCH).getTotalSeconds == 0
        }.getOrElse(false)
        require(zoneOk,
          s"Tables.events: TIMESTAMP_NTZ source requires a UTC session timezone " +
            s"(got '$tz') — use GraftSession.create, or set spark.sql.session.timeZone=UTC")
        df.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * 1000L)
    }
  }
  def documents: DataFrame  = load("documents")
  def embeddings: DataFrame = load("embeddings")

  /** Register every table as a temp view so the whole engine is usable
    * from pure `spark.sql` — the surface a SQL-first user (or a BI tool)
    * actually drives, with the graft_* functions available through
    * GraftExtensions. Views are metadata only; pruning/pushdown behave
    * exactly as through the DataFrame loaders.
    */
  def createViews(): Unit = {
    region.createOrReplaceTempView("region")
    nation.createOrReplaceTempView("nation")
    customer.createOrReplaceTempView("customer")
    supplier.createOrReplaceTempView("supplier")
    part.createOrReplaceTempView("part")
    orders.createOrReplaceTempView("orders")
    lineitem.createOrReplaceTempView("lineitem")
    events.createOrReplaceTempView("events")
    documents.createOrReplaceTempView("documents")
    embeddings.createOrReplaceTempView("embeddings")
  }

  /** Typed views — metadata-only `.as[T]` casts over the same scans, for
    * operators that want compile-time row shapes (`groupByKey`,
    * `mapGroups`, `mapPartitions`).
    */
  object typed {
    import spark.implicits._
    import Types._
    def region: Dataset[Region]         = Tables.this.region.as[Region]
    def nation: Dataset[Nation]         = Tables.this.nation.as[Nation]
    def customer: Dataset[Customer]     = Tables.this.customer.as[Customer]
    def supplier: Dataset[Supplier]     = Tables.this.supplier.as[Supplier]
    def part: Dataset[Part]             = Tables.this.part.as[Part]
    def orders: Dataset[Order]          = Tables.this.orders.as[Order]
    def lineitem: Dataset[Lineitem]     = Tables.this.lineitem.as[Lineitem]
    def documents: Dataset[Document]    = Tables.this.documents.as[Document]
    def embeddings: Dataset[Embedding]  = Tables.this.embeddings.as[Embedding]
    def events: Dataset[Event]          = Tables.this.events.as[Event]
  }
}
