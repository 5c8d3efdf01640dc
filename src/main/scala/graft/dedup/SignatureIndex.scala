package graft.dedup

import graft.Superstep

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftInternals

/** Persisted dedup index — the pay-at-ingest half of incremental
  * deduplication. [[Dedup.d7IncrementalDedup]] proves the asymmetric
  * incoming-vs-existing semantics but recomputes the existing side's
  * digests/signatures/grams from raw text on every batch; against a 100 TB
  * accumulated corpus that rescan IS the cost. This store writes one index
  * row per accepted document — 16-byte digest, 128-int MinHash signature,
  * packed-long gram codes — so classifying a new crawl batch touches the
  * (much smaller) index and never the historical text again. The reference
  * keeps exactly this shape in its store: a digest column checked before
  * fetch (`check_html_exists`, utils/db_utils.py:91) with the skip logic of
  * `filter_existing` (processor/data_processor.py:91-143).
  *
  * Layout: two stores under `path`.
  *   - `path/rows`: one parquet row per document (digest, signature, gram
  *     codes), append-only — the verify/exact side.
  *   - `path/bands`: the MATERIALIZED LSH band view (doc_id, band_id,
  *     band_hash), written as a table BUCKETED AND SORTED BY band_hash.
  *     The classify band join probes this layout in place: the index side
  *     of the join has NO exchange and no sort — only the (small) incoming
  *     batch shuffles, so per-batch classify cost is O(batch), not
  *     O(index). Band rows are 3 narrow columns, so the 32× row blow-up
  *     costs far less than re-deriving and re-shuffling bands per batch.
  *     Bucket registration survives sessions the same way
  *     [[graft.sources.Bucketing.ensureBucketed]] does: bucket files keep
  *     their bucket-id naming, so a fresh session re-creates the table
  *     with CREATE TABLE ... CLUSTERED BY ... LOCATION and stays
  *     bucket-aware.
  */
object SignatureIndex {

  private val NumHashes = 128
  private val Bands = 32
  private val RowsPerBand = NumHashes / Bands

  /** Bucket count of the persisted band layout — sized for local[32]
    * tests; on a cluster set it so one bucket of bands fits an executor
    * core's scan budget (the usual bucketed-fact sizing rule).
    */
  private val BandBuckets = 32

  private def rowsPath(path: String): String = s"$path/rows"
  private def bandsPath(path: String): String = s"$path/bands"

  /** Session-catalog name for the band table at `path` — content-derived
    * so two indexes never collide and re-registration is idempotent.
    */
  private def bandTableName(path: String): String =
    "graft_sigidx_bands_" + java.security.MessageDigest.getInstance("MD5")
      .digest(path.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)

  /** One index row per document: digest always; signature + gram codes
    * only where the text clears the shingle width (shorter docs can only
    * ever be exact dups — same rule as every d-family operator).
    */
  def buildRows(docs: DataFrame): DataFrame = {
    val longEnough = length(col("text")) >= 5
    docs.select(
      col("doc_id"),
      md5(col("text")).as("text_hash"),
      when(longEnough,
        org.apache.spark.sql.graft.VectorExpressions
          .minhashSignature(col("text"), 5, NumHashes)).as("sig"),
      when(longEnough, Dedup.gramCodes(col("text"))).as("grams"))
  }

  private def bandsOf(withSig: DataFrame, idAs: String): DataFrame = withSig
    .filter(col("sig").isNotNull)
    .select(col("doc_id").as(idAs), explode(sequence(lit(0), lit(Bands - 1))).as("band_id"), col("sig"))
    .select(col(idAs), col("band_id"),
      hash(col("band_id"), slice(col("sig"), col("band_id") * RowsPerBand + 1, lit(RowsPerBand)))
        .as("band_hash"))

  private def writeBands(spark: SparkSession, rows: DataFrame, path: String, mode: String): Unit =
    bandsOf(rows, "doc_id")
      .write
      .mode(mode)
      .format("parquet")
      .bucketBy(BandBuckets, "band_hash")
      .sortBy("band_hash")
      .option("path", bandsPath(path))
      .saveAsTable(bandTableName(path))

  /** The bucketed band view, re-registered in this session's catalog if a
    * previous session wrote it (bucket-id file naming makes the recreated
    * table fully bucket-aware).
    */
  def bandTable(spark: SparkSession, path: String): DataFrame = {
    val name = bandTableName(path)
    if (!spark.catalog.tableExists(name)) {
      spark.sql(
        s"""CREATE TABLE $name (doc_id BIGINT, band_id INT, band_hash INT)
           |USING PARQUET
           |CLUSTERED BY (band_hash) SORTED BY (band_hash) INTO $BandBuckets BUCKETS
           |LOCATION '${new java.io.File(bandsPath(path)).toURI}'""".stripMargin)
    }
    spark.table(name)
  }

  /** Create/replace the index from an initial corpus. */
  def write(docs: DataFrame, path: String): Unit = {
    val spark = docs.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS ${bandTableName(path)}")
    // A location left by an earlier index would fail the band CTAS
    // (non-empty-location guard), so clear it first.
    val fs = new org.apache.hadoop.fs.Path(bandsPath(path))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(bandsPath(path)), true)
    buildRows(docs).write.mode("overwrite").parquet(rowsPath(path))
    // Re-read the stored rows so the band layout is derived from exactly
    // what the verify path will read (and the minhash isn't computed twice
    // from raw text).
    writeBands(spark, GraftInternals.readParquet(spark, rowsPath(path)), path, "overwrite")
  }

  /** Append newly-accepted documents (call with the batch's `new` docs
    * after classification; parquet append on both stores keeps this an
    * O(batch) write — bucketed append adds per-bucket files, it never
    * rewrites the layout).
    */
  def append(docs: DataFrame, path: String): Unit = {
    val spark = docs.sparkSession
    val rows = Superstep.pin(buildRows(docs))
    rows.write.mode("append").parquet(rowsPath(path))
    bandTable(spark, path) // ensure registered before bucketed append
    writeBands(spark, rows, path, "append")
  }

  /** Classify a new batch against the stored corpus — same output schema
    * and semantics as [[Dedup.d7IncrementalDedup]] (doc_id, status ∈
    * exact|near|new, dup_of = min matching corpus id), but every
    * existing-side artifact comes from the index: digest equijoin for
    * exact, the persisted bucketed band layout for candidates (no
    * exchange, no sort on the index side), stored gram codes for the
    * threshold-exact Jaccard verify. The historical TEXT column is never
    * read.
    *
    * The band join keys on band_hash alone (band_id is already folded
    * into the hash); a cross-band hash collision can only add a candidate
    * pair, and every candidate passes the exact Jaccard verify, so the
    * result set is unchanged — the bit-equality spec against d7 holds.
    */
  def classify(
      spark: SparkSession,
      incoming: DataFrame,
      path: String,
      threshold: Double = 0.8): DataFrame = {
    val nPart = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val index = GraftInternals.readParquet(spark, rowsPath(path))
    // Probed three times: exact, bands, verify.
    val inRows = Superstep.pin(buildRows(incoming.select(col("doc_id"), col("text")))
      .repartition(nPart))
    val exact = inRows.select(col("doc_id"), col("text_hash"))
      .join(index.select(col("text_hash"), col("doc_id").as("ex_id")), Seq("text_hash"))
      .groupBy("doc_id")
      .agg(min(col("ex_id")).as("exact_dup_of"))
    val candidates = bandsOf(inRows, "in_id")
      .join(bandTable(spark, path).select(col("doc_id").as("ex_id"), col("band_hash")),
        Seq("band_hash"))
      .select("in_id", "ex_id")
      .distinct()
      .repartition(nPart, col("in_id"), col("ex_id"))
    val n1 = size(col("g1")).cast("double")
    val n2 = size(col("g2")).cast("double")
    val inter = org.apache.spark.sql.graft.VectorExpressions
      .sortedIntersectCountLong(col("g1"), col("g2")).cast("double")
    val near = candidates
      .join(inRows.select(col("doc_id").as("in_id"), col("grams").as("g1")), Seq("in_id"))
      .join(index.select(col("doc_id").as("ex_id"), col("grams").as("g2")), Seq("ex_id"))
      .filter(least(n1, n2) / greatest(n1, n2) >= threshold)
      .filter(inter / (n1 + n2 - inter) >= threshold)
      .groupBy("in_id")
      .agg(min(col("ex_id")).as("near_dup_of"))
      .withColumnRenamed("in_id", "doc_id")
    incoming.select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        when(col("exact_dup_of").isNotNull, lit("exact"))
          .when(col("near_dup_of").isNotNull, lit("near"))
          .otherwise(lit("new")).as("status"),
        coalesce(col("exact_dup_of"), col("near_dup_of")).as("dup_of"))
  }
}
