package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftInternals
import graft.{Route, Superstep}

/** Persisted INVERTED INDEX — the pay-at-ingest half of lexical
  * retrieval, completing the persisted-index family
  * ([[graft.dedup.SignatureIndex]] for near-dup signatures,
  * [[graft.similarity.VectorIndex]] for IVF cells, this for term
  * postings). [[Retrieval.s8Bm25TopK]] proves the scoring semantics but
  * re-tokenizes the corpus on every run; at 100 TB the corpus explode IS
  * the cost, and it only changes when the corpus does. This store
  * tokenizes once at build time and persists
  *
  *   - `path/postings`: (token, doc_id, tf), written BUCKETED AND SORTED
  *     BY token — per-term aggregates (df, collection frequency) ride
  *     the bucket layout exchange-free, and a bounded query term set
  *     prunes buckets at scan time (literal `isin` filter before the
  *     join, so the scan reads only the buckets holding query terms);
  *   - `path/doclens`: (doc_id, dl) — the BM25 length normalizer;
  *   - `path/meta.json`: bucket count + the corpus scalars (n_docs,
  *     total_tokens) so the query path needs NO corpus access at all.
  *
  * The query path reproduces s8's exact fixed-point integer BM25 from
  * the stored artifacts alone: bucket-pruned postings scan → broadcast
  * query-term join → doc-length join → integer Okapi scoring →
  * WindowGroupLimit top-k. Bit-identical to the recompute-everything
  * form (spec-pinned row-for-row), which is what makes the persisted
  * artifact trustworthy: the index is a LAYOUT change, never a semantic
  * one.
  *
  * Append contract: a new document batch tokenizes O(batch), appends
  * into the bucketed postings/doclens layouts, and updates the stored
  * corpus scalars; df and collection frequency are DERIVED from postings
  * at query time, so they are consistent by construction and
  * append-then-query equals rebuild-then-query exactly (spec-pinned).
  */
object TermIndex {

  private def postingsPath(path: String): String = s"$path/postings"
  private def doclensPath(path: String): String = s"$path/doclens"

  private def postingsTableName(path: String): String =
    "graft_termidx_postings_" + java.security.MessageDigest.getInstance("MD5")
      .digest(path.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)

  private def readMeta(spark: SparkSession, path: String): (Int, Long, Long) = {
    val metaPath = new org.apache.hadoop.fs.Path(s"$path/meta.json")
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(metaPath)
    val meta = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    def field(name: String): Long = s""""$name"\\s*:\\s*(\\d+)""".r
      .findFirstMatchIn(meta).map(_.group(1).toLong)
      .getOrElse(throw new IllegalStateException(s"no $name in $metaPath: $meta"))
    (field("buckets").toInt, field("n_docs"), field("total_tokens"))
  }

  private def writeMeta(
      spark: SparkSession, path: String, buckets: Int, nDocs: Long, totalTokens: Long): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$path/meta.json"), true)
    out.write(
      s"""{"buckets":$buckets,"n_docs":$nDocs,"total_tokens":$totalTokens}""".getBytes("UTF-8"))
    out.close()
  }

  /** s8's tokenization, shared verbatim by build and append: whitespace
    * split, ≥5-char tokens.
    */
  private def tokens(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    .filter(length(col("token")) >= 5)

  /** Tokenize `docs` ((doc_id, text) rows) once and persist the bucketed
    * postings + doc lengths + corpus scalars. `buckets` sizes the probe
    * parallelism — on a cluster set it so one bucket's postings fit a
    * core's scan budget.
    */
  def build(spark: SparkSession, docs: DataFrame, path: String, buckets: Int = 8): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${postingsTableName(path)}")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val tok = tokens(docs)
    tok.groupBy(col("token"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "token").sortBy("token")
      .option("path", postingsPath(path))
      .saveAsTable(postingsTableName(path))
    val dl = Superstep.pin(tok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl")))
    dl.write.mode("overwrite").parquet(doclensPath(path))
    val totalTokens = dl.agg(coalesce(sum(col("dl")), lit(0L))).head().getLong(0)
    writeMeta(spark, path, buckets, docs.count(), totalTokens)
  }

  /** Append a new document batch: O(batch) tokenize, bucketed append,
    * scalar update. df/cf are derived from postings at query time, so no
    * stored statistic can go stale.
    *
    * Precondition (ENFORCED): the batch's doc_ids are disjoint from the
    * indexed corpus. A re-appended doc_id would silently corrupt tf/df
    * and duplicate its doclens row (the doc-length join then multiplies
    * result rows), so the batch is anti-joined against the stored
    * doclens — a batch-sized semi-check against a doc-count-sized table,
    * O(batch) like the append itself — and a violation fails loudly.
    */
  def append(spark: SparkSession, docs: DataFrame, path: String): Unit = {
    postingsTable(spark, path) // ensure registered before bucketed append
    val (buckets, nDocs, totalTokens) = readMeta(spark, path)
    val dup = docs.select(col("doc_id"))
      .join(GraftInternals.readParquet(spark, doclensPath(path)), Seq("doc_id"), "left_semi")
      .limit(1).collect()
    require(dup.isEmpty,
      s"TermIndex.append: doc_id ${dup.head.getLong(0)} is already indexed at " +
        s"$path — appends must be disjoint (delete+rebuild or dedup the batch first)")
    val tok = tokens(docs)
    tok.groupBy(col("token"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
      .write.mode("append").format("parquet")
      .bucketBy(buckets, "token").sortBy("token")
      .option("path", postingsPath(path))
      .saveAsTable(postingsTableName(path))
    val dl = Superstep.pin(tok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl")))
    dl.write.mode("append").parquet(doclensPath(path))
    val batchTokens = dl.agg(coalesce(sum(col("dl")), lit(0L))).head().getLong(0)
    writeMeta(spark, path, buckets, nDocs + docs.count(), totalTokens + batchTokens)
  }

  /** The bucketed postings, re-registered in this session's catalog if a
    * previous session built them.
    */
  def postingsTable(spark: SparkSession, path: String): DataFrame = {
    val name = postingsTableName(path)
    if (!spark.catalog.tableExists(name)) {
      val (buckets, _, _) = readMeta(spark, path)
      spark.sql(
        s"""CREATE TABLE $name (token STRING, doc_id BIGINT, tf BIGINT)
           |USING PARQUET
           |CLUSTERED BY (token) SORTED BY (token) INTO $buckets BUCKETS
           |LOCATION '${new java.io.File(postingsPath(path)).toURI}'""".stripMargin)
    }
    spark.table(name)
  }

  /** Top-k BM25 per query over the PERSISTED artifacts: identical output
    * contract and integer scoring as [[Retrieval.s8Bm25TopK]], but the
    * corpus is never touched — the postings scan is bucket-pruned to the
    * query terms (a literal `isin` filter; query term sets are bounded
    * by contract, the s1/s8 broadcast-queries posture), df comes from a
    * per-term aggregate riding the bucket layout, and the corpus
    * scalars come from meta.
    */
  def query(
      spark: SparkSession,
      queryTerms: DataFrame, // (qid, token)
      path: String,
      k: Int = 5): DataFrame = {
    val (_, nDocs, totalTokens) = readMeta(spark, path)
    val avgdlMilli = totalTokens * 1000L / math.max(nDocs, 1L)
    val queryTokens = queryTerms.select("token").collect().map(_.getString(0))
    val terms = queryTokens.distinct
    val posts = postingsTable(spark, path).filter(col("token").isin(terms.toSeq: _*))
    val dfs = posts.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val dl = GraftInternals.readParquet(spark, doclensPath(path))
    posts
      .join(Route.small(queryTerms.join(dfs, Seq("token")), queryTokens.length), Seq("token"))
      .join(dl, Seq("doc_id"))
      .withColumn("idf_milli",
        expr(s"(2 * (${nDocs}L - df) + 1) * 1000 DIV (2 * df + 1)"))
      .withColumn("r_milli", expr(s"dl * 1000000 DIV ${avgdlMilli}L"))
      .withColumn("tfpart_milli",
        expr("22000000 * tf DIV (10000 * tf + 3000 + 9 * r_milli)"))
      .withColumn("term_score", expr("idf_milli * tfpart_milli DIV 1000"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("term_score")).as("score_micro"),
        count(lit(1)).as("n_terms"))
      .withColumn("rnk",
        row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("score_micro").desc, col("doc_id"))).cast("long"))
      .filter(col("rnk") <= k)
      .orderBy("qid", "rnk")
  }

  /** s8's deterministic query synthesis, derived from the INDEX instead
    * of the corpus: the 2·Q most frequent ≥5-char terms by collection
    * frequency (sum of tf over postings), paired in (cnt DESC, token)
    * order — identical to [[Retrieval.s8Bm25TopK]]'s synthesis because
    * collection frequency is a pure function of the postings.
    */
  def synthesizedQueries(spark: SparkSession, path: String, nQueries: Int = 4): DataFrame = {
    val cf = postingsTable(spark, path)
      .groupBy(col("token")).agg(sum(col("tf")).as("cnt"))
    cf.orderBy(col("cnt").desc, col("token")).limit(2 * nQueries)
      .withColumn("rn",
        row_number().over(Window.orderBy(col("cnt").desc, col("token"))))
      .select(expr("CAST((rn - 1) DIV 2 AS BIGINT)").as("qid"), col("token"))
  }

  /** s11: s8's question answered from the persisted index — build (the
    * pay-once ingest, part of the measured operator: an index whose
    * build is never measured isn't an ingest story) + bucket-pruned
    * query. Output contract identical to s8, driver-checked against the
    * same oracle.
    */
  def s11Bm25Indexed(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val docs = graft.Tables(spark, dir).documents.select(col("doc_id"), col("text"))
    val path = f"/tmp/graft_termidx/${spark.sparkContext.applicationId}/" +
      f"${dir.hashCode}%08x/idx"
    build(spark, docs, path)
    query(spark, synthesizedQueries(spark, path), path, k)
  }
}
