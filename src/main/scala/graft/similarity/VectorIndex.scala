package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.GraftInternals
import org.apache.spark.sql.functions._

/** Persisted IVF index — the pay-at-ingest half of similarity search,
  * [[graft.dedup.SignatureIndex]]'s shape applied to ANN. [[Ann
  * .s3CentroidIvfTrained]] proves the trained-centroid/multi-probe
  * semantics but re-trains and re-assigns the whole corpus on every run;
  * at 100 TB the assignment scan IS the cost, and it only changes when
  * the corpus does. This store trains once at build time and persists
  *
  *   - `path/centroids`: the nCells × dim centroid matrix (tiny parquet),
  *   - `path/cells`: every corpus vector with its argmax cell, written
  *     BUCKETED AND SORTED BY cell.
  *
  * A query batch then only pays: broadcast the centroid matrix, rank its
  * own nProbe cells, and probe the bucketed layout in place — the index
  * side of the probe join has NO exchange (typically the small query side
  * broadcasts, and the cell scan is not even shuffled then). Bucket
  * registration survives sessions the same CREATE TABLE ... CLUSTERED BY
  * ... LOCATION way as the dedup index.
  *
  * Reference analog: the precomputed embedding store a retrieval pipeline
  * maintains next to its corpus, re-expressed in Spark's storage layer.
  */
object VectorIndex {

  private def centroidsPath(path: String): String = s"$path/centroids"
  private def cellsPath(path: String): String = s"$path/cells"

  private def cellTableName(path: String): String =
    "graft_vecidx_cells_" + java.security.MessageDigest.getInstance("MD5")
      .digest(path.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)

  private def readBuckets(spark: SparkSession, path: String): Int = {
    val metaPath = new org.apache.hadoop.fs.Path(s"$path/meta.json")
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(metaPath)
    val meta = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    """"buckets"\s*:\s*(\d+)""".r.findFirstMatchIn(meta)
      .map(_.group(1).toInt)
      .getOrElse(throw new IllegalStateException(s"no bucket count in $metaPath: $meta"))
  }

  /** The argmax-cell assignment of a vector batch against a centroid
    * matrix, which both [[build]] and [[append]] write through (and the
    * spec replays), so the incremental path cannot drift from the bulk one.
    */
  private[graft] def assignCells(embeddings: DataFrame, cdf: DataFrame): DataFrame =
    Search.inCell(Search.cellRanks(embeddings, "vec_id", "embedding", cdf))

  /** Train deterministic spherical k-means centroids on `embeddings`
    * ((vec_id, embedding) rows) and persist centroids + the bucketed
    * cell assignment. `buckets` sizes the probe parallelism — on a
    * cluster set it so one bucket's vectors fit a core's scan budget.
    */
  def build(
      spark: SparkSession,
      embeddings: DataFrame,
      path: String,
      nCells: Int = 8,
      iters: Int = 3,
      buckets: Int = 8): Unit = {
    Ann.trainedCentroidsOf(embeddings, nCells, iters)
      .write.mode("overwrite").parquet(centroidsPath(path))
    spark.sql(s"DROP TABLE IF EXISTS ${cellTableName(path)}")
    val fs = new org.apache.hadoop.fs.Path(cellsPath(path))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(cellsPath(path)), true)
    // Assign from the STORED centroids so the index is internally
    // consistent with what query() will read back.
    assignCells(embeddings, GraftInternals.readParquet(spark, centroidsPath(path)))
      .write
      .mode("overwrite")
      .format("parquet")
      .bucketBy(buckets, "cell")
      .sortBy("cell")
      .option("path", cellsPath(path))
      .saveAsTable(cellTableName(path))
    // Bucket count recorded next to the data: re-registration must use
    // the exact layout count (inferring it from file names breaks when a
    // bucket is empty and writes no file).
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$path/meta.json"), true)
    out.write(s"""{"buckets":$buckets}""".getBytes("UTF-8"))
    out.close()
  }

  /** The stored centroid matrix. */
  def centroids(spark: SparkSession, path: String): DataFrame =
    GraftInternals.readParquet(spark, centroidsPath(path))

  /** Append a new vector batch: assign against the STORED centroids (the
    * quantizer is fixed at build time — the standard IVF ingest contract;
    * re-train with [[build]] when drift warrants it) and bucketed-append
    * into the cell layout, O(batch) like every graft ingest path.
    *
    * Precondition (ENFORCED, the TermIndex.append contract): the batch's
    * vec_ids are disjoint from the indexed corpus. A re-appended vec_id
    * would silently duplicate its cell row — every probe would then rank
    * it twice and k-th place would be wrong by one — so the batch is
    * semi-checked against the stored cells (a batch-sized probe, O(batch)
    * like the append itself) and a violation fails loudly.
    */
  def append(spark: SparkSession, embeddings: DataFrame, path: String): Unit = {
    val cdf = centroids(spark, path)
    val existing = cellTable(spark, path) // ensure registered before bucketed append
    val buckets = readBuckets(spark, path)
    val dup = embeddings.select(col("vec_id"))
      .join(existing.select(col("vec_id")), Seq("vec_id"), "left_semi")
      .limit(1).collect()
    require(dup.isEmpty,
      s"VectorIndex.append: vec_id ${dup.headOption.map(_.getLong(0)).getOrElse(-1L)} " +
        s"is already indexed at $path — appends must be disjoint " +
        "(rebuild or dedup the batch first)")
    assignCells(embeddings, cdf)
      .write
      .mode("append")
      .format("parquet")
      .bucketBy(buckets, "cell")
      .sortBy("cell")
      .option("path", cellsPath(path))
      .saveAsTable(cellTableName(path))
  }

  /** COMPACT the appended cell layout: every append leaves one file per
    * (task × touched bucket), so a long-lived index accretes small files
    * and the probe's scan cost drifts up. Rewrite the cells through the
    * SAME bucket spec — pre-partitioned by the bucket hash so each task
    * holds exactly one bucket and writes exactly one file — then swap
    * directories via the backup-rename discipline (Layout.compact's
    * crash-safe pattern: the original or the compacted layout exists at
    * every instant, never neither). Content, bucket count and the
    * exchange-free probe plan are all preserved (spec-pinned); only the
    * file count changes. Returns (filesBefore, filesAfter).
    */
  def compact(spark: SparkSession, path: String): (Int, Int) = {
    import org.apache.hadoop.fs.Path
    val name = cellTableName(path)
    val buckets = readBuckets(spark, path)
    val cp = new Path(cellsPath(path))
    val fs = cp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parquetCount(p: Path): Int =
      fs.listStatus(p).count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    val before = parquetCount(cp)
    val tmp = new Path(cellsPath(path) + ".compact-tmp")
    val tmpName = name + "_ctmp"
    spark.sql(s"DROP TABLE IF EXISTS $tmpName")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    // repartition by the bucket columns into exactly `buckets` partitions:
    // HashPartitioning and the bucket spec share the murmur3 pmod, so each
    // task carries one bucket's rows and the write emits one file per
    // bucket — the canonical compacted layout.
    cellTable(spark, path)
      .repartition(buckets, col("cell"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "cell")
      .sortBy("cell")
      .option("path", tmp.toString)
      .saveAsTable(tmpName)
    spark.sql(s"DROP TABLE IF EXISTS $tmpName") // external: data stays
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val bak = new Path(cellsPath(path) + ".compact-bak")
    if (fs.exists(bak)) fs.delete(bak, true)
    require(fs.rename(cp, bak), s"backup rename failed for $cp")
    require(fs.rename(tmp, cp), s"atomic swap failed for $cp")
    fs.delete(bak, true)
    cellTable(spark, path) // re-register over the compacted layout
    (before, parquetCount(cp))
  }

  /** The bucketed cell assignment, re-registered in this session's
    * catalog if a previous session built it.
    */
  def cellTable(spark: SparkSession, path: String): DataFrame = {
    val name = cellTableName(path)
    if (!spark.catalog.tableExists(name)) {
      val buckets = readBuckets(spark, path)
      spark.sql(
        s"""CREATE TABLE $name (vec_id BIGINT, emb ARRAY<FLOAT>, cell BIGINT)
           |USING PARQUET
           |CLUSTERED BY (cell) SORTED BY (cell) INTO $buckets BUCKETS
           |LOCATION '${new java.io.File(cellsPath(path)).toURI}'""".stripMargin)
    }
    spark.table(name)
  }

  /** Top-k cosine neighbors for a (query_id, q_emb) batch: rank the
    * batch's nProbe cells against the broadcast centroids, probe the
    * bucketed layout, exact cosine + per-query top-k (plans as
    * WindowGroupLimit — no full candidate sort). Same output schema and
    * ranking semantics as [[Ann.s3CentroidIvfTrained]].
    */
  def query(
      spark: SparkSession,
      queries: DataFrame,
      path: String,
      k: Int = 10,
      nProbe: Int = 2): DataFrame =
    probedTopK(spark, queries, path, k, nProbe, identity)

  /** FILTERED query over the persisted index — s14's pre-filter
    * discipline composed with the cell probe: `allowed` (a
    * (neighbor_id) frame — the attribute predicate already reduced to
    * an id set) semi-joins the cell scan BEFORE any cosine computes or
    * any rank assigns, so the top-k ranks only qualifying vectors and
    * always fills k when k matches exist in the probed cells.
    * Post-filtering [[query]]'s top-k instead starves — returns < k
    * wherever a disallowed vector out-ranked a qualifying one
    * (spec-pinned, the s14 trap inside the IVF tier). The semi-join
    * rides the probe join's cell scan: disallowed rows drop while the
    * scan is still streaming the bucketed layout, and at 100 TB the
    * allowed set is either broadcast (selective predicates) or a
    * bucketed attribute column stored with the vectors.
    */
  def queryFiltered(
      spark: SparkSession,
      queries: DataFrame,
      path: String,
      allowed: DataFrame,
      k: Int = 10,
      nProbe: Int = 2): DataFrame =
    probedTopK(spark, queries, path, k, nProbe,
      _.join(allowed.select(col("neighbor_id")), Seq("neighbor_id"), "left_semi"))

  /** Shared probe→scan→rank core: `restrict` is applied to the cell
    * scan UNDER the scoring projection (for [[query]] the identity, for
    * [[queryFiltered]] the allowed-id semi-join).
    */
  private def probedTopK(
      spark: SparkSession,
      queries: DataFrame,
      path: String,
      k: Int,
      nProbe: Int,
      restrict: DataFrame => DataFrame): DataFrame = {
    val probes = Search.cellRanks(queries, "query_id", "q_emb", centroids(spark, path))
      .filter(col("arn") <= nProbe)
      .select(col("query_id"), col("q_emb"), col("cent_id").as("cell"))
    Ann.cellTopK(
      restrict(
        cellTable(spark, path)
          .select(col("vec_id").as("neighbor_id"), col("emb").as("n_emb"), col("cell"))),
      probes, k)
  }
}
