package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Route

/** The search steps the similarity family shares, each written once: the
  * bounded query set, the per-query top-k and its ranking contract, the
  * cosine argmax cell ranking, the hyperplane signature, and the
  * code-shortlist-then-cosine-refine of the quantized tiers (s16, s17).
  * Every top-k search of the family ranks through [[topK]], so ties
  * resolve one way across the family, as the DuckDB oracles resolve them.
  */
object Search {

  /** Size of the keyed query set: the corpus vectors with `vec_id` below it. */
  val NumQueries: Int = 10

  /** Membership in the bounded query set. */
  def isQuery: Column = col("vec_id") < NumQueries

  /** The query set as (query_id, q_emb) rows of a (vec_id, embedding) frame. */
  def queries(emb: DataFrame): DataFrame =
    emb.filter(isQuery).select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))

  /** The corpus side of a search over a (vec_id, embedding) frame, spread
    * over the shuffle partitions (one parquet file is one input split), as
    * (neighbor_id, n_emb).
    */
  def corpus(emb: DataFrame): DataFrame = {
    val nPart = emb.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    emb.repartition(nPart).select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"))
  }

  /** Every pair of a `corpus` row (`neighbor_id`) and a query of the bounded
    * set (`query_id`) but a query with itself; the query side is routed by
    * the set's bound, so the corpus scan runs with no shuffle.
    */
  def pairs(corpus: DataFrame, queries: DataFrame): DataFrame =
    corpus.crossJoin(Route.small(queries, NumQueries))
      .filter(col("query_id") =!= col("neighbor_id"))

  /** Per-query top-k: rank each query's candidate rows by `score`, then by
    * `neighbor_id` ascending, as `rank` (row_number), and keep `rank <= k`.
    * Plans as a WindowGroupLimit, never a full sort of the candidates.
    */
  def topK(score: Column, k: Int)(candidates: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(score, col("neighbor_id").asc)
    candidates.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Cosine argmax cell ranking: each row of `rows`, keyed by `key`, ranks
    * every centroid (`cent_id`, `c_emb`) by cosine to its `emb` column as
    * `arn` (similarity descending, ties to the lowest centroid id). `arn`
    * 1 is the row's cell; `arn <= nProbe` its probe set.
    */
  def cellRanks(rows: DataFrame, key: String, emb: String, centroids: DataFrame): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col("c_sim").desc, col("cent_id").asc)
    rows.crossJoin(centroids)
      .withColumn("c_sim", Ann.cosine(col(emb), col("c_emb")))
      .withColumn("arn", row_number().over(w))
  }

  /** Each (vec_id, embedding) row of [[cellRanks]] in its argmax cell, as
    * (vec_id, emb, cell).
    */
  def inCell(ranked: DataFrame): DataFrame =
    ranked.filter(col("arn") === 1)
      .select(col("vec_id"), col("embedding").as("emb"), col("cent_id").as("cell"))

  /** Random-hyperplane signature: `rows` (with `embedding`) crossed with the
    * planes (`h_id`, `h_emb`) and grouped by `keys`; bit `h_id` of `bucket`
    * is set when the embedding's cosine to that plane is non-negative.
    * `keep` are further aggregates, placed before `bucket`.
    */
  def signatures(rows: DataFrame, planes: DataFrame, keys: Seq[String], keep: Column*): DataFrame = {
    val bucket = sum(when(Ann.cosine(col("embedding"), col("h_emb")) >= 0,
      expr("shiftleft(CAST(1 AS BIGINT), CAST(h_id AS INT))")).otherwise(0L)).as("bucket")
    val aggs = keep :+ bucket
    rows.crossJoin(planes).groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** A query's probe buckets: its own, plus every hamming-1 neighbour
    * bucket (one of `nPlanes` signature bits flipped) under multi-probe.
    */
  def probeBuckets(nPlanes: Int, multiProbe: Boolean): Column = {
    val probes =
      if (!multiProbe) Seq(col("bucket"))
      else col("bucket") +: (0 until nPlanes).map(j => col("bucket").bitwiseXOR(lit(1L << j)))
    explode(array(probes: _*))
  }

  /** Exact per-dimension corpus bounds (lo, hi) of a (vec_id, embedding)
    * frame, in dimension order: one map-side-combined pass, dim rows out.
    */
  def dimBounds(emb: DataFrame): Seq[(Double, Double)] =
    emb.select(posexplode(col("embedding"))).toDF("d", "v")
      .groupBy("d")
      .agg(min(col("v").cast("double")).as("lo"), max(col("v").cast("double")).as("hi"))
      .collect().sortBy(_.getInt(0))
      .map(r => (r.getDouble(1), r.getDouble(2))).toSeq

  /** Code shortlist, then exact cosine refine: the corpus is coded by
    * `code` (an integer array expression over `embedding`), each query's
    * `shortlistK` nearest codes by integer squared distance
    * ([[org.apache.spark.sql.graft.VectorExpressions.IntSqDist]]) are
    * joined back to the float vectors, and the top `k` by cosine are kept
    * as (query_id, rank, neighbor_id). Only |queries|·shortlistK rows read
    * the embeddings after the code scan.
    */
  def codeShortlistRefine(emb: DataFrame, code: Column, shortlistK: Int, k: Int): DataFrame = {
    val nPart = emb.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val codes = emb.repartition(nPart).select(col("vec_id"), code.as("codes"))
    val qCodes = codes.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("codes").as("q_codes"))
    val shortlist = pairs(codes.select(col("vec_id").as("neighbor_id"), col("codes").as("n_codes")),
        qCodes)
      .withColumn("dist",
        org.apache.spark.sql.graft.VectorExpressions
          .intSqDistNative(col("q_codes"), col("n_codes")))
      .transform(topK(col("dist").asc, shortlistK))
      .select("query_id", "neighbor_id")
    shortlist
      .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb")),
        Seq("neighbor_id"))
      .join(Route.small(queries(emb), NumQueries), Seq("query_id"))
      .withColumn("sim", Ann.cosine(col("q_emb"), col("n_emb")))
      .transform(topK(col("sim").desc, k))
      .select("query_id", "rank", "neighbor_id")
  }
}
