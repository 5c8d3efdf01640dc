package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Route, Tables}

/** Scalar quantization (SQ8) ANN — the serving tier between brute force
  * (s1) and product quantization (s7): each dimension quantizes
  * independently to an 8-bit code against per-dimension corpus [lo, hi]
  * bounds (FAISS `SQ8`; Jégou et al. 2011 compare it as the baseline PQ
  * must beat). 4 B/dim float shrinks to 1 B/dim — the scan reads a
  * quarter of the bytes — with far better recall than PQ at the same
  * simplicity, at the cost of a worse compression ratio; real serving
  * stacks keep both tiers and pick per corpus.
  *
  * Shape decisions, all for oracle-exactness and the 100 TB plan:
  *   - SYMMETRIC distance: the query quantizes with the same bounds and
  *     the shortlist ranks by Σ(qcᵢ−ccᵢ)² — PURE INTEGER (codes 0..255),
  *     computed by the codegen'd [[org.apache.spark.sql.graft.VectorExpressions.IntSqDist]]
  *     kernel, so the candidate ranking is bit-identical to the DuckDB
  *     re-derivation by construction (no float accumulation order to
  *     reconcile). Asymmetric ADC would be slightly more accurate and
  *     float-ordered; the bounded exact refine below absorbs the
  *     difference, the s10 precision argument.
  *   - Exact REFINE: the integer shortlist (shortlistK per query) joins
  *     back to the true embeddings and the final top-k ranks by exact
  *     cosine — only |queries|·shortlistK rows ever touch the float
  *     vectors, so the corpus scan reads codes alone (column pruning
  *     drops the embedding column from the scan).
  *   - Bounds are EXACT per-dimension corpus min/max (one map-side
  *     combined pass over (dim, value) pairs, 64 output rows) — cheap at
  *     any scale, deterministic, and trivially re-derivable in SQL;
  *     degenerate dimensions (hi == lo) code to 0 on both engines.
  *
  * Reference behavior: the embedding-similarity workloads of
  * leader_graph's entity-matching side (as s1/s7), at the compression
  * point a 100 TB embedding corpus actually serves from.
  */
object Sq {

  /** Quantize an `array<float>` embedding to `array<int>` SQ8 codes
    * against broadcast per-dimension bounds (lo/hi as literal arrays):
    * `round((v − lo) · 255 / (hi − lo))` clamped to [0, 255], 0 where
    * the dimension is degenerate. Double math mirrors the oracle's
    * (IEEE-identical on both engines).
    */
  private def sq8Codes(emb: Column, lo: Seq[Double], hi: Seq[Double]): Column = {
    val loA = typedlit(lo)
    val hiA = typedlit(hi)
    transform(emb, (v, i) => {
      val l = element_at(loA, i + 1)
      val h = element_at(hiA, i + 1)
      when(h === l, lit(0)).otherwise(
        least(greatest(round((v.cast("double") - l) * 255.0 / (h - l)), lit(0.0)), lit(255.0))
          .cast("int"))
    })
  }

  /** s16: SQ8 top-k for the bounded query set (vec_id < 10) — integer
    * symmetric shortlist over 1 B/dim codes, exact cosine refine.
    */
  def s16Sq8Search(
      spark: SparkSession,
      dir: String,
      k: Int = 10,
      shortlistK: Int = 40): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = Tables(spark, dir)
    val nPart = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // Per-dimension exact corpus bounds: one pass, 64 rows out.
    val bounds = t.embeddings
      .select(posexplode(col("embedding")))
      .toDF("d", "v")
      .groupBy("d").agg(min(col("v").cast("double")).as("lo"), max(col("v").cast("double")).as("hi"))
      .collect().sortBy(_.getInt(0))
    val lo = bounds.map(_.getDouble(1)).toSeq
    val hi = bounds.map(_.getDouble(2)).toSeq
    val codes = t.embeddings.repartition(nPart)
      .select(col("vec_id"), sq8Codes(col("embedding"), lo, hi).as("codes"))
    val qCodes = codes.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("codes").as("q_codes"))
    // Integer shortlist: ties on id, bit-identical to the oracle.
    val wShort = Window.partitionBy(col("query_id"))
      .orderBy(col("dist2").asc, col("neighbor_id").asc)
    val shortlist = codes
      .select(col("vec_id").as("neighbor_id"), col("codes").as("n_codes"))
      .crossJoin(Route.small(qCodes, 10))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("dist2",
        org.apache.spark.sql.graft.VectorExpressions
          .intSqDistNative(col("q_codes"), col("n_codes")))
      .withColumn("srn", row_number().over(wShort))
      .filter(col("srn") <= shortlistK)
      .select("query_id", "neighbor_id")
    // Exact refine: only |queries|·shortlistK rows read the float vectors.
    val qEmb = t.embeddings.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val wFinal = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    shortlist
      .join(t.embeddings.select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb")),
        Seq("neighbor_id"))
      .join(Route.small(qEmb, 10), Seq("query_id"))
      .withColumn("sim", Ann.cosine(col("q_emb"), col("n_emb")))
      .withColumn("rank", row_number().over(wFinal))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
      .orderBy("query_id", "rank")
  }
}
