package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

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

  /** s16: SQ8 top-k for the bounded query set — integer symmetric
    * shortlist over 1 B/dim codes, exact cosine refine
    * ([[Search.codeShortlistRefine]]).
    */
  def s16Sq8Search(
      spark: SparkSession,
      dir: String,
      k: Int = 10,
      shortlistK: Int = 40): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    val (lo, hi) = Search.dimBounds(emb).unzip
    Search.codeShortlistRefine(emb, sq8Codes(col("embedding"), lo, hi), shortlistK, k)
      .orderBy("query_id", "rank")
  }
}
