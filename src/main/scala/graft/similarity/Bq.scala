package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Binary quantization (BQ) ANN — the 1-bit floor of the quantization
  * ladder the suite now covers end to end (s1 exact → s16 SQ8 1 B/dim →
  * s7 PQ / s10 IVFPQ sub-byte → s17 BQ 1 BIT/dim): each dimension keeps
  * only its SIGN against a per-dimension corpus threshold, so a 64-dim
  * float vector (256 B) serves from 8 bytes — a 32× scan-byte reduction
  * — and candidate ranking is HAMMING distance, the cheapest distance a
  * CPU can compute (XOR + popcount on packed words). This is the tier
  * modern vector stores put in front of everything else (RaBitQ-class
  * systems and every "binary embeddings" serving stack): crude alone,
  * excellent as a SHORTLIST generator feeding an exact refine — the
  * s10/s16 precision argument taken to its extreme point.
  *
  * Shape decisions:
  *   - Thresholds are per-dimension MIDRANGE, (lo + hi) / 2 from the
  *     exact corpus min/max (the s16 bounds pass, one map-side-combined
  *     aggregate, 64 rows out). NOT the mean: a mean is a float SUM
  *     whose accumulation order differs between engines, and one ulp at
  *     the threshold flips a bit and the hash gate — min/max are
  *     order-independent and exactly re-derivable in SQL.
  *   - The keyed form ranks by [[org.apache.spark.sql.graft.VectorExpressions.IntSqDist]]
  *     over the 0/1 code arrays: on bits, Σ(q−n)² IS the Hamming
  *     distance, so the shortlist reuses the codegen'd integer kernel
  *     and stays bit-identical to the DuckDB re-derivation.
  *   - The PACKED fast path ([[packCodes]] / [[hammingPacked]] —
  *     bits→one long per 64 dims, distance = bit_count(a XOR b)) is what
  *     a 100 TB scan actually executes; AnnSpec pins it answer-identical
  *     to the array-code ranking, the documented-equivalence discipline
  *     (the oracle gate keeps the array form because DuckDB's BIGINT
  *     arithmetic traps where the packing shift wraps).
  *   - Exact cosine REFINE over shortlistK candidates per query, so the
  *     float vectors are only read for |queries|·shortlistK rows.
  *
  * Reference behavior: the embedding entity-matching workloads (s1
  * family) at the compression point where the corpus no longer fits
  * even SQ8 — the first-pass filter tier.
  */
object Bq {

  /** 0/1 sign codes against broadcast per-dimension midrange thresholds. */
  private def bqCodes(emb: Column, mid: Seq[Double]): Column = {
    val midA = typedlit(mid)
    transform(emb, (v, i) =>
      when(v.cast("double") > element_at(midA, i + 1), lit(1)).otherwise(lit(0)))
  }

  /** Pack an `array<int>` of 0/1 codes into an `array<bigint>` with ONE
    * long per 64 dims (MSB first within each word; the trailing word
    * holds the remainder dims in its low bits): the 1-bit-per-dim layout
    * the scan tier serves from at ANY dimensionality. A single-long fold
    * would silently shift the leading bits out past 64 dims and
    * undercount distance — chunking makes the packing exact for
    * arbitrary `size(codes)`, and within a word the 64th shift wrapping
    * into the sign bit is by design (XOR+popcount is sign-agnostic).
    */
  def packCodes(codes: Column): Column =
    transform(
      sequence(lit(0), ((size(codes) + lit(63)) / lit(64)).cast("int") - lit(1)),
      j => aggregate(slice(codes, j * 64 + 1, lit(64)), lit(0L),
        (acc, x) => shiftleft(acc, 1) + x.cast("long")))

  /** Hamming distance between two packed code arrays: per-word
    * XOR + popcount, summed — one instruction pair per 64 dims.
    */
  def hammingPacked(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, v) => acc + v)

  /** Per-dimension midrange thresholds from one exact min/max pass. */
  private[graft] def midrange(emb: DataFrame): Seq[Double] =
    Search.dimBounds(emb).map { case (lo, hi) => (lo + hi) / 2.0 }

  /** s17: binary-quantized top-k for the bounded query set — 1-bit sign
    * codes, integer Hamming shortlist, exact cosine refine
    * ([[Search.codeShortlistRefine]]).
    */
  def s17BinarySearch(
      spark: SparkSession,
      dir: String,
      k: Int = 10,
      shortlistK: Int = 100): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    Search.codeShortlistRefine(emb, bqCodes(col("embedding"), midrange(emb)), shortlistK, k)
  }
}
