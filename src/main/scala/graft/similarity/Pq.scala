package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Route, Superstep, Tables}

/** Product quantization (PQ) — the COMPRESSED vector tier that makes
  * billion-scale similarity search feasible: each `dim`-dimensional
  * vector is split into `m` subspaces and every subvector replaced by the
  * id of its nearest codebook centroid, so a 64-float embedding (256 B)
  * becomes `m` small codes (4 B here) and the candidate scan touches 64×
  * less data. Queries score candidates with an asymmetric-distance lookup
  * table (ADC: Jégou et al. 2011, "Product Quantization for Nearest
  * Neighbor Search", IEEE TPAMI 33(1)) — one `m`-entry table sum per
  * candidate, no float math on the corpus side at all.
  *
  * Everything is EXACT integer arithmetic end to end, extending the
  * [[Cluster]] discipline so any engine reproduces bit-identical codes:
  *
  *   - vectors are quantized by [[Cluster.quantized]] (the
  *     `floor(x·512 + 0.5)` grid) and sliced into subvectors;
  *   - per-subspace codebooks train with [[Cluster.trainExactOn]], the
  *     exact Lloyd loop (integer SUM + count centroid state, D/n²
  *     single-division compares);
  *   - the trained (sum, n) centroids are then ROUNDED to integer
  *     vectors with one exact half-up division —
  *     `(2·(s + off·n) + n) div (2·n) − off` with `off` shifting the
  *     numerator non-negative so truncating and flooring division agree
  *     across engines;
  *   - encode = argmin of the pure-integer squared distance to the
  *     rounded centroids (ties to the lowest code), a zero-shuffle
  *     projection via the same codegen kernel as s6 with n=1 states;
  *   - ADC distances are integer sums of integer squares — no float
  *     enters the result, so rows hash identically everywhere.
  *
  * Scale shape: codebooks train on a DETERMINISTIC BOUNDED SAMPLE
  * ([[Cluster.trainingSample]], the FAISS convention — one corpus pass
  * selects it, every Lloyd refinement then scans O(sample)), and only
  * k×dim integer sums per subspace reach the driver; encoding is an
  * embarrassingly-parallel scan; search is a broadcast of the query
  * LUTs (m·k longs per query)
  * against the code table — the corpus side streams 4-byte codes, the
  * per-query top-k is a bounded WindowGroupLimit. The un-compressed
  * embedding column is never read by the search at all.
  *
  * Reference behavior: the embedding-similarity retrieval families the
  * reference's entity-resolution pipeline approximates with grouped
  * pairwise comparison (mysql2neo4j.py:229-253); PQ is the 100 TB form.
  */
object Pq {

  /** Codebook for one subspace: (code, rounded integer centroid). */
  type Codebook = Seq[(Long, Seq[Long])]

  val M: Int = 8       // subspaces
  val SubDim: Int = 8  // dims per subspace (8×8 = the 64-dim corpus)
  val K: Int = 64      // codes per subspace
  val Iters: Int = 2   // exact Lloyd refinements
  val Offset: Long = 512L // shifts rounding numerators non-negative
  val Shortlist: Int = 100 // ADC candidates refined per query

  /** Half-up rounding of the exact centroid mean s/n to the integer grid,
    * in pure Long arithmetic: shift by `Offset` so the numerator is
    * non-negative (|s_i| ≤ 512·n by construction of the quantization
    * grid), where truncating (JVM) and flooring (SQL) division coincide.
    */
  private[graft] def roundCentroid(s: Seq[Long], n: Long): Seq[Long] =
    s.map(si => (2L * (si + Offset * n) + n) / (2L * n) - Offset)

  /** Train one subspace's codebook: [[Cluster.trainExactOn]] over the
    * subspace slices of the corpus (init = the first K corpus vectors'
    * subvectors, sample-independent) and of the training sample, with the
    * trained (sum, n) centroids rounded to the integer grid.
    */
  private def trainSubspace(q: DataFrame, sample: DataFrame, sub: Int): Codebook = {
    def sliced(df: DataFrame): DataFrame =
      df.select(col("vec_id"), slice(col("qv"), sub * SubDim + 1, SubDim).as("qv"))
    Cluster.trainExactOn(sliced(q), sliced(sample), K, Iters)
      .map { case (code, s, n) => (code, roundCentroid(s, n)) }
  }

  /** All M codebooks, trained independently per subspace. The ADC LUT is
    * addressed positionally (`sub·K + code`), which requires every book to
    * carry EXACTLY the contiguous codes 0..K−1 — guaranteed here because
    * init centroids are the first K vec_ids and Lloyd cells never die
    * (empty cells keep their previous state) — so a corpus with fewer than
    * K vectors, or non-contiguous low vec_ids, must fail loudly rather
    * than silently misaddress the LUT.
    */
  def trainCodebooks(emb: DataFrame, sampleCap: Int = Cluster.TrainCap): Seq[Codebook] = {
    val q = Cluster.quantized(emb)
    trainCodebooksOn(q, Cluster.trainingSample(q, sampleCap))
  }

  /** [[trainCodebooks]] with the quantized corpus and the deterministic
    * bounded training sample ([[Cluster.trainingSample]]) supplied by the
    * caller — one sample selection pass serves all M subspace Lloyd
    * loops (and, in [[IvfPq]], the coarse tier too), so the whole model
    * build costs one corpus scan plus O(M·Iters·sample).
    */
  def trainCodebooksOn(q: DataFrame, sample: DataFrame): Seq[Codebook] = {
    val books = (0 until M).map(trainSubspace(q, sample, _))
    books.foreach { book =>
      require(book.size == K && book.map(_._1).sorted == (0L until K.toLong),
        s"codebook must carry exactly the contiguous codes 0..${K - 1} " +
          s"(got ${book.size} codes; corpus smaller than K=$K, or init ids not 0..${K - 1}?)")
    }
    books
  }

  /** Encode the corpus: per subspace, argmin of the exact integer squared
    * distance to the rounded centroids — the s6 assignment kernel with
    * n=1 states (n·x − s degenerates to x − c). Zero-shuffle projection;
    * output is (vec_id, codes[M]).
    */
  def encode(emb: DataFrame, books: Seq[Codebook]): DataFrame =
    encodeQuantized(Cluster.quantized(emb), books)

  /** [[encode]] over an already-quantized (vec_id, qv) frame — callers
    * holding a checkpointed quantized corpus skip the re-scan.
    */
  def encodeQuantized(q: DataFrame, books: Seq[Codebook]): DataFrame =
    q.select(col("vec_id"), codes(books).as("codes"))

  /** The PQ code column over a quantized `qv` column: per subspace, the
    * argmin code of the slice against the book's rounded centroids.
    */
  private[similarity] def codes(books: Seq[Codebook]): Column =
    array(books.zipWithIndex.map { case (book, sub) =>
      org.apache.spark.sql.graft.VectorExpressions.kmeansAssignExact(
        slice(col("qv"), sub * SubDim + 1, SubDim),
        book.map { case (code, c) => (code, c, 1L) })
    }: _*)

  /** The bounded query set of a quantized (vec_id, qv) frame, collected
    * in vec_id order as (query_id, qv).
    */
  private[similarity] def queryRows(q: DataFrame): Seq[(Long, Seq[Long])] =
    q.filter(Search.isQuery)
      .orderBy("vec_id")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1)))
      .toSeq

  /** ADC lookup table for one query: flat m·k longs, entry
    * `sub·K + code` = squared distance between the query's subvector and
    * that code's rounded centroid.
    */
  private[similarity] def adcLut(qv: Seq[Long], books: Seq[Codebook]): Seq[Long] =
    books.zipWithIndex.flatMap { case (book, sub) =>
      val qs = qv.slice(sub * SubDim, (sub + 1) * SubDim)
      book.sortBy(_._1).map { case (_, c) =>
        qs.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum
      }
    }

  /** ADC shortlist: per query, the `Shortlist` best of its candidate rows
    * (`codes` and the query's `lut` side by side) by the pure-integer ADC
    * sum — M lookups into the broadcast m·k-long LUT, no embedding read —
    * ranked by [[Search.topK]] (distance asc, neighbor id asc).
    */
  private[similarity] def adcShortlist(candidates: DataFrame): DataFrame = {
    val adcDist = (0 until M)
      .map { sub =>
        element_at(col("lut"),
          (element_at(col("codes"), sub + 1) + lit(sub * K) + 1).cast("int"))
      }
      .reduce(_ + _)
    candidates
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc_dist", adcDist)
      .transform(Search.topK(col("adc_dist").asc, Shortlist))
  }

  /** Exact integer squared distance between the query's `qqv` and the
    * candidate's `nqv`, the refine stage's score.
    */
  private[similarity] def exactDist: Column =
    aggregate(
      zip_with(col("qqv"), col("nqv"), (x, y) => (x - y) * (x - y)),
      lit(0L),
      (acc, v) => acc + v)

  /** s7: PQ search with exact refinement — the FAISS IVFPQ-with-refine
    * shape. Stage 1 prunes the corpus to `Shortlist` candidates per query
    * on compressed codes alone (ADC: integer LUT sums, no embedding
    * read); stage 2 re-ranks only those nq×`Shortlist` rows by the EXACT
    * integer squared distance on the quantized vectors and keeps the top
    * `topK`. Refinement touches a bounded row set regardless of corpus
    * size (the shortlist is broadcast back against the corpus scan), so
    * the full-precision column is read once for ~nq·100 rows, not n·nq.
    * Output distances are exact integers — bit-identical on any engine.
    */
  def s7PqSearch(spark: SparkSession, dir: String, topK: Int = 10): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    val nPart = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // One checkpointed quantized scan feeds the sample selection, the
    // K-row init reads, the encode projection, and the refine join.
    val q = Superstep.pin(Cluster.quantized(emb))
    val books = trainCodebooksOn(q, Cluster.trainingSample(q))
    val coded = encodeQuantized(q, books).repartition(nPart)
      .select(col("vec_id").as("neighbor_id"), col("codes"))
    val queries = queryRows(q)
    val luts = spark.createDataFrame(queries.map { case (id, qv) => (id, adcLut(qv, books)) })
      .toDF("query_id", "lut")
    val shortlist = adcShortlist(coded.crossJoin(luts))
      .select("query_id", "neighbor_id", "adc_dist")
    val queryVecs = spark.createDataFrame(queries).toDF("query_id", "qqv")
    // The shortlist holds at most nq×Shortlist rows: sized by that bound,
    // it is the broadcast side when it fits; the quantized
    // corpus is scanned once and only candidate rows survive the join.
    q.select(col("vec_id").as("neighbor_id"), col("qv").as("nqv"))
      .join(Route.small(shortlist, queries.size.toLong * Shortlist), Seq("neighbor_id"))
      .join(queryVecs, Seq("query_id"))
      .withColumn("dist", exactDist)
      .transform(Search.topK(col("dist").asc, topK))
      .select("query_id", "rank", "neighbor_id", "dist")
      .orderBy("query_id", "rank")
  }
}
