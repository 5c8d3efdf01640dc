package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Route, Superstep, Tables}

/** IVF + PQ — the two scale levers of the similarity family COMPOSED,
  * which is the shape billion-scale vector search actually ships
  * (Jégou et al. 2011 §V "IVFADC"; FAISS `IVFx,PQy`): the coarse
  * quantizer (s6's exact integer k-means) prunes WHICH corpus rows a
  * query looks at (only `nProbe` of `kCells` cells are read), and
  * product quantization (s7's integer codebooks) compresses WHAT the
  * scan reads per row (4-byte codes, never the embedding). s3 proves
  * the pruning tier alone; s7 proves the compression tier alone; a
  * 100 TB corpus needs both at once: the candidate scan is then
  * |corpus|·(nProbe/kCells) rows × 4 bytes, and the full-precision
  * column is read only for the bounded refine set.
  *
  * One honest divergence from FAISS IVFADC, documented: codes quantize
  * the VECTORS themselves, not the cell residuals (r = x − centroid).
  * Residual encoding couples every code to its cell and reuses the
  * codebook across cells at slightly better distortion; vector encoding
  * keeps the code table cell-independent (re-clustering never
  * re-encodes — the operational property an incremental 100 TB corpus
  * wants) at the cost of some ADC precision, which the exact refine
  * stage absorbs. Everything stays exact integer arithmetic end to end
  * (the [[Cluster]]/[[Pq]] discipline), so the full probe→ADC→refine
  * pipeline is bit-reproducible and the DuckDB oracle re-derives it
  * from the raw parquet.
  *
  * Scale shape: BOTH tiers train on one shared deterministic bounded
  * sample ([[Cluster.trainingSample]], the FAISS convention) — after a
  * single sample-selection pass, every coarse and subspace Lloyd
  * refinement scans O(sample) rows, and driver state is bounded by the
  * model, never the corpus. The corpus pays one quantize-checkpoint
  * scan and one fused assign+encode scan
  * (both zero-shuffle codegen projections); at serving time the ONLY
  * per-query work is a broadcast of (probe cells × LUTs) against the
  * cell-pruned code scan, a bounded WindowGroupLimit shortlist, and an
  * nq×Shortlist refine join. At 100 TB the code table persists
  * bucketed by cell (the [[VectorIndex]] layout), making the probe
  * exchange-free.
  */
object IvfPq {

  /** Per-query probe set: the `nProbe` nearest coarse cells by the same
    * exact scaled-integer distance ranking the assignment kernel uses
    * (D/n² single-division compare, ties to the lowest cell id). The
    * query set is bounded, so this is a tiny nq×k ranking — never a
    * corpus-side shuffle.
    */
  private def probeCells(
      queries: DataFrame, cents: Seq[(Long, Seq[Long], Long)], nProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val centRows = queries.sparkSession
      .createDataFrame(cents.map { case (cell, s, n) => (cell, s, n) })
      .toDF("cell", "s", "n")
    val distd = Cluster.scaledSqDist(col("n"), col("qv"), col("s"))
      .cast("double") / (col("n") * col("n")).cast("double")
    val w = Window.partitionBy(col("query_id")).orderBy(col("distd").asc, col("cell").asc)
    queries.crossJoin(Route.small(centRows, cents.size))
      .withColumn("distd", distd)
      .withColumn("prn", row_number().over(w))
      .filter(col("prn") <= nProbe)
      .select(col("query_id"), col("qv"), col("cell"))
  }

  /** s10: IVF-pruned, PQ-compressed top-k search with exact refinement.
    * Same output contract as s7 (query_id, rank, neighbor_id, dist —
    * exact integer distances, deterministic ties), but the candidate
    * scan reads only the probed cells' code rows instead of every code.
    */
  def s10IvfPq(
      spark: SparkSession,
      dir: String,
      topK: Int = 10,
      nProbe: Int = 2,
      kCells: Int = 8,
      cellIters: Int = 2): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    val nPart = spark.conf.get("spark.sql.shuffle.partitions").toInt

    // Model: coarse cells (s6's exact Lloyd) + PQ codebooks (s7's),
    // BOTH trained on one shared deterministic bounded sample — the
    // checkpointed quantized corpus is scanned once to select it, and
    // all (1 + M)·iters Lloyd refinements then touch O(sample) rows.
    val q = Superstep.pin(Cluster.quantized(emb))
    val sample = Cluster.trainingSample(q)
    val cents = Cluster.trainExactOn(q, sample, kCells, cellIters)
    val books = Pq.trainCodebooksOn(q, sample)

    // Corpus side: ONE fused scan emits the cell-tagged code table —
    // (neighbor_id, cell, codes). Cell assignment and all M code argmins
    // are zero-shuffle codegen projections over the same quantized row,
    // so computing them in one select costs one corpus read where an
    // encode ⋈ assign join would cost two scans plus a shuffle. The
    // embedding column is never read past this point except by the
    // bounded refine join.
    val corpus = q.select(
        col("vec_id").as("neighbor_id"),
        org.apache.spark.sql.graft.VectorExpressions
          .kmeansAssignExact(col("qv"), cents).as("cell"),
        Pq.codes(books).as("codes"))
      .repartition(nPart)

    // Query side: bounded set, each carrying its probe cells and ADC LUT.
    val queryRows = Pq.queryRows(q)
    val queries = spark.createDataFrame(queryRows).toDF("query_id", "qv")
    val probes = probeCells(queries, cents, nProbe)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val luts = queryRows.map { case (id, qv) => id -> Pq.adcLut(qv, books) }.toMap
    val probeLut =
      spark.createDataFrame(probes.toSeq.map { case (qid, cell) => (qid, cell, luts(qid)) })
        .toDF("query_id", "cell", "lut")

    // ADC shortlist INSIDE probed cells: the join key is the cell — the
    // corpus-side scan of unprobed cells is pruned by the equijoin, and
    // each surviving row pays M lookups into the broadcast LUT.
    val shortlist = Pq.adcShortlist(corpus.join(probeLut, Seq("cell")))
      .select("query_id", "neighbor_id")

    // Exact integer refine over the bounded shortlist (s7's stage 2).
    val queryVecs = queries.select(col("query_id"), col("qv").as("qqv"))
    shortlist
      .join(q.select(col("vec_id").as("neighbor_id"), col("qv").as("nqv")), Seq("neighbor_id"))
      .join(queryVecs, Seq("query_id"))
      .withColumn("dist", Pq.exactDist)
      .transform(Search.topK(col("dist").asc, topK))
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("dist"))
      .orderBy("query_id", "rank")
  }
}
