package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Superstep, Tables}

/** Deterministic, engine-reproducible k-means over the embedding corpus —
  * the clustering half of the corpus-curation loop (cluster → inspect →
  * balance → sample) that pipelines run between dedup and training-mix
  * assembly.
  *
  * Floating-point k-means is not reproducible across engines: centroid
  * means depend on summation order, and a last-bit difference can flip an
  * argmin and cascade through every later round. This implementation is
  * EXACT end to end, so any engine computes bit-identical assignments:
  *
  *   - embeddings are quantized per element to an integer grid,
  *     `floor(x * 512 + 0.5)` — multiplication by a power of two is exact
  *     in IEEE doubles, so the quantized vector is a pure function of the
  *     stored float, independent of evaluation order;
  *   - a centroid is represented as its member SUM vector plus the member
  *     count (never the mean): integer sums are exact and
  *     order-independent, and squared distance to the mean scales to
  *     integer arithmetic via |n·x − S|² = n²·|x − S/n|²;
  *   - the only non-integer step is ONE division per (point, centroid)
  *     comparison, D/n² in doubles — both operands are exact integers
  *     (D ≤ 64·(n·q_max)² ≈ 4·10¹⁸ stays in Long up to ~10× the bench
  *     corpus) and a single IEEE division is correctly rounded, hence
  *     identical on every engine; ties break on cluster id.
  *
  * Scale shape: assignment is a broadcast of the k×dim centroid table
  * against an embarrassingly-parallel corpus scan (no shuffle); the
  * update is one (cell, dimension) map-side-combined integer aggregate
  * whose k·dim result is all that is collected ([[perCellDims]]).
  * [[Pq]] trains each subspace codebook with this loop.
  *
  * Reference behavior: the loader's region/type grouping of organizations
  * before pairwise derivation (mysql2neo4j.py:229-253) — grouping as a
  * preprocessing stage for downstream per-group work, here over vectors.
  */
object Cluster {

  /** Exact squared distance |n·q − s|² over two long arrays (left fold,
    * pure integer arithmetic); [[IvfPq]] ranks probe cells by it.
    */
  private[similarity] def scaledSqDist(n: Column, q: Column, s: Column): Column =
    aggregate(
      zip_with(q, s, (x, si) => (n * x - si) * (n * x - si)),
      lit(0L),
      (acc, v) => acc + v)

  /** (vec_id, qv) quantized corpus: floor(x·512 + 0.5) per element. */
  def quantized(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      transform(col("embedding"), x => floor(x.cast("double") * lit(512.0) + lit(0.5)).cast("long"))
        .as("qv"))

  /** Assign every vector to its nearest centroid: one codegen'd
    * allocation-free kernel
    * ([[org.apache.spark.sql.graft.KmeansAssignExact]]) carrying the
    * frozen k×dim centroid state — the argmin is a pure per-row
    * projection over the corpus scan: no join, no window, ZERO shuffle.
    * Strict `<` over centroids in ascending cell order ties to the lowest
    * cell id, matching the oracle's `ORDER BY distd, cell` rank.
    */
  private def assign(q: DataFrame, cents: Seq[(Long, Seq[Long], Long)]): DataFrame =
    q.withColumn("cell",
      org.apache.spark.sql.graft.VectorExpressions.kmeansAssignExact(col("qv"), cents))

  /** Reference formulation of [[assign]]'s argmin via higher-order
    * functions (interpreted; kept for the equivalence spec and as
    * executable documentation — the [[Ann.cosineHof]] discipline).
    */
  def assignHof(q: DataFrame, cents: Seq[(Long, Seq[Long], Long)]): DataFrame = {
    val centArr = array(cents.sortBy(_._1).map { case (cell, s, n) =>
      struct(
        lit(cell).as("cell"),
        array(s.map(lit(_)): _*).as("s"),
        lit(n).as("n"))
    }: _*)
    val best = aggregate(
      centArr,
      struct(lit(-1L).as("cell"), lit(Double.MaxValue).as("d")),
      (acc, c) => {
        val distd = scaledSqDist(c.getField("n"), col("qv"), c.getField("s"))
          .cast("double") / (c.getField("n") * c.getField("n")).cast("double")
        when(distd < acc.getField("d"),
          struct(c.getField("cell").as("cell"), distd.as("d")))
          .otherwise(acc)
      })
    q.withColumn("cell", best.getField("cell"))
  }

  /** Default training-sample cap — the FAISS convention applied to every
    * model-building loop in the similarity family: clustering/codebook
    * QUALITY needs only a bounded, representative sample (FAISS trains
    * IVF/PQ on 10⁵–10⁶ vectors regardless of corpus size), while a
    * full-corpus Lloyd loop re-scans 100 TB once per iteration — the one
    * super-linear build cost this suite had. 256 here so the sf0.01
    * correctness gate (500 vectors) genuinely exercises the sampled
    * path; the production dial is the same constant at 10⁵–10⁶.
    */
  val TrainCap: Int = 256

  /** Deterministic bounded training sample over a frame keyed by `vec_id`
    * (the quantized (vec_id, qv) corpus here, the float corpus in
    * [[Ann.trainedCentroidsOf]]): the `cap` rows FIRST in
    * md5('ktrain:'||vec_id) order (ties on vec_id) — the t13/t28
    * content-hash-order discipline, so the sample is a pure function of
    * the id set (reproducible on any engine, no RNG state) and uniformly
    * spread regardless of id clustering. One
    * bounded TakeOrdered pass over the corpus; the checkpoint pins the
    * sample so every Lloyd iteration re-reads `cap` rows, never the
    * corpus.
    */
  def trainingSample(q: DataFrame, cap: Int = TrainCap): DataFrame =
    Superstep.pin(q.orderBy(md5(concat(lit("ktrain:"), col("vec_id").cast("string"))), col("vec_id"))
      .limit(cap))

  /** Centroid state after `iters` exact Lloyd refinements over a
    * DETERMINISTIC BOUNDED SAMPLE (md5-of-id order, `sampleCap` rows).
    * Init = the first k CORPUS vectors in vec_id order (n=1 sums), so a
    * frame without ids 0..k-1 still seeds k cells — independent of the
    * sample, so the model seed is the same at any cap. Empty cells keep
    * their previous state. Only the k×dim sum matrix reaches the driver,
    * and after the one sampling pass each refinement touches `sampleCap`
    * rows — model building costs O(sample), never O(corpus)·iters.
    * Sampling changes WHICH model is learned, never its determinism:
    * assignments stay bit-reproducible (spec-pinned against a driver-side
    * re-derivation, and the DuckDB oracles re-derive the same sample).
    */
  def trainExact(
      emb: DataFrame, k: Int = 8, iters: Int = 2,
      sampleCap: Int = TrainCap): Seq[(Long, Seq[Long], Long)] = {
    val q = quantized(emb)
    trainExactOn(q, trainingSample(q, sampleCap), k, iters)
  }

  /** [[trainExact]] with the quantized corpus and training sample
    * supplied by the caller — [[IvfPq]] shares one checkpointed corpus
    * scan and one sample between the coarse and PQ tiers, and [[Pq]]
    * trains each subspace on the sliced frames.
    */
  def trainExactOn(
      q: DataFrame, sample: DataFrame, k: Int, iters: Int): Seq[(Long, Seq[Long], Long)] = {
    var cents: Seq[(Long, Seq[Long], Long)] = q.orderBy("vec_id")
      .limit(k)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), 1L))
      .toSeq
    for (_ <- 1 to iters) {
      val sums = perCellDims(assign(sample, cents), "qv",
        sum(col("v")).as("sv"), count(lit(1)).as("n"))
      cents = cents.map { case (id, s0, n0) =>
        sums.get(id) match {
          case Some(rows) => (id, rows.map(_.getAs[Long]("sv")), rows.head.getAs[Long]("n"))
          case None       => (id, s0, n0)
        }
      }
    }
    cents
  }

  /** The Lloyd update's aggregate: `aggs` over each element `v` of the
    * array column `vec`, per (cell, dimension) of an assigned frame. The
    * k×dim result is collected and returned per cell in dimension order.
    */
  private[similarity] def perCellDims(
      assigned: DataFrame, vec: String, aggs: Column*): Map[Long, Seq[Row]] =
    assigned
      .select(col("cell"), posexplode(col(vec)).as(Seq("pos", "v")))
      .groupBy("cell", "pos")
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .groupBy(_.getAs[Long]("cell"))
      .map { case (cell, rows) => cell -> rows.sortBy(_.getAs[Int]("pos")).toSeq }

  /** Assignment against a FROZEN centroid state — the serving half of the
    * clustering loop (train batch-side, assign anywhere): a pure
    * zero-shuffle projection, so it runs identically over a bounded
    * corpus or an unbounded stream
    * ([[graft.streaming.CurationStream.clusterAssignStream]]).
    */
  def assignFrozen(emb: DataFrame, cents: Seq[(Long, Seq[Long], Long)]): DataFrame =
    assign(quantized(emb), cents)
      .select(col("vec_id"), col("cell").as("cluster"))

  /** s6: final (vec_id, cluster) assignment after exact k-means. */
  def s6KmeansCluster(spark: SparkSession, dir: String, k: Int = 8, iters: Int = 2): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    val cents = trainExact(emb, k, iters)
    assign(quantized(emb), cents)
      .select(col("vec_id"), col("cell").as("cluster"))
  }

  /** t23: cluster-balanced sample — at most `cap` vectors per k-means
    * cluster, chosen in deterministic content-hash order (md5 of the id),
    * so over-represented clusters are down-sampled to the cap while small
    * clusters survive whole. The standard mix-balancing step after
    * semantic clustering; the per-cluster top-cap is a bounded
    * WindowGroupLimit, never a full sort of the corpus.
    */
  def t23ClusterBalance(
      spark: SparkSession, dir: String, k: Int = 8, iters: Int = 2, cap: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // assignFrozen, not s6KmeansCluster: s6's global orderBy(vec_id) would
    // add a range exchange + sort that the window's hash repartition
    // immediately discards — one full wasted shuffle at corpus scale.
    val emb = Tables(spark, dir).embeddings
    val assigned = assignFrozen(emb, trainExact(emb, k, iters))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(md5(col("vec_id").cast("string")).asc, col("vec_id").asc)
    assigned
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= cap)
      .select(col("cluster"), col("vec_id"))
      .orderBy("cluster", "vec_id")
  }
}
