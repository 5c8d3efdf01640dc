package graft.operators

import graft.Superstep
import org.apache.spark.ml.recommendation.ALS
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** TRAINER CONSUMER for the walk pipeline — the last box of
  * sample → pair → train: g25/g26 sample a walk corpus, g28 reduces it
  * to windowed co-occurrence with integer lift (the PMI argument), and
  * this operator FACTORIZES that matrix into node embeddings. The
  * public-theory bridge is Levy & Goldberg 2014 ("Neural Word Embedding
  * as Implicit Matrix Factorization"): skip-gram with negative sampling
  * converges to a factorization of the shifted PPMI matrix of exactly
  * the co-occurrence counts g28 produces — so weighted least-squares
  * factorization of PPMI (MLlib ALS, Spark's distributed ALS-WR) is the
  * batch-engine equivalent of running word2vec over the walk corpus
  * (the reference's person–org graph is precisely what a DeepWalk-style
  * pipeline would embed for downstream similarity/link tasks).
  *
  * NOT a driver-keyed gate query: ALS is iterative float least squares
  * (seeded, engine-reproducible, but not re-derivable as DuckDB SQL),
  * so like `minRelaxTraverse` this is a spec-tested API surface — the
  * agreement spec factorizes a crafted two-community walk corpus and
  * asserts the embedding geometry separates the communities (the
  * semantic SGNS is used for), plus seeded determinism across runs.
  *
  * Scale shape: PPMI projection and symmetrization are O(pairs);
  * node-id assignment is a distributed sort + zipWithIndex over the
  * VOCABULARY (never the corpus; no single-task global window); ALS
  * itself is MLlib's block-partitioned alternating solve — O(pairs)
  * per sweep shuffled by block, the standard billion-rating layout.
  * Everything downstream of g28 is pair-table-sized, so the trainer
  * adds no corpus-sized stage to the pipeline.
  */
object WalkEmbed {

  /** Factorize a g28-shape co-occurrence relation
    * `(node1, node2, cnt, lift_micro)` into `(node, embedding)` with
    * `embedding: array<float>` of length `rank`.
    *
    * Ratings are PPMI: `max(0, log(lift))`. Sub-1-lift pairs are
    * CLIPPED TO ZERO, not dropped — an observed-but-unassociated pair
    * is exactly the negative evidence that pins unrelated nodes'
    * factors apart (drop them and disjoint walk neighborhoods
    * factorize at arbitrary angles: nothing in the loss relates their
    * subspaces — the SGNS negative-sampling role, played here by the
    * observed zeros). Never-co-occurring pairs stay absent, so the
    * rating matrix stays pair-sized. The matrix is symmetrized so the
    * user-side factors cover every node and serve as THE embedding
    * (item factors are the context vectors, word2vec's second matrix).
    */
  def factorizeCooc(
      cooc: DataFrame,
      rank: Int = 16,
      iters: Int = 10,
      reg: Double = 0.01,
      seed: Long = 42L): DataFrame = {
    val spark = cooc.sparkSession
    val ppmi = cooc
      .select(col("node1"), col("node2"),
        greatest(lit(0.0),
          log(col("lift_micro").cast("double") / lit(1e6))).as("rating"))
    val sym = ppmi.unionByName(
      ppmi.select(col("node2").as("node1"), col("node1").as("node2"), col("rating")))
    // Deterministic contiguous int ids over the VOCABULARY: distributed
    // sort + zipWithIndex (no single-task row_number window; ALS needs
    // ints, and hash-derived ids could collide).
    val nodes = sym.select("node1").distinct()
    val idx = Superstep.pin(spark.createDataFrame(
      nodes.rdd.sortBy(_.get(0).toString).zipWithIndex()
        .map { case (r, i) => Row.fromSeq(r.toSeq :+ i.toInt) },
      nodes.schema.add("id", IntegerType))
      .withColumnRenamed("node1", "node"))
    val ratings = sym
      .join(idx.select(col("node").as("node1"), col("id").as("u")), Seq("node1"))
      .join(idx.select(col("node").as("node2"), col("id").as("v")), Seq("node2"))
      .select(col("u"), col("v"), col("rating").cast("float").as("rating"))
    val model = new ALS()
      .setRank(rank).setMaxIter(iters).setRegParam(reg).setSeed(seed)
      .setUserCol("u").setItemCol("v").setRatingCol("rating")
      .fit(ratings)
    model.userFactors
      .join(idx, model.userFactors("id") === idx("id"))
      .select(col("node"), col("features").as("embedding"))
  }

  /** The full sample→pair→train pipeline on the packed customer–supplier
    * graph: g25's deterministic walk corpus → g28's windowed lift
    * matrix → ALS-factorized embeddings on the decoded display ids.
    */
  def embedWalkGraph(
      spark: SparkSession, dir: String,
      rank: Int = 16, iters: Int = 10): DataFrame =
    factorizeCooc(GraphIter.g28WalkCooc(spark, dir), rank, iters)
}
