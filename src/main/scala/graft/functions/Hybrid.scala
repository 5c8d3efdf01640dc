package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Route, Tables}
import graft.similarity.Ann

/** Hybrid retrieval — lexical BM25 and semantic ANN fused by Reciprocal
  * Rank Fusion (Cormack et al., SIGIR 2009). The two retrieval families
  * this engine already ships disagree in exactly the useful way: term
  * scoring (s8/s11) nails exact-phrase recall and rare-token precision,
  * embedding search (s1/s9/s10) nails paraphrase and synonymy. Every
  * production RAG/curation stack therefore runs BOTH and merges; RRF is
  * the standard merge because it needs no score calibration — only the
  * RANKS travel out of each leg, so a 16-digit BM25 score and a [0,1]
  * cosine never have to share a scale.
  *
  * Scale shape: each leg is its own already-audited retrieval plan (the
  * lexical leg is the s8 pruned-postings equijoin, the semantic leg the
  * s1 broadcast-query corpus scan — swappable for the s11 persisted
  * index and the s10 IVF+PQ tier at 100 TB without touching the fusion,
  * because the fusion consumes ONLY (qid, doc_id, rank) rows). The legs
  * end in top-kLeg per query, so the fusion input is |queries|·2·kLeg
  * rows — a few hundred — and the merge is one tiny hash aggregate.
  * Nothing corpus-sized ever reaches the fusion stage; that asymmetry
  * (corpus work inside the legs, rank algebra after them) is the whole
  * design.
  *
  * Fusion arithmetic is exact fixed-point: contribution of a leg rank r
  * is 1_000_000 DIV (rrfK + r) (floor division — the s8 discipline), so
  * fused scores are integers, bit-reproducible on any engine, with ties
  * broken on doc_id. rrfK=60 is the constant from the original paper.
  */
object Hybrid {

  /** s12: RRF fusion of the BM25 top-kLeg and cosine top-kLeg per query.
    * Query q's lexical form is s8's synthesized 2-term query qid=q; its
    * semantic form is the embedding vector vec_id=q (the corpus aligns
    * embeddings.vec_id with documents.doc_id 1:1, so the fused doc ids
    * name one corpus). Output: (qid, doc_id, rrf_micro, n_legs, rnk).
    */
  def s12HybridRrf(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 4,
      kLeg: Int = 10,
      k: Int = 10,
      rrfK: Int = 60): DataFrame = {
    val lex = Retrieval.s8Bm25TopK(spark, dir, nQueries, kLeg)
      .select(col("qid"), col("doc_id"), col("rnk").as("r"))

    val t = Tables(spark, dir)
    val queries = t.embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("q_emb"))
    val corpus = t.embeddings
      .select(col("vec_id").as("doc_id"), col("embedding").as("n_emb"))
    val wSem = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("doc_id").asc)
    // No self-exclusion: the query VECTOR is doc q's embedding but the
    // query itself is not a corpus document — doc q is a legitimate
    // (and by construction the top) semantic hit, exactly as a near-
    // verbatim quote would be in production.
    val sem = corpus
      .crossJoin(Route.small(queries, nQueries))
      .withColumn("sim", Ann.cosine(col("q_emb"), col("n_emb")))
      .withColumn("r", row_number().over(wSem).cast("long"))
      .filter(col("r") <= kLeg)
      .select(col("qid"), col("doc_id"), col("r"))

    val wFused = Window.partitionBy(col("qid"))
      .orderBy(col("rrf_micro").desc, col("doc_id").asc)
    lex.unionByName(sem)
      .withColumn("contrib", expr(s"1000000 DIV ($rrfK + r)"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("contrib")).as("rrf_micro"), count(lit(1)).as("n_legs"))
      .withColumn("rnk", row_number().over(wFused).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("doc_id"), col("rrf_micro"), col("n_legs"), col("rnk"))
      .orderBy("qid", "rnk")
  }
}
