package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MMR (Maximal Marginal Relevance, Carbonell & Goldstein SIGIR'98)
  * diversified re-ranking — the serving-side step between retrieval and
  * the consumer: a plain top-k returns five near-copies of the same
  * document when the corpus has near-dup clusters (which is exactly what
  * the d-family proves it has); MMR greedily picks the next result to
  * maximize `λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)`, trading
  * relevance against redundancy with what is already shown.
  *
  * The design point is the s12 asymmetry: corpus-sized work stays in the
  * CANDIDATE stage (s1's audited broadcast-scan top-k here; swappable
  * for s9's probe-routed tier or s10's IVFPQ at 100 TB without touching
  * the re-rank), and the re-rank itself consumes |queries|·kCand rows —
  * result-sized. The greedy selection is genuinely sequential (each pick
  * depends on all previous picks), so it runs per query group over ≤
  * kCand in-memory rows via `flatMapGroups` — the e2/e4 typed-group
  * escape hatch, used exactly where declarative unrolling would re-join
  * the candidate set k times for zero parallelism gain (groups are tiny
  * and hash-spread across the cluster; no task ever sees more than one
  * query's candidates... per group).
  *
  * Determinism: relevance and pair similarity reuse the cosine kernel's
  * exact accumulation order ([[cosineD]] mirrors
  * [[org.apache.spark.sql.graft.CosineSimilarity]] loop-for-loop), the
  * MMR score is the literal `0.5·rel − 0.5·maxSim` double expression on
  * both engines, and ties break on neighbor id — the DuckDB oracle
  * re-derives the whole greedy selection with unrolled steps, so the
  * gate pins selection order, not just membership. Output is ids+ranks
  * only (the s1/d5 discipline: no float column reaches the hash).
  */
object Mmr {

  /** Cosine with the exact op order of the native kernel (dot/√(na·nb),
    * sequential float-to-double accumulation) so driver-side selection
    * agrees bit-for-bit with plans that scored via the expression.
    */
  private[graft] def cosineD(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val xi = a(i).toDouble; val yi = b(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi; i += 1
    }
    dot / math.sqrt(na * nb)
  }

  /** Candidate row for the typed re-rank stage. Public: the Dataset
    * encoder's generated deserializer must be able to construct it.
    */
  case class Cand(query_id: Long, neighbor_id: Long, rel: Double, emb: Array[Float])

  /** The greedy MMR pick over one query's candidate list. */
  private[graft] def mmrSelect(
      cands: Seq[Cand], kSel: Int): Seq[(Long, Int, Long)] = {
    val remaining = scala.collection.mutable.ArrayBuffer(cands: _*)
    val selected = scala.collection.mutable.ArrayBuffer[Cand]()
    val out = scala.collection.mutable.ArrayBuffer[(Long, Int, Long)]()
    var rank = 1
    while (rank <= kSel && remaining.nonEmpty) {
      var bestIdx = -1; var bestScore = Double.NegativeInfinity; var bestId = Long.MaxValue
      var i = 0
      while (i < remaining.length) {
        val c = remaining(i)
        var ms = Double.NegativeInfinity
        selected.foreach { s => val v = cosineD(c.emb, s.emb); if (v > ms) ms = v }
        val score = if (selected.isEmpty) 0.5 * c.rel else 0.5 * c.rel - 0.5 * ms
        if (score > bestScore || (score == bestScore && c.neighbor_id < bestId)) {
          bestIdx = i; bestScore = score; bestId = c.neighbor_id
        }
        i += 1
      }
      val pick = remaining.remove(bestIdx)
      selected += pick
      out += ((pick.query_id, rank, pick.neighbor_id))
      rank += 1
    }
    out.toSeq
  }

  /** s13: s1's top-`kCand` candidates per query, re-ranked to `kSel`
    * diversified results by MMR with λ = 1/2.
    */
  def s13MmrRerank(
      spark: SparkSession, dir: String, kCand: Int = 10, kSel: Int = 5): DataFrame = {
    import spark.implicits._
    val t = graft.Tables(spark, dir)
    val cands = Search.pairs(Search.corpus(t.embeddings), Search.queries(t.embeddings))
      .withColumn("rel", Ann.cosine(col("q_emb"), col("n_emb")))
      .transform(Search.topK(col("rel").desc, kCand))
      .select(col("query_id"), col("neighbor_id"), col("rel"), col("n_emb").as("emb"))
      .as[Cand]
    cands.groupByKey(_.query_id)
      .flatMapGroups { (_, it) => mmrSelect(it.toSeq, kSel) }
      .toDF("query_id", "rank", "neighbor_id")
      .orderBy("query_id", "rank")
  }
}
