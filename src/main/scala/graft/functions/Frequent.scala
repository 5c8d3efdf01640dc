package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Superstep, Tables}

/** Exact heavy hitters without shuffling the distinct domain — the
  * two-pass Misra-Gries + recount construction (Misra & Gries 1982;
  * merged-summary guarantee per Agarwal et al. 2013, "Mergeable
  * Summaries", PODS): the classic way to ask "top-k most frequent
  * tokens" of a 100 TB corpus whose DISTINCT token domain is itself
  * billions of rows.
  *
  * Why not `groupBy(token).count.orderBy.limit(k)`: partial aggregation
  * combines map-side, but the exchange still carries one row per
  * distinct token per mapper — the shuffle is the distinct domain. The
  * sketch pass instead keeps a BOUNDED `m`-counter Misra-Gries summary
  * per partition (mapPartitions, one hash map, decrement-on-overflow),
  * so only `m × partitions` candidate rows ever leave the mappers. The
  * merged candidate union carries the mergeable-summary guarantee:
  * every item with global frequency > N/(m+1) survives in at least one
  * partition summary (an item missed everywhere was decremented away,
  * which costs > Nᵖ/(m+1) occurrences in each partition p — summing
  * over partitions bounds its global count by N/(m+1)).
  *
  * Pass 2 recounts ONLY the candidates exactly (broadcast membership
  * filter under the count — a bounded-key aggregate), and the result
  * carries an EXACTNESS CERTIFICATE: if the k-th candidate's exact
  * count exceeds N/(m+1), no non-candidate can outrank it, so the
  * top-k is provably the true top-k. When the certificate fails (tiny
  * corpora, pathological flat distributions) the operator ROUTES to
  * the plain exact aggregate — the q16/g4 measure-then-route pattern:
  * the sketch is a cost optimization, never an answer change, and the
  * output is bit-identical to the naive form either way (ties break
  * count desc, token asc on both paths and in the oracle).
  *
  * Reference behavior: the scraper's per-entity tally reports
  * (mysql2neo4j.py:248-253) asked at corpus scale — "what dominates
  * this column" as a bounded-memory query.
  */
object Frequent {

  /** Per-partition Misra-Gries summary of size `m` over an iterator of
    * tokens: at most m counters; an overflowing insert decrements every
    * counter (dropping zeros) — the classic frequent-items step.
    */
  private[graft] def misraGries(it: Iterator[String], m: Int): Iterator[(String, Long)] = {
    val counters = new java.util.HashMap[String, Long](m * 2)
    it.foreach { t =>
      val c = counters.get(t)
      if (c != 0L || counters.containsKey(t)) counters.put(t, c + 1L)
      else if (counters.size < m) counters.put(t, 1L)
      else {
        // Decrement all; remove exhausted counters.
        val e = counters.entrySet().iterator()
        while (e.hasNext) {
          val kv = e.next()
          if (kv.getValue == 1L) e.remove() else kv.setValue(kv.getValue - 1L)
        }
      }
    }
    import scala.jdk.CollectionConverters._
    counters.entrySet().iterator().asScala.map(kv => (kv.getKey, kv.getValue))
  }

  /** Exact top-k most frequent values of `tokens` (a single string
    * column "token"), via the sketch→certificate→recount plan with the
    * exact-aggregate fallback. Output (token, n) ordered by
    * (n desc, token asc), deterministically — identical on both routes.
    */
  def topKFrequent(tokens: DataFrame, k: Int, m: Int = 4096): DataFrame =
    certifiedTopK(tokens, k, m).getOrElse {
      // Fallback route: the plain exact aggregate — same answer,
      // domain-sized shuffle. The certificate guarantees the two routes
      // are bit-identical whenever the sketch route is taken at all.
      tokens.select("token")
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(k)
    }

  /** The sketch route alone: Some(top-k) iff the exactness certificate
    * holds, None when the recounted candidates cannot prove the top-k
    * (the caller then routes to the plain exact aggregate). Exposed so
    * specs can pin WHICH route answered, not just that the answers agree.
    */
  private[graft] def certifiedTopK(tokens: DataFrame, k: Int, m: Int): Option[DataFrame] = {
    val spark = tokens.sparkSession
    import spark.implicits._
    val toks = tokens.select(col("token")).as[String]
    // Pass 1: bounded per-partition summaries (m×P rows) PLUS each
    // partition's row count carried as a null-token sentinel — the corpus
    // total the certificate needs is a metric on the pin job instead of a
    // third full pass. Pinned because the candidate aggregate reads it
    // after the total is known; without the pin it would rescan the corpus.
    val (summaries, Seq(total)) = Superstep.pin(toks.mapPartitions { it =>
      var n = 0L
      val mg = misraGries(it.map { t => n += 1; t }, m)
      // misraGries drains the iterator before returning, so n is final.
      mg.map { case (t, c) => (t, c) } ++ Iterator((null: String, n))
    }.toDF("token", "mg_cnt"), sum(when(col("token").isNull, col("mg_cnt"))))
    // The candidate set stays a DATAFRAME: merged it is bounded by m×P
    // rows, which at production partition counts is 10⁵-10⁶ — far too
    // many to splat into an `isin` literal list (analyzer/codegen blowup)
    // or collect to the driver at all.
    val candidates = summaries.filter(col("token").isNotNull)
      .groupBy("token").agg(sum("mg_cnt").as("mg_cnt"))
    // Pass 2: exact recount of the bounded candidate set only. The
    // membership filter is a semi-join the planner sizes from the
    // summaries pin (broadcast when the candidates fit), so no literal
    // list ever reaches the plan.
    val exactCand = toks.toDF("token")
      .join(candidates.select("token"), Seq("token"), "left_semi")
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(k)
    val top = exactCand.collect()
    Superstep.release(summaries)
    // Certificate: the k-th exact candidate count must beat the maximum
    // possible count of any NON-candidate (N/(m+1)). Holds whenever the
    // distribution has real heavy hitters.
    val certified = top.length >= k && top.last.getLong(1) > total / (m + 1)
    if (certified)
      Some(spark.createDataFrame(spark.sparkContext.parallelize(top.toIndexedSeq, 1),
        exactCand.schema))
    else None
  }

  /** t30: exact top-10 frequent ≥5-char tokens over the document corpus
    * (s8's tokenization), answered by the sketch-certified plan. k=10 <
    * the corpus' distinct ≥5-char vocabulary, so the driver gate runs
    * the CERTIFIED route (the spec forces and pins the fallback with
    * m=2); the oracle is route-blind — the naive exact top-k.
    */
  def t30HeavyHitters(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val toks = Tables(spark, dir).documents
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) >= 5)
    topKFrequent(toks, k)
  }
}
