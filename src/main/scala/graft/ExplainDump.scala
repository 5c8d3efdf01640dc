package graft

/** Dev utility: dump formatted physical plans for plan audits. */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args.drop(1).toSeq
                else Seq("q1_pricing_agg", "q2_join_agg", "g1_same_group_pairs", "s1_cosine_topk", "e1_tumbling_agg")
    val spark = GraftSession.create("explain-dump")
    // Internal (pre-pin) pipelines, addressable as `_name`: eager
    // localCheckpoints cut a query's visible plan at the pin, so the
    // stages a pin hides need their own entry to be plan-auditable.
    // Edge builder and cutoff are the PRODUCTION ones (GraphOps.
    // purchaseEdges / defaultHubCutoff — r16 advice #1): if g13/g20
    // change their edge construction or default, these dumps follow.
    // `_g13g20_wedge` is the pair stage of the substrate both keys
    // consume (r17), here over the unpinned edge build; `_g13_pairs`
    // stays addressable as the spec-pinned g13-only formulation.
    val cutoff = operators.GraphOps.defaultHubCutoff
    def edges(d: String) = operators.GraphOps.purchaseEdges(spark, d)
    val internal: Map[String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame] = Map(
      "_g13g20_wedge" -> ((ss, d) => operators.GraphOps.linkPredictionPairs(edges(d), cutoff)),
      "_g13_pairs" -> ((ss, d) => operators.GraphOps.nodeSimilarityPairs(edges(d), cutoff)))
    names.foreach { n =>
      println(s"===== $n =====")
      val df = internal.get(n).map(_(spark, dir))
        .getOrElse(SparkEntry.queries(n)(spark, dir))
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
