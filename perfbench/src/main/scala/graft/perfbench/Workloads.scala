package graft.perfbench

import org.apache.spark.sql.SparkSession

/** A workload: the operator keys one pass calls, in order. Its scale is
  * the input directory `run.py` generates for it. NOTES.md says why each
  * workload and key was chosen. */
final case class Workload(name: String, keys: Seq[String])

object Workloads {
  val all: Seq[Workload] = Seq(
    Workload("iterative", Seq("g5_connected_components", "m7_media_resolve")),
    Workload("single_pass", Seq(
      "g1_same_group_pairs", "g2_overlap_pairs", "q12_multi_distinct", "q15_auto_distinct",
      "q23_routed_join", "e6_interval_join", "s1_cosine_topk", "d3_minhash_lsh",
      "t9_ngram_freq", "h1_upsert_dim")),
    Workload("volume_sf1", Seq("q2_join_agg", "g4_two_hop")))

  def apply(name: String): Workload =
    all.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))

  /** The layer of each key: the package of the object that implements it
    * in `SparkEntry.queries` (not its key prefix: d5 is `similarity.Ann`,
    * s8 is `functions.Retrieval`, h6 is `sources.Upsert`).
    */
  val module: Map[String, String] = Map(
    "g5_connected_components" -> "graph_iter", // GraphIter
    "g1_same_group_pairs" -> "graph_ops", // GraphOps
    "g2_overlap_pairs" -> "graph_ops",
    "g4_two_hop" -> "graph_ops",
    "q2_join_agg" -> "relational", // Relational
    "q12_multi_distinct" -> "relational",
    "q15_auto_distinct" -> "relational",
    "q23_routed_join" -> "relational",
    "e6_interval_join" -> "streaming", // streaming.Events
    "s1_cosine_topk" -> "similarity", // similarity.Ann
    "d3_minhash_lsh" -> "dedup", // dedup.Dedup
    "t9_ngram_freq" -> "functions", // functions.TextFuncs
    "m7_media_resolve" -> "multimodal", // multimodal.Media
    "h1_upsert_dim" -> "sources") // sources.Upsert
  require(all.flatMap(_.keys).forall(module.contains), "every workload key needs a layer")

  val modules: Seq[String] = Seq("sources", "relational", "graph_ops", "graph_iter",
    "dedup", "similarity", "functions", "multimodal", "streaming")

  /** Shared memoized products, built by name during set-up when a pass
    * calls one of their consumers (as `graft.Bench` bills them). */
  val memos: Seq[(String, Set[String], (SparkSession, String) => Unit)] = Seq(
    ("Dedup.nearDupPairs",
      Set("d3_minhash_lsh", "d6_dedup_resolve", "d11_dedup_report", "t29_split_leakage"),
      (s, d) => { graft.dedup.Dedup.nearDupPairs(s, d).count(); () }))
}
