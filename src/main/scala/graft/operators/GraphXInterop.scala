package graft.operators

import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** GraphX interop — the north-star's named analysis engine, provided as a
  * bridge for users arriving from RDD-based graph code.
  *
  * graft's shipped graph operators iterate over DataFrames
  * ([[GraphIter]]) rather than GraphX RDDs: Catalyst/Tungsten give the
  * loops whole-stage codegen, AQE re-planning and columnar shuffle, and
  * the integer fixed-point recurrence is bit-reproducible across engines
  * — properties the RDD path lacks at 100 TB (SURVEY §1 documents the
  * choice). This module keeps the GraphX surface available anyway: the
  * same long-keyed edge DataFrames convert losslessly, so a user can run
  * their existing GraphX analysis unchanged, then migrate hot queries to
  * the DataFrame operators. The agreement spec (GraphXSpec) pins the two
  * engines to the same ranking on the shared graph.
  */
object GraphXInterop {

  /** PageRank via GraphX's `staticPageRank` over the same packed-long
    * customer/supplier bipartite graph [[GraphIter.g6PageRank]] uses
    * (symmetrized, deduplicated). Float ranks with GraphX's 0.15 reset —
    * the classic formulation; for the bit-reproducible fixed-point form
    * use [[GraphIter.pageRankMicro]].
    */
  def pageRankGraphX(edges: DataFrame, iterations: Int = 10): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val sym = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .unionByName(edges.select(col("dst").cast("long").as("src"), col("src").cast("long").as("dst")))
      .distinct()
    val edgeRdd = sym.as[(Long, Long)].rdd.map { case (s, d) => Edge(s, d, 1) }
    val graph = Graph.fromEdges(edgeRdd, defaultValue = 1.0)
    val ranks = graph.staticPageRank(iterations).vertices
    spark.createDataFrame(ranks).toDF("node", "rank")
  }

  /** Hop distances via GraphX's Pregel-based `lib.ShortestPaths` over the
    * same symmetrized long-keyed edges [[GraphIter.shortestPaths]] walks —
    * an INDEPENDENT engine computing the same BFS semantics, which is what
    * makes the agreement spec a real cross-check (two implementations, one
    * truth). GraphX has no depth bound, so the bridge filters to
    * `maxDepth` after the fact; nodes out of seed reach carry no entry in
    * the landmark map and are dropped, matching the DataFrame operator's
    * reachable-only output.
    */
  def shortestPathsGraphX(edges: DataFrame, seeds: Seq[Long], maxDepth: Int = 6): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val sym = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .unionByName(edges.select(col("dst").cast("long").as("src"), col("src").cast("long").as("dst")))
      .distinct()
    val edgeRdd = sym.as[(Long, Long)].rdd.map { case (s, d) => Edge(s, d, 1) }
    val graph = Graph.fromEdges(edgeRdd, defaultValue = 1.0)
    val res = org.apache.spark.graphx.lib.ShortestPaths.run(graph, seeds)
    val dists = res.vertices.flatMap { case (v, spMap) =>
      if (spMap.isEmpty) None else Some((v, spMap.values.min.toLong))
    }
    spark.createDataFrame(dists).toDF("node", "dist")
      .filter(col("dist") <= maxDepth)
  }

  /** PER-LANDMARK hop distances from the same GraphX `lib.ShortestPaths`
    * run — the landmark map exploded instead of min-reduced, which is
    * exactly [[GraphIter.labeledShortestPaths]]'s semantics (and so the
    * independent engine for the g16 closeness agreement spec).
    */
  def labeledShortestPathsGraphX(edges: DataFrame, seeds: Seq[Long], maxDepth: Int = 6): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val sym = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .unionByName(edges.select(col("dst").cast("long").as("src"), col("src").cast("long").as("dst")))
      .distinct()
    val edgeRdd = sym.as[(Long, Long)].rdd.map { case (s, d) => Edge(s, d, 1) }
    // Graph.fromEdges materializes only vertices with incident edges; a
    // landmark isolated from the edge set would silently vanish, while
    // the DataFrame operator seeds it unconditionally and emits
    // (lm, lm, 0). Add the landmark vertices explicitly so both engines
    // agree on isolated landmarks too.
    val seedVerts = spark.sparkContext.parallelize(seeds.map(l => (l, 1.0)))
    val graph = Graph(seedVerts, edgeRdd, defaultVertexAttr = 1.0)
    val res = org.apache.spark.graphx.lib.ShortestPaths.run(graph, seeds)
    val dists = res.vertices.flatMap { case (v, spMap) =>
      spMap.toSeq.map { case (lm, d) => (lm, v, d.toLong) }
    }
    spark.createDataFrame(dists).toDF("lm", "node", "dist")
      .filter(col("dist") <= maxDepth)
  }

  /** Connected components via GraphX's Pregel implementation over the
    * same symmetrized long-keyed edges [[GraphIter.connectedComponents]]
    * hash-min-iterates — a third independent engine (after the DuckDB
    * recursive-CTE oracle) agreeing on component structure. GraphX labels
    * each component by its min vertex id, the same canonical label the
    * DataFrame loop converges to, so agreement is exact equality.
    */
  def connectedComponentsGraphX(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val sym = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .unionByName(edges.select(col("dst").cast("long").as("src"), col("src").cast("long").as("dst")))
      .distinct()
    val edgeRdd = sym.as[(Long, Long)].rdd.map { case (s, d) => Edge(s, d, 1) }
    val graph = Graph.fromEdges(edgeRdd, defaultValue = 1.0)
    val comps = graph.connectedComponents().vertices
      .map { case (v, c) => (v, c.toLong) }
    spark.createDataFrame(comps).toDF("node", "component")
  }

  /** Per-node triangle counts via GraphX's `TriangleCount` over an
    * already-canonical (src < dst, distinct) edge list — the independent
    * engine for the g7/g18 agreement spec (exact integer counts on both
    * sides, so agreement is bit-for-bit).
    */
  def triangleCountGraphX(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val edgeRdd = edges.toDF("src", "dst")
      .select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].rdd.map { case (s, d) => Edge(s, d, 1) }
    val graph = Graph.fromEdges(edgeRdd, defaultValue = 1)
      .partitionBy(org.apache.spark.graphx.PartitionStrategy.RandomVertexCut)
    val tc = graph.triangleCount().vertices.map { case (v, c) => (v, c.toLong) }
    spark.createDataFrame(tc).toDF("node", "n_triangles")
  }

  /** Personalized PageRank via GraphX's `staticPersonalizedPageRank` over
    * the same symmetrized long-keyed edges
    * [[GraphIter.personalizedPageRankMicro]] iterates — the independent
    * engine for the g14 agreement spec. Same recurrence (0.15 restart to
    * the source, 0.85 damped degree-normalized flow), float arithmetic
    * instead of integer micro-units, so agreement is on induced ranking
    * and support, not bit equality.
    */
  def personalizedPageRankGraphX(edges: DataFrame, src: Long, iterations: Int = 6): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val sym = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .unionByName(edges.select(col("dst").cast("long").as("src"), col("src").cast("long").as("dst")))
      .distinct()
    val edgeRdd = sym.as[(Long, Long)].rdd.map { case (s, d) => Edge(s, d, 1) }
    val graph = Graph.fromEdges(edgeRdd, defaultValue = 1.0)
    val ranks = graph.staticPersonalizedPageRank(src, iterations).vertices
    spark.createDataFrame(ranks).toDF("node", "rank")
  }

  /** g6's graph through the GraphX path (same packed-long node ids,
    * decoded to the display form).
    */
  def g6PageRankGraphX(spark: SparkSession, dir: String): DataFrame =
    pageRankGraphX(GraphIter.packedEdges(graft.Tables(spark, dir)))
      .select(GraphIter.decodePacked(col("node")).as("node"), col("rank"))
      .orderBy("node")
}
