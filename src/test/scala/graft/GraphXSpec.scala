package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Agreement spec between the GraphX bridge and the shipped DataFrame
  * fixed-point PageRank: both engines must induce (near-)identical
  * rankings on the same graph — the evidence that the DataFrame
  * formulation is the same analysis, not a different algorithm.
  */
class GraphXSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.create("graft-graphx-test", master = "local[4]")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("GraphX staticPageRank and the DataFrame fixed-point agree on the induced ranking") {
    val micro = operators.GraphIter.g6PageRank(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val gx = operators.GraphXInterop.g6PageRankGraphX(spark, dir)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(gx.keySet === micro.keySet)
    // Same top-decile membership: GraphX floats (0.15 reset, float sums)
    // vs integer micro-units can swap close neighbors, but the influence
    // ranking itself must be the same analysis.
    val k = math.max(10, micro.size / 10)
    val topMicro = micro.toSeq.sortBy { case (n, r) => (-r, n) }.take(k).map(_._1).toSet
    val topGx = gx.toSeq.sortBy { case (n, r) => (-r, n) }.take(k).map(_._1).toSet
    val overlap = topMicro.intersect(topGx).size.toDouble / k
    assert(overlap >= 0.8, f"top-$k overlap = $overlap%.2f")
  }

  test("GraphX staticPersonalizedPageRank and the micro-unit PPR agree on support and ranking") {
    val ss = spark
    import ss.implicits._
    // Crafted graph: a 2-community structure bridged by one edge, plus a
    // disconnected pair — support (reachability from the seed) must agree
    // exactly, ranking near-exactly.
    val edges = Seq(
      (1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L),   // community A
      (5L, 6L), (6L, 7L), (6L, 8L), (7L, 8L), (8L, 9L),   // community B
      (20L, 21L)                                          // unreachable from seed 1
    ).toDF("src", "dst")
    val seeds = Seq(Tuple1(1L)).toDF("node")
    val micro = operators.GraphIter.personalizedPageRankMicro(edges, seeds, iterations = 6)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("rank")).toMap
    val gx = operators.GraphXInterop.personalizedPageRankGraphX(edges, 1L, iterations = 6)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Double]("rank")).toMap
    // Support: both engines must reach exactly the seed's 6-hop component
    // and give the disconnected pair nothing.
    val gxPos = gx.filter(_._2 > 0).keySet
    val microPos = micro.filter(_._2 > 0).keySet
    assert(microPos === gxPos)
    assert(!microPos.contains(20L) && !microPos.contains(21L))
    // Ranking: integer truncation vs float can swap near-ties, but the
    // seed-proximity ordering is the same analysis — demand the top half
    // (well separated by construction) match as an ordered sequence.
    val k = microPos.size / 2
    val topMicro = micro.toSeq.sortBy { case (n, r) => (-r, n) }.take(k).map(_._1)
    val topGx = gx.toSeq.sortBy { case (n, r) => (-r, n) }.take(k).map(_._1)
    assert(topMicro === topGx, s"micro=$topMicro gx=$topGx")
  }

  test("GraphX Pregel ShortestPaths and the DataFrame BFS agree exactly") {
    // Hop distance is integral, so unlike PageRank the two engines must
    // agree bit-for-bit: same reachable set, same distances, both on the
    // g9 graph and on a crafted graph with unreachable nodes.
    val t = Tables(spark, dir)
    val edges = t.lineitem
      .join(t.orders, org.apache.spark.sql.functions.col("l_orderkey") ===
        org.apache.spark.sql.functions.col("o_orderkey"))
      .selectExpr("o_custkey * 2 AS src", "l_suppkey * 2 + 1 AS dst")
      .distinct()
    val seeds = (0 until 5).map(k => k.toLong * 2 + 1)
    val seedsDf = spark.createDataFrame(seeds.map(Tuple1(_))).toDF("node")
    val df = operators.GraphIter.shortestPaths(edges, seedsDf, maxDepth = 6)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("dist")).toMap
    val gx = operators.GraphXInterop.shortestPathsGraphX(edges, seeds, maxDepth = 6)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("dist")).toMap
    assert(df === gx)
    assert(df.nonEmpty)
  }

  test("GraphX Pregel connectedComponents and the DataFrame hash-min loop agree exactly") {
    // Component labels are both canonical min-vertex-ids, so the two
    // engines must match bit-for-bit — on a crafted multi-component
    // graph (two chains and an isolated edge).
    val ss = spark
    import ss.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (20L, 21L)).toDF("src", "dst")
    val df = operators.GraphIter.connectedComponents(edges)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("label")).toMap
    val gx = operators.GraphXInterop.connectedComponentsGraphX(edges)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("component")).toMap
    assert(df === gx)
    assert(df === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("GraphX connectedComponents and the hash-min loop agree with the state spread out") {
    val ss = spark
    import ss.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (20L, 21L)).toDF("src", "dst")
    val df = TestConf.spreadState(spark) {
      operators.GraphIter.connectedComponents(edges)
        .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("label")).toMap
    }
    val gx = operators.GraphXInterop.connectedComponentsGraphX(edges)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("component")).toMap
    assert(df === gx)
    assert(df === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents equals a driver-side union-find on random graphs at 1, 3 and 8 partitions") {
    val ss = spark
    import ss.implicits._
    val rnd = new scala.util.Random(20131)
    // Sparse random graphs (ids drawn from a range wider than the node
    // count, so chains, stars, cycles and singletons all occur), numeric
    // and string ids.
    val graphs = (0 until 6).map { g =>
      val n = 5 + rnd.nextInt(60)
      val ids = (0 until n).map(_ => rnd.nextInt(500).toLong).distinct
      (g, Seq.fill(n + rnd.nextInt(n))((ids(rnd.nextInt(ids.size)), ids(rnd.nextInt(ids.size)))))
    }
    def reference[K](edges: Seq[(K, K)])(implicit ord: Ordering[K]): Map[K, K] = {
      val parent = scala.collection.mutable.Map[K, K]()
      def find(x: K): K = { val p = parent.getOrElseUpdate(x, x); if (p == x) x else find(p) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
      }
      parent.keys.map(k => k -> find(k)).toMap
    }
    for ((g, edges) <- graphs; parts <- Seq(1, 3, 8)) {
      val (got, gotStr) = TestConf.spreadState(spark, parts) {
        (operators.GraphIter.connectedComponents(edges.toDF("src", "dst"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
         operators.GraphIter.connectedComponents(
            edges.map { case (a, b) => (f"v$a%03d", f"v$b%03d") }.toDF("src", "dst"))
          .collect().map(r => r.getString(0) -> r.getString(1)).toMap)
      }
      assert(got === reference(edges), s"graph $g at $parts partitions")
      assert(gotStr === reference(edges.map { case (a, b) => (f"v$a%03d", f"v$b%03d") }),
        s"string graph $g at $parts partitions")
    }
  }

  test("GraphX TriangleCount and the DataFrame wedge pipeline agree exactly") {
    val ss = spark
    import ss.implicits._
    // Two overlapping triangles + an isolated edge: per-node counts
    // 1→1, 2→2, 3→2, 4→1, 5/6→0.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L), (5L, 6L))
      .toDF("a", "b")
    val df = operators.GraphIter.triangleCounts(edges)
      .collect().map(r => r.getAs[Long]("suppkey") -> r.getAs[Long]("n_triangles")).toMap
    assert(df === Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
    val gx = operators.GraphXInterop.triangleCountGraphX(edges)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("n_triangles")).toMap
      .filter(_._2 > 0)
    assert(gx === df)
    // And on the real co-purchase graph (sf0.01 — the sf0.001 graph is
    // empty): exact integer counts must match node-for-node.
    val t = Tables(spark, "/root/testdata/sf0.01")
    val real = operators.GraphIter.coPurchaseEdges(t)
    val dfReal = operators.GraphIter.triangleCounts(real)
      .collect().map(r => r.getAs[Long]("suppkey") -> r.getAs[Long]("n_triangles")).toMap
    val gxReal = operators.GraphXInterop.triangleCountGraphX(real)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("n_triangles")).toMap
      .filter(_._2 > 0)
    real.unpersist()
    assert(dfReal.nonEmpty, "degenerate gate: no triangles at sf0.01")
    assert(gxReal === dfReal)
  }

  test("labeled BFS agrees exactly with GraphX per-landmark ShortestPaths") {
    val ss = spark
    import ss.implicits._
    // Chain + branch + unreachable pair: distances differ per landmark,
    // and the depth bound (3) cuts the far tail on both engines.
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (2L, 7L), (7L, 8L),
      (30L, 31L)
    ).toDF("src", "dst")
    // Landmark 40 has no incident edges: both engines must still emit its
    // (40, 40, 0) self-row (the GraphX bridge adds seed vertices
    // explicitly — Graph.fromEdges alone would drop it).
    val landmarks = Seq(1L, 4L, 40L)
    val seeds = landmarks.map(l => (l, l)).toDF("lm", "node")
    val df = operators.GraphIter.labeledShortestPaths(edges, seeds, maxDepth = 3)
      .collect().map(r => (r.getAs[Long]("lm"), r.getAs[Long]("node")) -> r.getAs[Long]("dist")).toMap
    val gx = operators.GraphXInterop.labeledShortestPathsGraphX(edges, landmarks, maxDepth = 3)
      .collect().map(r => (r.getAs[Long]("lm"), r.getAs[Long]("node")) -> r.getAs[Long]("dist")).toMap
    assert(df === gx)
    assert(df((1L, 4L)) === 3L && df((4L, 1L)) === 3L && df((4L, 7L)) === 3L)
    assert(!df.contains((4L, 8L)), "node 8 is 4 hops from landmark 4 — past the depth bound")
    assert(!df.keySet.exists { case (_, n) => n == 30L || n == 31L })
    assert(df((40L, 40L)) === 0L, "isolated landmark must keep its self-row")
    assert(df.keySet.count(_._1 == 40L) === 1, "isolated landmark reaches nothing else")
  }
}
