package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.graft.LocalComponents
import graft.{Superstep, Tables}

/** Iterative graph analytics as DataFrame loops (Pregel-style).
  *
  * The reference loads its leader graph into Neo4j and runs traversals
  * there; at 100 TB an OLTP graph store is not an option, so community
  * discovery / influence ranking become synchronous iterations over an edge
  * DataFrame: each superstep is a bounded number of shuffles keyed by the
  * node id, and every frontier/label set is pinned ([[graft.Superstep]]) so
  * lineage stays O(1) in the iteration count. A loop that replaces its
  * state runs on [[graft.Superstep.iterate]], one that keeps its layers
  * (BFS, walks, Brandes' forward phase) on [[graft.Superstep.expand]];
  * neither spends an extra action on its stop rule.
  * Min-propagation ([[connectedComponents]], [[minRelaxTraverse]] and
  * what runs on it) shares one vertex-state loop, [[minPropagate]]: each
  * node's pinned row carries its adjacency, so a superstep is one
  * exchange plus its pin and never joins the edge list again. Connected
  * components also settle each partition's components locally after
  * every fold, so only labels that cross partitions take supersteps.
  */
object GraphIter {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass.getName.stripSuffix("$"))

  /** Every `(src, dst)` edge in both directions, duplicates kept: each
    * caller dedups as its plan needs.
    */
  private def undirected(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))

  /** The undirected edge list as a pinned, deduplicated symmetric
    * `(src, dst)` table. Repartition BEFORE deduping: HashPartitioning(src)
    * satisfies the (src, dst) clustering, so the dedup reuses the probe
    * layout instead of adding its own exchange.
    */
  private def pinnedSym(edges: DataFrame): DataFrame = Superstep.pin(
    undirected(edges).repartition(col("src")).dropDuplicates("src", "dst"))

  /** The customer–supplier purchase graph with packed node ids: one
    * `(src, dst)` row per distinct pair of a customer (2·custkey) and a
    * supplier (2·suppkey + 1) that share an order. The ids travel through
    * every superstep as 8-byte longs; [[decodePacked]] turns them into
    * display ids on the final result only.
    */
  private[operators] def packedEdges(t: Tables): DataFrame =
    t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()

  /** The display id of the packed node id in `c`: `c_k` for a customer
    * (2k), `s_k` for a supplier (2k + 1). `shiftright(c, 1)` is the exact
    * `c DIV 2` of a non-negative id on both branches.
    */
  private[graft] def decodePacked(c: Column): Column =
    when(pmod(c, lit(2)) === 0, concat(lit("c_"), shiftright(c, 1).cast("string")))
      .otherwise(concat(lit("s_"), shiftright(c, 1).cast("string")))

  /** Hash-min connected components over an undirected edge list, with
    * each partition's components settled locally.
    *
    * Label = min node-id reachable, on [[minPropagate]] with an identity
    * relax: the state is one pinned row per node that carries its distinct
    * neighbours next to its label, so the static edges never move again,
    * and a superstep is one min-aggregate by node — one exchange, then the
    * pin. After the init aggregate and after every fold,
    * [[LocalComponents.settle]] runs union-find over the neighbours held in
    * the same partition and gives each local component its least label
    * (Giraph++'s graph-centric model inside Pregel's vertex loop), so only
    * a node whose label dropped and that has a neighbour in another
    * partition sends again. A state that fits one partition converges at
    * the init pin and runs no superstep; a spread one needs at most as
    * many supersteps as plain hash-min (O(diameter)), usually far fewer.
    * Works on any (src, dst) edge set, numeric or string ids.
    */
  def connectedComponents(edges: DataFrame): DataFrame = {
    val sym = undirected(edges)
    // Superstep 1 fused into the init: with identity labels the first
    // min-propagation is exactly least(node, min neighbour), which every
    // node still has to send. Every node appears as a src (sym is
    // symmetric), so coverage is complete, and the loop never adds a node.
    val (init, Seq(active)) = Superstep.pin(LocalComponents.settle(
      sym.groupBy(col("src").as("node"))
        .agg(collect_set(struct(col("dst"))).as("adj"), min(col("dst")).as("mn"))
        .select(col("node"), least(col("node"), col("mn")).as("state"), col("adj"),
          col("node").as("prev"))),
      count(when(col("active"), 1)))
    log.info(s"connectedComponents: $active of ${Superstep.rows(init)} nodes active after the init pin")
    // Labels never rise, so a superstep with no label drop is the fixpoint.
    val state =
      if (active == 0) init
      else {
        val (s, _) = minPropagate(init, Int.MaxValue, LocalComponents.settle)((s, _) => s)
        Superstep.release(init)
        s
      }
    state.select(col("node"), col("state").as("label"))
  }

  /** The min-propagation superstep under [[connectedComponents]] and
    * [[minRelaxTraverse]], on Pregel's vertex-state model (Malewicz et al.
    * 2010). `init` holds one row per node, `(node, state, adj, active)`:
    * `adj` is its out-adjacency as `array<struct<dst, edge property
    * columns>>` and `active` flags a state the node has not sent yet. A
    * round explodes messages from the active rows only, maps each through
    * `relax(state, round)` over the exploded edge fields (NULL refuses the
    * edge), unions them with the state rows and folds by min in one
    * `groupBy(node)`: one exchange, then the pin. `settle` turns the fold's
    * `(node, state, adj, prev)` rows, `prev` being the state before the
    * fold, into the next state with its `active` flags; the pin job counts
    * the active rows, and a round with none is the fixpoint. With
    * [[sendDrops]] a row whose state dropped (or was first set) is active,
    * so a state is sent once, in the round after it was reached: a per-hop
    * (round-dependent) relax only ever sees states of the previous hop,
    * and a round-independent relax gives what re-relaxing every edge every
    * round gives. Plain hash-min needs O(diameter) rounds. Runs at most
    * `maxRounds` rounds; `init` stays the caller's. Returns the last state
    * and whether the fixpoint ended the loop.
    */
  private def minPropagate(init: DataFrame, maxRounds: Int, settle: DataFrame => DataFrame = sendDrops)(
      relax: (Column, Int) => Column): (DataFrame, Boolean) =
    Superstep.iterate(init, 1 to maxRounds, progress = Some("active")) { (s, round) =>
      val messages = s.filter(col("active"))
        .select(col("state"), explode(col("adj")).as("e"))
        .select(col("state"), col("e.*"))
        .select(col("dst").as("node"), relax(col("state"), round).as("state"))
        .filter(col("state").isNotNull)
      settle(s.select(col("node"), col("state"), col("adj"), col("state").as("prev"))
        .unionByName(messages, allowMissingColumns = true)
        .groupBy("node")
        .agg(min(col("state")).as("state"), min(col("prev")).as("prev"),
          first(col("adj"), ignoreNulls = true).as("adj")))
    }

  /** [[minPropagate]]'s default settle: a row is active when its state
    * dropped below `prev` or was first set.
    */
  private def sendDrops(folded: DataFrame): DataFrame =
    folded.select(col("node"), col("state"), col("adj"),
      coalesce(col("state") < col("prev"), col("state").isNotNull).as("active"))

  /** INCREMENTAL connected components: fold a batch of NEW edges into an
    * existing node→label assignment without re-running CC over the full
    * edge set — the [[graft.dedup.SignatureIndex]] philosophy applied to
    * the graph side (the reference re-imports and lets Neo4j MERGE absorb
    * new relationships; at 100 TB you cannot re-cluster the corpus per
    * crawl batch). Each new edge's endpoints project to their CURRENT
    * labels (one equijoin against the label table; unseen nodes label
    * themselves), unequal label pairs become a MERGE GRAPH whose size is
    * bounded by the number of components the batch actually touches —
    * typically orders of magnitude below |E| — and the standard hash-min
    * loop runs on THAT. Because every stored label is the min node id of
    * its component, remapping through the merge-graph's CC yields exactly
    * the labels a full recompute over old∪new edges would produce
    * (bit-identity spec-checked).
    */
  def incrementalCC(labels: DataFrame, newEdges: DataFrame): DataFrame = {
    val sym = undirected(newEdges).dropDuplicates("src", "dst")
    val touched = sym.select(col("src").as("node")).distinct()
    // Current label per touched node; a node the store has never seen is
    // its own label (the hash-min identity init).
    val nodeLab = Superstep.pin(touched.join(labels, Seq("node"), "left")
      .select(col("node"), coalesce(col("label"), col("node")).as("label")))
    val mergeEdges = sym
      .join(nodeLab.select(col("node").as("src"), col("label").as("l_src")), Seq("src"))
      .join(nodeLab.select(col("node").as("dst"), col("label").as("l_dst")), Seq("dst"))
      .filter(col("l_src") =!= col("l_dst"))
      .select(col("l_src").as("src"), col("l_dst").as("dst"))
    val mapping = connectedComponents(mergeEdges)
      .select(col("node").as("label"), col("label").as("merged"))
    // New nodes enter the store with their (possibly merged) self-label.
    val withNew = labels.unionByName(
      nodeLab.join(labels, Seq("node"), "left_anti"))
    withNew.join(mapping, Seq("label"), "left")
      .select(col("node"), coalesce(col("merged"), col("label")).as("label"))
  }

  /** g15: [[incrementalCC]] driver-keyed — the customer–supplier graph
    * split by order date into a base load (orders before 1999) and an
    * incremental batch (1999 onward); the base CC runs once, the batch
    * folds in incrementally, and the oracle computes components over the
    * FULL edge set — so the driver hash-checks that the incremental path
    * lands exactly where the batch recompute would.
    */
  def g15IncrementalCC(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val all = t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .select(
        (col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"),
        col("o_orderdate"))
    val base = all.filter(col("o_orderdate") < lit("1999-01-01")).select("src", "dst").distinct()
    val batch = all.filter(col("o_orderdate") >= lit("1999-01-01")).select("src", "dst").distinct()
    incrementalCC(connectedComponents(base), batch)
      .select(
        decodePacked(col("node")).as("node"),
        decodePacked(col("label")).as("component"))
  }

  /** g5: components of the customer→nation→region tree — community
    * discovery analog on the reference's org hierarchy (each region tree is
    * one component; the generic hash-min loop discovers that, the oracle
    * derives it structurally).
    */
  def g5ConnectedComponents(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val custEdges = t.customer
      .join(t.nation, col("c_nationkey") === col("n_nationkey"))
      .select(concat(lit("c_"), col("c_custkey")).as("src"), col("n_name").as("dst"))
    val nationEdges = t.nation
      .join(t.region, col("n_regionkey") === col("r_regionkey"))
      .select(col("n_name").as("src"), col("r_name").as("dst"))
    connectedComponents(custEdges.unionByName(nationEdges))
      .select(col("node"), col("label").as("component"))
  }

  /** Power-iteration PageRank over an undirected edge list, fixed iteration
    * count (deterministic — no convergence-dependent output). Degrees and
    * the symmetric edge set are computed once and checkpointed; each
    * iteration is one join + one aggregate, with lineage truncated every
    * 5th superstep so the plan never grows past 5 steps.
    */
  def pageRank(edges: DataFrame, iterations: Int = 10, damping: Double = 0.85): DataFrame = {
    val sym = undirected(edges).distinct()
    val withDeg = Superstep.pin(sym
      .join(sym.groupBy("src").agg(count(lit(1)).as("deg")), Seq("src")))
    val init = Superstep.pin(withDeg.select(col("src").as("node")).distinct()
      .withColumn("rank", lit(1.0)))
    // Pin every 5th superstep, not every one: between pins the iterations
    // stay lazy and fuse into a single multi-shuffle job, while the
    // periodic materialization keeps lineage and plan size bounded for
    // arbitrary iteration counts. Each pin is a full materialization
    // (~fixed cost regardless of graph size on small inputs), so the
    // cadence trades plan depth against per-superstep overhead.
    Superstep.iterate(init, 1 to iterations, cadence = 5) { (ranks, _) =>
      withDeg
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), (col("rank") / col("deg")).as("contrib"))
        .groupBy("node")
        .agg((lit(1.0 - damping) + lit(damping) * sum(col("contrib"))).as("rank"))
    }._1
  }

  /** Fixed-point PageRank: ranks in integer micro-units (1e6 = 1.0),
    * contributions by floor division — every operation is exact integer
    * arithmetic, so the result is independent of aggregation order and
    * bit-identical across engines and runs (floating-point power
    * iteration is not: shuffle-order float sums drift in the last ulps
    * and amplify over iterations). The quantization error vs float
    * PageRank is < deg/1e6 per step — irrelevant for ranking, and exactly
    * what you want at 100 TB where a nondeterministic re-run diff is a
    * debugging nightmare.
    */
  def pageRankMicro(edges: DataFrame, iterations: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sym = undirected(edges).distinct()
    // Degree attached by a window count partitioned on src: ONE exchange
    // computes deg (the groupBy + self-join it replaces cost two more).
    // The pinned frame plans with unknown partitioning, so every
    // superstep's join re-shuffles withDeg alongside the rank table.
    val withDeg = Superstep.pin(sym
      .withColumn("deg", count(lit(1)).over(Window.partitionBy(col("src")))))
    // Superstep 1 fused into the init: with uniform ranks (1e6 micro)
    // every edge's contribution is 1e6 DIV deg(src), already present on
    // the degree-annotated edge row — so the first iteration is one
    // aggregate straight off the checkpointed edges, with no rank table
    // to materialize and no first join. Every node appears as a dst (sym
    // is symmetric), so coverage is identical.
    val init = withDeg
      .select(col("dst").as("node"), expr("1000000 DIV deg").as("contrib"))
      .groupBy("node")
      .agg(expr("150000 + (85 * sum(contrib)) DIV 100").as("rank"))
    // Iteration `it` is pinned when it is a multiple of 10: between pins
    // the supersteps stay lazy and fuse into one multi-shuffle job; each
    // pin is a full materialization whose fixed cost dominates
    // small-graph runs. The fixed 10-iteration ranking materializes
    // exactly once, at the end.
    Superstep.iterate(init, 2 to iterations, cadence = 10) { (ranks, _) =>
      withDeg
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), expr("rank DIV deg").as("contrib"))
        .groupBy("node")
        .agg(expr("150000 + (85 * sum(contrib)) DIV 100").as("rank"))
    }._1
  }

  /** g6: influence ranking on the customer–supplier bipartite graph
    * (leader-influence analog), in deterministic fixed-point — which is
    * what lets it carry a full SQL oracle (10 unrolled integer CTE steps
    * in DuckDB) instead of a rows-only check.
    */
  def g6PageRank(spark: SparkSession, dir: String): DataFrame =
    pageRankMicro(packedEdges(Tables(spark, dir)))
      .select(decodePacked(col("node")).as("node"), col("rank").as("rank_micro"))

  /** Personalized PageRank in the same exact integer micro-units as
    * [[pageRankMicro]], with the restart mass pinned to a SEED set:
    * rank_i(n) = [n ∈ seeds]·150000 + (85·Σ_{m→n} rank_{i-1}(m) DIV deg(m))
    * DIV 100. This is "influence FROM these nodes" rather than global
    * influence — the reference's natural ranking question ("which
    * orgs/people does this leader's neighborhood reach", the seeded
    * variant of its influence queries) and the standard relevance score
    * GDS ships as personalized PageRank.
    *
    * Scale shape: identical per-superstep cost profile to g6 — the edge
    * table is degree-annotated and checkpointed ONCE pinned on src, each
    * superstep moves only the rank table — plus a PPR-specific win: the
    * rank frontier STARTS at |seeds| rows and grows with reach, so early
    * supersteps join a tiny rank table against the pinned edges
    * (broadcast-able when seeds are few). The restart add is a unionByName
    * of the seed-base rows into a second, same-partitioned aggregate —
    * no full-outer join, no broadcast constraint.
    */
  def personalizedPageRankMicro(
      edges: DataFrame, seeds: DataFrame, iterations: Int = 6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sym = undirected(edges).distinct()
    val withDeg = Superstep.pin(sym
      .withColumn("deg", count(lit(1)).over(Window.partitionBy(col("src")))))
    val seedBase = Superstep.pin(seeds.select(col("node"), lit(150000L).as("v")))
    // Every 3rd superstep is pinned, so the default 6 supersteps end on a pin.
    Superstep.iterate(seeds.select(col("node"), lit(1000000L).as("rank")),
        1 to iterations, cadence = 3) { (ranks, _) =>
      withDeg
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), expr("rank DIV deg").as("contrib"))
        .groupBy("node")
        .agg(expr("(85 * sum(contrib)) DIV 100").as("v"))
        .unionByName(seedBase)
        .groupBy("node")
        .agg(sum(col("v")).as("rank"))
    }._1
  }

  /** g14: [[personalizedPageRankMicro]] on the customer–supplier bipartite
    * graph (packed-long nodes, as g6), seeded at every 100th customer —
    * a small deterministic "leader" set. 6 supersteps; decoded node ids
    * on the final projection only.
    */
  def g14PersonalizedPagerank(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val edges = packedEdges(t)
    val seeds = t.customer
      .filter(col("c_custkey") % 100 === 0)
      .select((col("c_custkey") * 2).as("node"))
    personalizedPageRankMicro(edges, seeds)
      .select(
        decodePacked(col("node")).as("node"),
        col("rank").as("rank_micro"))
  }

  /** Bounded multi-source BFS over an undirected edge list: the distance
    * (hop count ≤ `maxDepth`) from the nearest seed to every reachable
    * node. Classic frontier expansion — each superstep joins ONLY the
    * newly-discovered frontier against the edge table (one shuffle) and
    * anti-joins the settled set (one more), so total work is O(E·depth)
    * regardless of how many paths exist; the path-counting blowup a naive
    * all-paths formulation (or an UNION ALL recursive CTE) hits on dense
    * graphs never appears. Edges are pinned once, on the probe key; the
    * frontiers are the layers of [[graft.Superstep.expand]], each pinned
    * so lineage stays O(1) in depth, and the first empty one ends the
    * loop on its pin's own row count. The depth bound makes the operator's
    * output a well-defined k-hop semantics (and is what lets the oracle
    * run as a depth-bounded recursive CTE). Runs as
    * [[labeledShortestPaths]] with one constant label.
    */
  def shortestPaths(edges: DataFrame, seeds: DataFrame, maxDepth: Int = 6): DataFrame =
    labeledShortestPaths(edges, seeds.select(lit(0L).as("lm"), col("node")), maxDepth)
      .drop("lm")

  /** Multi-source LABELED BFS: like [[shortestPaths]] but each seed keeps
    * its own identity, so the result is the per-(landmark, node) hop
    * distance rather than the min over all seeds. Settled/frontier are
    * keyed by (lm, node) — the frontier is at most |landmarks|× the g9
    * frontier; with a bounded landmark set this is the standard scalable
    * approximation substrate for distance-based centralities (exact
    * all-pairs BFS is O(V·E) and never runs at corpus scale).
    */
  def labeledShortestPaths(edges: DataFrame, seeds: DataFrame, maxDepth: Int = 6): DataFrame = {
    val sym = pinnedSym(edges)
    // The settled set is the LAZY union of the layer pins: each anti-join
    // reads exactly the settled rows (from pinned blocks), but the growing
    // O(V) set is never re-materialized per superstep — only each (much
    // smaller) frontier is. The result reads only those pins, so the edge
    // pin is released on the way out.
    val layers = Superstep.expand(Superstep.pin(seeds.select(col("lm"), col("node")).distinct()
        .withColumn("dist", lit(0L))), 1 to maxDepth) { (settled, depth) =>
      sym.join(settled.last.select(col("lm"), col("node").as("src")), Seq("src"))
        .select(col("lm"), col("dst").as("node"))
        .distinct()
        .join(settled.reduce(_.unionByName(_)), Seq("lm", "node"), "left_anti")
        .withColumn("dist", lit(depth.toLong))
    }
    Superstep.release(sym)
    layers.reduce(_.unionByName(_))
  }

  /** Generalized bounded-round MIN-RELAXATION traversal — the reusable
    * superstep under g21's temporal reach, g22's weighted shortest paths
    * and both g29 SCC passes, exposed as an API so a NEW pattern (the
    * Cypher `MATCH (a)-[r1]->(x)-[r2]->(b) WHERE <per-edge predicates>`
    * shape the reference runs in Neo4j, mysql2neo4j.py:262/:381) is one
    * `relax` lambda instead of a new operator.
    *
    * Contract: `edges` is a directed edge table `(src, dst, <property
    * columns>)` (symmetrize first for undirected semantics); `init` is
    * `(node, state)`; `relax(state, round)` is a Column over the edge's
    * property columns and the source node's current `state`, producing
    * the candidate state the edge offers its `dst` — or NULL to refuse
    * the edge (the per-edge/per-hop predicate). States fold by MIN, so
    * after R rounds `state(n)` = min over all ≤R-edge walks from an init
    * node to `n` of the folded relax chain — exact for any monotone relax
    * (candidate ≥ source state): hop count (`s + 1`), non-negative edge
    * weights (`s + w`), foremost arrival times (`IF(d ≥ s, d, NULL)`).
    * The traversal stops early at the first round where no state
    * improves; that is the fixpoint, and with `requireConverged` a run
    * that has not reached it by `maxRounds` refuses instead of returning
    * the ≤maxRounds-walk answer. Nodes no walk reaches are absent.
    *
    * Scale shape: [[minPropagate]]'s vertex-state loop. One
    * `groupBy(src)` over the pinned edges ∪ `init` builds the pinned state
    * row per node (least init state, out-adjacency); the edge pin is then
    * released, and each round is one exchange plus its pin, with messages
    * only from the nodes whose state improved the round before.
    *
    * SIZING: the aggregates' reduce width is DERIVED from the measured
    * edge count ([[relaxParts]]): a dense round's message table is
    * bounded by |E|, and folding 10⁸ candidates into a 32-partition
    * default is exactly the measured sf10 OOM (UNABLE_TO_ACQUIRE_MEMORY
    * at p32/16g; p128 clean). The width is applied through the session
    * shuffle-partition setting for the duration of the traversal
    * (restored after), so map-side combine is preserved; partition count
    * never changes results.
    */
  def minRelaxTraverse(
      edges: DataFrame,
      init: DataFrame,
      maxRounds: Int,
      requireConverged: Boolean = false)(
      relax: (Column, Int) => Column): DataFrame = {
    val spark = edges.sparkSession
    val e = Superstep.pin(edges)
    // The shuffle-partition setting is SESSION-GLOBAL state, so the
    // set→run→restore window is guarded by a per-session monitor: two
    // concurrent traversals on one session cannot interleave set/restore
    // and adopt each other's width as the "default". Concurrent
    // NON-traversal queries on the same session still observe the altered
    // width for the traversal's duration — callers running mixed
    // concurrent workloads should give the traversal its own session
    // (`spark.newSession()` shares the context but isolates the conf).
    knobLockOf(spark).synchronized {
      val key = SQLConf.SHUFFLE_PARTITIONS.key
      val saved = spark.conf.getOption(key)
      spark.conf.set(key,
        relaxParts(Superstep.rows(e), spark.sessionState.conf.defaultNumShufflePartitions))
      try {
        // One state row per edge source or init node: its least init state
        // (NULL until reached) and its out-edges as (dst, properties).
        val edge = struct(e.columns.toSeq.filter(_ != "src").map(col): _*)
        val start = Superstep.pin(e
          .unionByName(init.select(col("node").as("src"), col("state")), allowMissingColumns = true)
          .groupBy(col("src").as("node"))
          .agg(min(col("state")).as("state"),
            collect_list(when(col("dst").isNotNull, edge)).as("adj"))
          .withColumn("active", col("state").isNotNull))
        Superstep.release(e)
        val (out, converged) = minPropagate(start, maxRounds)(relax)
        if (maxRounds > 0) Superstep.release(start)
        if (requireConverged && !converged)
          throw new IllegalStateException(
            s"minRelaxTraverse: relaxation still improving after maxRounds=$maxRounds — " +
              "the result is a TRUNCATED (≤maxRounds-edge-walk) relaxation, not the " +
              "fixpoint; raise maxRounds")
        out.filter(col("state").isNotNull).select(col("node"), col("state"))
      } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  /** One knob-guard monitor per SparkSession (identity-keyed, weak so
    * sessions stay collectable): serializes the shuffle-width
    * set→traverse→restore window within a session.
    */
  private val knobLocks =
    new java.util.WeakHashMap[SparkSession, Object]()
  private def knobLockOf(spark: SparkSession): Object = knobLocks.synchronized {
    var l = knobLocks.get(spark)
    if (l == null) { l = new Object; knobLocks.put(spark, l) }
    l
  }

  /** Probe→knob derivation for the relaxation reduce width: one reduce
    * task per ~2²⁰ candidate rows of the measured edge count, never
    * below the session default, capped at 4096 (task-count limit).
    * Pure so the spec pins the measurement→knob map directly.
    */
  private[graft] def relaxParts(eCnt: Long, defaultParts: Int): Int =
    math.min(4096L, math.max(defaultParts.toLong,
      (eCnt + (1L << 20) - 1) >> 20)).toInt

  /** Weighted single-source(-set) shortest paths — the GDS
    * `shortestPath`/Dijkstra capability over NON-NEGATIVE integer edge
    * weights, as bounded-round synchronous Bellman–Ford on
    * [[minRelaxTraverse]]: after `rounds` rounds each node holds the
    * exact min-cost over all walks of ≤ `rounds` edges from the seed
    * set (the bounded-round semantics both this and the unrolled oracle
    * compute — deterministic whether or not the relaxation has
    * converged; it stops as soon as no state improves, at which point
    * the answer IS the unbounded shortest path).
    * Undirected: edges symmetrize here; parallel edges keep the
    * cheapest weight.
    */
  def weightedShortestPaths(
      edges: DataFrame, seeds: DataFrame, rounds: Int = 6): DataFrame = {
    val sym = edges.select(col("src"), col("dst"), col("w"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      .groupBy("src", "dst").agg(min("w").as("w"))
    val init = seeds.select(col("node")).distinct().withColumn("state", lit(0L))
    minRelaxTraverse(sym, init, rounds)((s, _) => s + col("w"))
      .select(col("node"), col("state").as("dist"))
  }

  /** g22: WEIGHTED shortest paths from the hub suppliers (s_suppkey < 5)
    * over the customer–supplier graph, the reference's overlap-strength
    * idea as traversal cost: edge weight = `greatest(1, 8 −
    * n_distinct_orders)` between the pair, so heavily-transacting
    * relationships are CHEAP to cross and one-off ones EXPENSIVE (the
    * interval-overlap relationship weighting of mysql2neo4j.py:268-357,
    * inverted into a distance). Integer weights in [1, 7]; 6 relaxation
    * rounds (g9's depth budget); min-cost can and does route around
    * hop-shorter-but-weight-heavier paths — the thing g9's unweighted
    * BFS cannot express. Same packed-long bipartite ids as g6/g9,
    * decoded only on the final result.
    */
  def g22WeightedPaths(spark: SparkSession, dir: String, rounds: Int = 6): DataFrame = {
    val t = Tables(spark, dir)
    val edges = t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(
        (col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .agg(greatest(lit(1L), lit(8L) - countDistinct(col("l_orderkey"))).as("w"))
    val seeds = t.supplier.filter(col("s_suppkey") < 5)
      .select((col("s_suppkey") * 2 + 1).as("node"))
    weightedShortestPaths(edges, seeds, rounds)
      .select(
        decodePacked(col("node")).as("node"),
        col("dist"))
  }

  /** Every per-walker window in the walk engines assumes a walker id
    * maps to exactly ONE frontier row — a walker seeded on two nodes
    * would get both adjacency lists merged into one window and pick
    * silently wrong idx/deg (and biased cum/tot). Enforced loudly with
    * one O(walkers) aggregate over the (already deduped, checkpointed)
    * seed frame before the first step.
    */
  private def requireOneSeedPerWalker(cur: DataFrame, who: String): Unit = {
    val r = cur.agg(count(lit(1)), countDistinct(col("walker"))).head()
    require(r.getLong(0) == r.getLong(1),
      s"$who: each walker id must seed exactly one node " +
        s"(${r.getLong(0)} seed rows over ${r.getLong(1)} walkers) — " +
        "use distinct walker ids per (walker, node) seed")
  }

  /** DETERMINISTIC RANDOM WALKS — the GDS `randomWalk` / node2vec
    * SAMPLING substrate (Grover & Leskovec 2016 take these walks as the
    * corpus for skip-gram embeddings; DeepWalk, Perozzi et al. 2014, is
    * the unbiased case implemented here): from each seed, `steps` hops
    * where hop t out of node u picks neighbor index
    * `mix(walker, t, u) mod deg(u)` over the node's dst-ordered adjacency
    * list. The "randomness" is a fixed integer MIXER instead of an RNG —
    * the same determinism discipline as the suite's fixed-round
    * iterations: walks are reproducible across engines, partitionings
    * and reruns, which is what lets the DuckDB oracle recompute them
    * exactly (swap in `xxhash64` for better mixing when cross-engine
    * reproducibility isn't needed; the operator shape is identical).
    * Operands are reduced mod 1048573 before the multiply so the mixer
    * stays far inside int64 on engines that TRAP on overflow (DuckDB)
    * as well as ones that wrap (the JVM).
    *
    * Scale shape: neighbor ranks are computed LAZILY, per step, over
    * only the frontier's own fan-out — the frontier⋈edges equijoin
    * yields each visited node's COMPLETE neighbor list, so a per-walker
    * window assigns the identical dst-ordered index and degree the
    * global adjacency would, without ever indexing the full edge set
    * (the eager build is a full O(E) sort per run — measured spilling
    * for minutes at the 234M-edge tier — all of it wasted on nodes no
    * walk visits; sampled walks visit O(walkers · steps) nodes). The
    * symmetric edge list is checkpointed once, src-pinned, sort-free;
    * per step ONE equijoin (only the O(walkers) frontier moves) + a
    * window whose partitions are single-node neighbor lists. The steps
    * are the layers of [[graft.Superstep.expand]]: layer t is step t, and
    * a step that no walker survives ends the walks. A
    * full-corpus embedding run (walkers ≈ V) flips the trade — there,
    * pre-index the adjacency once and persist it, the VectorIndex
    * pay-at-ingest posture.
    */
  def randomWalks(edges: DataFrame, seeds: DataFrame, steps: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sym = pinnedSym(edges)
    val start = Superstep.pin(seeds.select(col("walker"), col("node")).distinct())
    requireOneSeedPerWalker(start, "randomWalks")
    val byWalker = Window.partitionBy("walker")
    val layers = Superstep.expand(start, 1 to steps) { (walked, t) =>
      val cur = walked.last
      // The frontier is at most one row per walker: its pin carries that
      // count, so the planner broadcasts it when it fits and the edge
      // side STREAMS under a BroadcastHashJoin instead of paying a full
      // O(E) sort per step (measured spilling at the 234M-edge tier).
      // One frontier row per walker, so the walker partition IS its
      // current node's full neighbor list: rank within it == the global
      // dst-ordered adjacency index (what the oracle computes).
      cur.join(sym, cur("node") === sym("src"))
        .select(col("walker"), col("src"), col("dst"))
        .withColumn("idx",
          row_number().over(byWalker.orderBy("dst")).cast("long") - 1)
        .withColumn("deg", count(lit(1)).over(byWalker).cast("long"))
        .filter(col("idx") ===
          (col("walker") % 1048573L * 31 + lit(t.toLong) * 7 +
            col("src") % 1048573L * 13) % col("deg"))
        .select(col("walker"), col("dst").as("node"))
    }
    // The corpus reads only the step pins, never the edges.
    Superstep.release(sym)
    walkCorpus(layers)
  }

  /** The walk corpus of the step layers: layer t is step t. */
  private def walkCorpus(layers: IndexedSeq[DataFrame]): DataFrame =
    layers.zipWithIndex
      .map { case (l, t) => l.select(col("walker"), lit(t.toLong).as("step"), col("node")) }
      .reduce(_.unionByName(_))

  /** SECOND-ORDER (node2vec-BIASED) walks — the p/q sibling of
    * [[randomWalks]] (Grover & Leskovec 2016): hop t out of node v,
    * having ARRIVED FROM prev u, weights each neighbor x by the walk's
    * search posture — `wReturn` when x == u (the 1/p return bias),
    * `wCommon` when (u, x) is an edge (distance 1 from u: BFS-ish,
    * community-local), `wFar` otherwise (distance 2: DFS-ish,
    * exploratory) — then picks by the deterministic mixer against the
    * CUMULATIVE integer weights over the dst-ordered candidates
    * (r = mix(walker,t,v) mod Σw; first candidate whose running sum
    * exceeds r). Step 1 has no prev, so prev = the seed itself: x == u
    * can't happen among neighbors and every candidate is distance 1 —
    * the algebra degrades to the uniform first-order choice by itself.
    *
    * Scale shape: per step ONE frontier⋈adjacency equijoin (candidates
    * = the frontier's neighbor fan-out) plus the one join node2vec
    * inherently adds over first-order — the (prev, x) adjacency test,
    * an equijoin of the candidate set against the src-pinned edge list
    * — then a per-walker window for the cumulative pick (frontier has
    * exactly one row per live walker, so partitions are walker-sized).
    * Steps are [[graft.Superstep.expand]] layers, as in [[randomWalks]].
    * All integer arithmetic: reproducible across engines, oracle-exact.
    */
  def biasedWalks(
      edges: DataFrame, seeds: DataFrame, steps: Int,
      wReturn: Long = 1L, wCommon: Long = 4L, wFar: Long = 2L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sym = pinnedSym(edges)
    val start = Superstep.pin(seeds.select(col("walker"), col("node")).distinct()
      .withColumn("prev", col("node")))
    requireOneSeedPerWalker(start, "biasedWalks")
    val byWalker = Window.partitionBy("walker")
    val layers = Superstep.expand(start, 1 to steps) { (walked, t) =>
      val cur = walked.last
      // The frontier and its prev set hold at most one row per walker:
      // the pin carries that count, so the planner broadcasts them when
      // they fit, and the edge side streams in BOTH joins that touch it
      // this step (candidate fan-out and the prev-set's own edges).
      val cand = cur.join(sym, cur("node") === sym("src"))
        .select(col("walker"), col("prev"), col("src"), col("dst"))
      // The (prev, x) membership test only ever probes edges whose src
      // is a FRONTIER prev, so semi-join the edge relation down to those
      // (one streamed scan, output O(Σ deg(prev)): the same per-walker
      // fan-out the candidate set already materializes) instead of
      // joining the candidates against all of E. A semi-join is sized
      // by its edge side, so the planner broadcasts the result whenever
      // the edge list itself would fit; it needs no distinct prev set.
      val prevEdges = sym
        .join(cur.select(col("prev").as("p_src")), sym("src") === col("p_src"), "left_semi")
        .select(col("src").as("p_src"), col("dst").as("p_dst"), lit(1L).as("is_nbr"))
      val flagged = cand.join(prevEdges,
          col("prev") === col("p_src") && col("dst") === col("p_dst"), "left")
        .withColumn("wgt",
          when(col("dst") === col("prev"), lit(wReturn))
            .when(col("is_nbr").isNotNull, lit(wCommon))
            .otherwise(lit(wFar)))
      flagged
        .withColumn("cum", sum("wgt").over(byWalker.orderBy("dst")))
        .withColumn("tot", sum("wgt").over(byWalker))
        .withColumn("r",
          (col("walker") % 1048573L * 31 + lit(t.toLong) * 7 +
            col("src") % 1048573L * 13) % col("tot"))
        .filter(col("cum") - col("wgt") <= col("r") && col("r") < col("cum"))
        .select(col("walker"), col("src").as("prev"), col("dst").as("node"))
    }
    Superstep.release(sym)
    walkCorpus(layers)
  }

  /** g26: node2vec-biased walks on the packed bipartite graph — 3 hops
    * from the first 8 suppliers with (wReturn, wCommon, wFar) =
    * (1, 4, 2), i.e. return discouraged 4×, triadic closure favored 2×
    * over exploration (p = 4, q = 2 in node2vec terms, scaled to
    * integers). The biased corpus is what node2vec actually trains on;
    * g25 is the DeepWalk special case. Note the bipartite structure
    * makes EVERY 2-hop non-return candidate "far" (no (u, x) edge joins
    * two same-side nodes), so the bias this graph exercises is the
    * return penalty — the crafted spec covers the wCommon branch on a
    * triangle graph.
    */
  def g26Node2vecWalks(spark: SparkSession, dir: String, steps: Int = 3): DataFrame = {
    val t = Tables(spark, dir)
    val edges = packedEdges(t)
    val seeds = t.supplier.filter(col("s_suppkey") < 8)
      .select((col("s_suppkey") * 2 + 1).as("walker"),
        (col("s_suppkey") * 2 + 1).as("node"))
    biasedWalks(edges, seeds, steps)
      .select(decodePacked(col("walker")).as("walker"), col("step"),
        decodePacked(col("node")).as("node"))
  }

  /** g25: deterministic random walks on the packed bipartite
    * customer–supplier graph — 4 hops from the first 16 suppliers, the
    * embedding-corpus sampler over the reference's person–org
    * relationship graph (walk corpora are what the graph side feeds a
    * representation learner). Walker id = seed node; output decodes the
    * packed ids. A walker seeded on an isolated node simply stops (its
    * step-0 row still reports it).
    */
  def g25RandomWalks(spark: SparkSession, dir: String, steps: Int = 4): DataFrame = {
    val t = Tables(spark, dir)
    val edges = packedEdges(t)
    val seeds = t.supplier.filter(col("s_suppkey") < 16)
      .select((col("s_suppkey") * 2 + 1).as("walker"),
        (col("s_suppkey") * 2 + 1).as("node"))
    randomWalks(edges, seeds, steps)
      .select(decodePacked(col("walker")).as("walker"), col("step"),
        decodePacked(col("node")).as("node"))
  }

  /** WINDOWED CO-OCCURRENCE over a walk corpus — the consumer that
    * turns [[randomWalks]]/[[biasedWalks]] output into the artifact a
    * representation learner actually trains on (word2vec/DeepWalk
    * skip-gram pairs: two nodes co-occur when they sit ≤ `window` steps
    * apart on the same walk; Levy & Goldberg 2014 show skip-gram
    * factorizes exactly the PMI of this matrix). Pairs are canonicalized
    * unordered (LEAST/GREATEST), counted, and each pair carries an
    * integer LIFT in micro-units — `cnt·N / (c_a·c_b)`, the PMI
    * argument before the log, computed with the two-step
    * quotient/remainder expansion so the value is exact in 64-bit
    * integers and order-independent (the t24/modularityMicro
    * discipline: a float log in the gate would flap the hash; a
    * consumer takes `log(lift_micro/1e6)` when it wants true PPMI).
    *
    * Scale shape: ONE self-equijoin on walker id (each walker partition
    * is its own walk, `steps+1` rows — the band predicate never crosses
    * walks) + map-side-combined aggregates; the endpoint totals come
    * from the pair table itself (O(pairs) rows), never a second corpus
    * pass. Overflow bound: exact while `cnt·N < 2^63` and
    * `(c_a·c_b) · 10⁶ < 2^63` — at 10⁹ total pairs that allows
    * million-count endpoints, and the expansion keeps every
    * intermediate inside int64.
    */
  def walkCooccurrence(walks: DataFrame, window: Int): DataFrame = {
    val a = walks.select(col("walker"), col("step").as("i"), col("node").as("na"))
    val b = walks.select(col("walker"), col("step").as("j"), col("node").as("nb"))
    val pairs = a.join(b, Seq("walker"))
      .filter(col("j") - col("i") >= 1 && col("j") - col("i") <= window)
      .select(least(col("na"), col("nb")).as("node1"),
        greatest(col("na"), col("nb")).as("node2"))
      .groupBy("node1", "node2").agg(count(lit(1)).as("cnt"))
    val (agg, Seq(n)) = Superstep.pin(pairs, sum(col("cnt")))
    val occ = agg.select(col("node1").as("node"), col("cnt"))
      .unionByName(agg.select(col("node2").as("node"), col("cnt")))
      .groupBy("node").agg(sum("cnt").as("c"))
    agg
      .join(occ.select(col("node").as("node1"), col("c").as("ca")), Seq("node1"))
      .join(occ.select(col("node").as("node2"), col("c").as("cb")), Seq("node2"))
      .select(col("node1"), col("node2"), col("cnt"),
        expr(s"(cnt * $n DIV (ca * cb)) * 1000000 + " +
          s"((cnt * $n) % (ca * cb)) * 1000000 DIV (ca * cb)").as("lift_micro"))
  }

  /** g28: the walk-corpus consumer on the gate — windowed (≤ 2 steps)
    * skip-gram co-occurrence with integer lift over g25's deterministic
    * walk corpus, on the decoded display ids. This is what makes
    * g25/g26 a PIPELINE (sample → pair → train) instead of an output.
    */
  def g28WalkCooc(spark: SparkSession, dir: String, window: Int = 2): DataFrame =
    walkCooccurrence(g25RandomWalks(spark, dir), window)

  /** PIVOT-SAMPLED BETWEENNESS (Brandes 2001, "A Faster Algorithm for
    * Betweenness Centrality"; pivot sampling per Brandes & Pich 2007) —
    * the member of the GDS centrality family g16/g17 leave open: "how
    * much shortest-path traffic ROUTES THROUGH this node", the broker
    * score a graph analyst asks of the reference's colleague graph
    * right after closeness. Exact all-pairs betweenness is O(V·E) and
    * never runs at corpus scale; the standard estimator runs Brandes'
    * two phases from a bounded PIVOT set within a bounded HORIZON
    * (`maxDepth`), both documented accuracy levers (more pivots /
    * deeper horizon = more of the true sum, each pivot a fixed number
    * of O(E) supersteps — the g16 landmark discipline applied to
    * dependency accumulation).
    *
    * Phase 1 (forward): per-pivot BFS layers (exact-depth frontiers,
    * the g9 anti-join shape) and path counts σ — σ(w) = Σ σ(v) over
    * DAG predecessors, one equijoin + sum per [[graft.Superstep.expand]]
    * layer, ending early on an empty one. Phase 2 (backward): dependencies
    * in integer MICRO-UNITS over the kept layers, deepest first —
    * δ(v) = Σ_{w ∈ succ(v)} σ(v)·(1 000 000 + δ(w)) DIV σ(w).
    * The per-term integer division is the determinism trick: terms are
    * exact integers, integer sums are order-independent, so the result
    * is bit-stable across engines and partitionings (a float δ would
    * flap the hash gate), at the cost of ≤1 micro-unit truncation per
    * term — fixed-point semantics, identical in the DuckDB oracle.
    * BC(v) = Σ over pivots of δ(v), reported where > 0.
    *
    * Scale shape: every step is a frontier⋈edges equijoin or a keyed
    * aggregate — O(pivots · E) per layer, never path enumeration (σ
    * COUNTS paths; nothing materializes them). σ magnitudes are the
    * one budget to watch: σ ≤ (max degree)^maxDepth, which is why the
    * horizon is bounded (depth 3 keeps σ·1e6·degree far inside int64
    * at any realistic degree; the crafted spec pins the arithmetic).
    */
  def betweennessCore(
      edges: DataFrame, pivots: DataFrame, maxDepth: Int = 3): DataFrame = {
    require(maxDepth >= 2, "betweenness needs a horizon of at least 2 hops")
    val sym = pinnedSym(edges)
    // Forward: exact-depth layers per pivot (first-reached-at-d, the g9
    // anti-join) WITH the path count σ carried in the frontier (r17):
    // layer membership and σ(w at d) = Σ σ(v at d−1) over DAG edges ride
    // ONE sym⋈frontier join + aggregate per depth — previously two
    // separate passes ran the same join per depth (layers, then σ with a
    // semi-join back against the layer), doubling the traversal's
    // exchanges. The anti-join against settled runs before the aggregate
    // (same exclusion either way — it keys on (lm, node) only), so the
    // sum folds exactly the layer-d candidate edges the σ pass folded.
    val sig = Superstep.expand(Superstep.pin(pivots.select(col("lm"), col("lm").as("node"))
        .distinct().withColumn("sig", lit(1L))), 1 to maxDepth) { (settled, _) =>
      sym.join(settled.last.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("lm"), col("dst").as("node"), col("sig"))
        .join(settled.map(_.select("lm", "node")).reduce(_.unionByName(_)),
          Seq("lm", "node"), "left_anti")
        .groupBy("lm", "node").agg(sum("sig").as("sig"))
    }
    // Backward: δ at the deepest kept layer is 0; each shallower layer
    // folds its successors' (σ, δ) through the integer fixed-point term.
    val deltas = ((sig.size - 2) to 1 by -1).foldLeft(Vector.empty[DataFrame]) { (done, d) =>
      val wSide = done.lastOption.fold(
        sig(d + 1).select(col("lm"), col("node").as("dst"),
          col("sig").as("sigw"), lit(0L).as("delw"))) { deeper =>
        sig(d + 1)
          .join(deeper.withColumnRenamed("delta", "delw0"), Seq("lm", "node"), "left")
          .select(col("lm"), col("node").as("dst"), col("sig").as("sigw"),
            coalesce(col("delw0"), lit(0L)).as("delw"))
      }
      done :+ Superstep.pin(sym
        .join(wSide, Seq("dst"))
        .select(col("lm"), col("src").as("node"), col("sigw"), col("delw"))
        .join(sig(d).withColumnRenamed("sig", "sigv"), Seq("lm", "node"))
        .select(col("lm"), col("node"),
          expr("sigv * (1000000 + delw) DIV sigw").as("term"))
        .groupBy("lm", "node").agg(sum("term").as("delta")))
    }
    // With no layer past depth 1 every δ is 0: the pivots' own zero rows
    // give the aggregate its schema, and the filter drops them.
    val out = Superstep.pin(deltas.reduceOption(_.unionByName(_))
      .getOrElse(sig.head.select(col("lm"), col("node"), lit(0L).as("delta")))
      .groupBy("node").agg(sum("delta").as("bc_micro"))
      .filter(col("bc_micro") > 0))
    (sig ++ deltas :+ sym).foreach(Superstep.release)
    out
  }

  /** g24: pivot betweenness on the packed customer–supplier graph —
    * pivots = the hub suppliers s_suppkey < 3, horizon 3 (supplier →
    * customers → suppliers → customers), fixed so the DuckDB oracle can
    * unroll the two Brandes phases exactly.
    */
  def g24Betweenness(spark: SparkSession, dir: String, maxDepth: Int = 3): DataFrame = {
    val t = Tables(spark, dir)
    val edges = packedEdges(t)
    val pivots = t.supplier.filter(col("s_suppkey") < 3)
      .select((col("s_suppkey") * 2 + 1).as("lm"))
    betweennessCore(edges, pivots, maxDepth)
      .select(
        decodePacked(col("node")).as("node"),
        col("bc_micro"))
  }

  /** Shared substrate of the landmark centralities (g16/g17): the packed
    * customer–supplier edge list, the fixed landmark seed set
    * (s_suppkey < 4), and the labeled BFS over them. One definition, so
    * the two centralities can never diverge on graph or landmarks.
    */
  private def landmarkDistances(
      spark: SparkSession, dir: String, maxDepth: Int): DataFrame = {
    val t = Tables(spark, dir)
    val edges = packedEdges(t)
    val seeds = t.supplier.filter(col("s_suppkey") < 4)
      .select((col("s_suppkey") * 2 + 1).as("lm"), (col("s_suppkey") * 2 + 1).as("node"))
    labeledShortestPaths(edges, seeds, maxDepth)
  }

  /** g17: landmark HARMONIC centrality — Σ 1/dist over the landmark set,
    * in exact integer micro-units (1e6 DIV dist), so unreachable
    * landmarks contribute 0 naturally (no ∞ special-casing, the reason
    * harmonic replaced classic closeness for disconnected graphs) and
    * the ranking is float-free. Same labeled BFS substrate as g16; the
    * closing aggregate differs.
    */
  def g17Harmonic(spark: SparkSession, dir: String, maxDepth: Int = 6): DataFrame =
    landmarkDistances(spark, dir, maxDepth)
      .filter(col("dist") > 0)
      .groupBy("node")
      .agg(sum(expr("1000000 DIV dist")).as("h_micro"))
      .select(decodePacked(col("node")).as("node"), col("h_micro"))

  /** g16: landmark closeness centrality on the customer–supplier graph —
    * per node, how many of the fixed landmark suppliers reach it within
    * 6 hops and the total hop distance to them (the
    * landmark/pivot-sampling estimator of closeness; exact integers, so
    * the ranking `n_reached DESC, sum_dist ASC` is the centrality order
    * with no float in sight). The reference's "which leaders sit nearest
    * the whole org network" question answered with data-parallel BFS
    * instead of an OLTP graph walk.
    */
  def g16Closeness(spark: SparkSession, dir: String, maxDepth: Int = 6): DataFrame =
    landmarkDistances(spark, dir, maxDepth)
      .groupBy("node")
      .agg(count(lit(1)).as("n_reached"), sum("dist").as("sum_dist"))
      .select(decodePacked(col("node")).as("node"),
        col("n_reached"), col("sum_dist"))

  /** Synchronous label propagation over an undirected edge list: labels
    * start as the node id; each superstep every node adopts the most
    * frequent label among its neighbors, ties broken by smallest label —
    * fully deterministic, so a fixed superstep count is oracle-exact
    * (the same semantics GraphFrames' LPA ships, including the documented
    * bipartite-oscillation caveat — sync LPA on a bipartite graph can
    * 2-cycle, which a fixed iteration count turns into a well-defined
    * output rather than a nontermination hazard).
    *
    * Per superstep: one join of the label table against the src-pinned
    * edge list, one (node, label) count aggregate, one per-node argmax —
    * all shuffles on 8-byte packed keys. With superstep 1 fused into the
    * init the default 4-iteration run is only a 3-join recurrence, and
    * measured at sf0.1 the fully lazy plan wins: 5.5 s vs 6.2 s with a
    * mid-loop checkpoint vs 8.1 s pre-fusion — the materialization's
    * fixed cost outweighs plan-depth savings at this depth. So only every
    * 4th superstep after the fused first is pinned, which bounds lineage
    * for deeper runs and leaves the default run one lazy plan for the
    * consumer's action. The result reads the edge pin lazily, so its
    * blocks wait for releaseCaches.
    */
  def labelPropagation(edges: DataFrame, iters: Int = 4): DataFrame = {
    val sym = pinnedSym(edges)
    // Superstep 1 fused into the init: with identity labels every
    // neighbor vote counts exactly once (sym is deduped), so the
    // (count desc, label asc) argmax degenerates to min(neighbor) — one
    // aggregate replaces the init-distinct + join + two aggregates of a
    // materialized step-0 label table. Every node appears as a dst
    // (sym is symmetric), so coverage is identical.
    val init = sym.groupBy(col("dst").as("node")).agg(min(col("src")).as("label"))
    Superstep.iterate(init, 1 until iters, cadence = 4) { (labels, _) =>
      sym
        .join(labels.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("c"))
        // argmax by (count desc, label asc): max over (c, -label) — the
        // negation inverts the label order for any long (Long.MinValue
        // aside), so min-label ties hold for arbitrary caller node ids.
        .groupBy("node")
        .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
        .select(col("node"), (-col("m.nl")).as("label"))
    }._1
  }

  /** g10: communities on the customer–supplier purchase graph via 4
    * supersteps of deterministic label propagation — the reference's
    * community-discovery analytics (Neo4j GDS-style LPA over its
    * relationship graph) as data-parallel supersteps. Same packed-long
    * node ids as g6/g9; display form decoded once at the end.
    */
  def g10LabelPropagation(spark: SparkSession, dir: String): DataFrame =
    labelPropagation(packedEdges(Tables(spark, dir)))
      .select(decodePacked(col("node")).as("node"), decodePacked(col("label")).as("label"))

  /** g9: hop distance from the "hub" suppliers (s_suppkey < 5) to every
    * customer/supplier within 6 hops of one — the reach-of-a-leader
    * traversal the reference runs in Neo4j (variable-length path match
    * over its relationship edges) re-expressed as data-parallel BFS.
    * Same packed-long bipartite graph as g6 (customer = 2k,
    * supplier = 2k+1); display form decoded on the final result only.
    */
  def g9ShortestPaths(spark: SparkSession, dir: String, maxDepth: Int = 6): DataFrame = {
    val t = Tables(spark, dir)
    val edges = packedEdges(t)
    val seeds = t.supplier.filter(col("s_suppkey") < 5)
      .select((col("s_suppkey") * 2 + 1).as("node"))
    shortestPaths(edges, seeds, maxDepth)
      .select(
        decodePacked(col("node")).as("node"),
        col("dist"))
  }

  /** Bounded-round k-core peeling over an undirected edge list: each
    * round recomputes degrees and drops every node below `k` together
    * with its incident edges; survivors after `rounds` rounds are
    * emitted with their residual degree. A FIXED round count makes the
    * output deterministic and oracle-exact regardless of whether the
    * peel has converged (the g10 fixed-superstep discipline) — callers
    * wanting the true k-core raise `rounds` until a fixed point; each
    * extra round is the same bounded work, never a semantic change.
    *
    * Per round: one degree aggregate over the src-pinned symmetric edge
    * list (reuses the probe layout — no extra exchange) and two
    * semi-joins (src side rides the same layout; dst side is the one
    * new shuffle). Work is O(E) per round with no pair explosion; the
    * live edge set only shrinks. Every round is pinned and the round
    * before it released, so lineage and pinned volume stay O(1) in
    * depth.
    */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    val sym = pinnedSym(edges)
    val (live, _) = Superstep.iterate(sym, 1 to rounds) { (live, _) =>
      val keep = live.groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("src"))
      live
        .join(keep, Seq("src"), "left_semi")
        .join(keep.select(col("src").as("dst")), Seq("dst"), "left_semi")
        .repartition(col("src"))
    }
    if (rounds > 0) Superstep.release(sym)
    // Residual degree of the survivors; sym edges mean one row per
    // (node, neighbor), so the count IS the degree.
    live.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
  }

  /** g12: the dense core of the customer–supplier purchase graph — the
    * "inner circle" analytics the reference reads off its relationship
    * graph (heavily-connected leader/org clusters) as a data-parallel
    * bounded peel. Same packed-long bipartite ids as g6/g9/g10; display
    * form decoded on the final result only.
    */
  def g12KCore(spark: SparkSession, dir: String, k: Int = 20, rounds: Int = 4): DataFrame =
    kCorePeel(packedEdges(Tables(spark, dir)), k, rounds)
      .select(decodePacked(col("node")).as("node"), col("deg"))

  /** g7: per-node triangle counts on the same-nation supplier co-purchase
    * graph — suppliers from the same nation appearing in the same order
    * (clique detection among COLLEAGUES: the reference's colleague edges
    * are same-workplace pairs, mysql2neo4j.py:373-489).
    *
    * The same-nation restriction is semantic (colleagues share a
    * workplace) and structural: it bounds each vertex's neighborhood by
    * its nation's supplier count, keeping the co-occurrence graph sparse
    * where the unrestricted one is near-complete (~91% of all possible
    * edges at sf0.1 — wedge enumeration on that is O(n³) by construction
    * and no algorithm fixes a dense input).
    *
    * Classic ordered-edge enumeration: edges carry src < dst, a wedge join
    * on the middle vertex produces (a<b<c) candidates once each, and a
    * semi-join against the closing edge confirms the triangle — no
    * double-counting, shuffle keyed by vertex id throughout.
    */
  def g7TriangleCount(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val edges = coPurchaseEdges(t)
    val perNode = triangleCounts(edges)
    // perNode reads only the triangle pin.
    Superstep.release(edges)
    t.supplier.select(col("s_suppkey").as("suppkey"))
      .join(perNode, Seq("suppkey"), "left")
      .select(col("suppkey"), coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /** Ordered (a < b) same-nation supplier co-purchase edges — g7's graph,
    * checkpointed for reuse by the wedge join and the degree aggregate.
    */
  private[graft] def coPurchaseEdges(t: Tables): DataFrame = {
    val suppNation = t.supplier.select(col("s_suppkey"), col("s_nationkey"))
    val orderSupp = t.lineitem
      .select(col("l_orderkey").as("okey"), col("l_suppkey").as("s"))
      .distinct()
      .join(suppNation, col("s") === col("s_suppkey"))
      .select(col("okey"), col("s"), col("s_nationkey").as("nat"))
    Superstep.pin(orderSupp.as("x")
      .join(orderSupp.as("y"),
        col("x.okey") === col("y.okey") && col("x.nat") === col("y.nat") && col("x.s") < col("y.s"))
      .select(col("x.s").as("a"), col("y.s").as("b"))
      .distinct())
  }

  /** Per-node triangle counts over an ordered edge list: wedge join on the
    * middle vertex + closing-edge semi-join (each triangle a<b<c found
    * exactly once), then one explode+count per corner.
    */
  private[graft] def triangleCounts(edges: DataFrame): DataFrame = {
    val wedges = edges.as("e1")
      .join(edges.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("a"), col("e1.b").as("b"), col("e2.b").as("c"))
    val triangles = Superstep.pin(wedges
      .join(edges.select(col("a"), col("b").as("c")), Seq("a", "c"), "left_semi"))
    triangles.select(explode(array(col("a"), col("b"), col("c"))).as("suppkey"))
      .groupBy("suppkey")
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** g18: LOCAL CLUSTERING COEFFICIENT on g7's co-purchase graph — the
    * per-node "how clique-like is my neighborhood" signal (GDS
    * `localClusteringCoefficient`; the reference's colleague-clique
    * analysis normalized by opportunity): cc(v) = 2·T(v) / (deg(v)·(deg(v)−1)),
    * in exact integer micro-units (`(2·T·1e6) DIV (deg·(deg−1))`, 0 when
    * deg < 2) so the ranking carries no float and reproduces bit-for-bit
    * on any engine. Triangle counts and degrees both ride the ONE
    * checkpointed edge list (the degree aggregate is an explode+count —
    * no second edge build), so g18 costs g7 plus one O(E) aggregate.
    */
  def g18ClusteringCoeff(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val edges = coPurchaseEdges(t)
    val perNode = triangleCounts(edges)
    val deg = edges.select(explode(array(col("a"), col("b"))).as("suppkey"))
      .groupBy("suppkey")
      .agg(count(lit(1)).as("deg"))
    // No release here: the lazy `deg` aggregate still reads `edges`; the
    // session-level releaseCaches sweep reclaims them after the query.
    t.supplier.select(col("s_suppkey").as("suppkey"))
      .join(deg, Seq("suppkey"), "left")
      .join(perNode, Seq("suppkey"), "left")
      .select(
        col("suppkey"),
        coalesce(col("deg"), lit(0L)).as("deg"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("cc_micro",
        when(col("deg") >= 2,
          expr("(2 * n_triangles * 1000000) DIV (deg * (deg - 1))"))
          .otherwise(lit(0L)))
  }

  /** g21: TEMPORAL (time-respecting) reachability — foremost-arrival BFS
    * over the timestamped customer–supplier contact graph (Wu et al.
    * VLDB'14 temporal-graph semantics; operationally: supply-chain taint
    * tracing — "a bad batch entered at these seed customers; who can have
    * been affected, and how early"). Static reachability OVERCOUNTS on
    * temporal graphs: a path is only admissible if each successive
    * contact happens AT OR AFTER the arrival it relays — an edge that
    * shipped before the taint arrived cannot carry it. Every frontier
    * therefore carries the FOREMOST (earliest feasible) arrival day, and
    * a hop relaxes `arrival(v) = min over edges (u,v,d) with
    * d ≥ arrival(u) of d` — exact integer days, so the whole analysis is
    * engine-reproducible and the DuckDB oracle unrolls the same three
    * relaxations.
    *
    * At most three supersteps (seed customers → suppliers → customers →
    * suppliers; the bounded round count keeps the not-yet-converged
    * output deterministic and oracle-exact). Scale shape: one (custkey,
    * suppkey, day) distinct edge projection, pinned once and folded into
    * the traversal's per-node adjacency; each superstep sends only from
    * the nodes whose arrival improved, with the date predicate inline,
    * folded by one min per node — no path enumeration anywhere.
    */
  def g21TemporalReach(spark: SparkSession, dir: String, seedMod: Int = 500): DataFrame = {
    val t = Tables(spark, dir)
    val edges = Superstep.pin(t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .select(
        col("o_custkey").as("c"),
        col("l_suppkey").as("s"),
        expr("unix_seconds(CAST(l_shipdate AS TIMESTAMP)) DIV 86400").as("d"))
      .distinct())
    // Seeds carry arrival 0 (every ship day is far later): "tainted from
    // the start of history".
    val seeds = t.customer.filter(pmod(col("c_custkey"), lit(seedMod)) === 0)
      .select(col("c_custkey").as("c"), lit(0L).as("arr"))
    temporalReachCore(edges, seeds)
  }

  /** The three-superstep foremost-arrival relaxation over arbitrary
    * (c, s, d) contact edges and (c, arr) seeds — factored so the spec
    * can pin the time-respecting semantics on a crafted graph (an edge
    * that precedes the taint's arrival must NOT relay it — exactly what
    * static reachability gets wrong).
    *
    * Expressed through [[minRelaxTraverse]] (hand-rolled supersteps
    * until r13): foremost arrival IS the min-relaxation with
    * `relax(s) = IF(d ≥ s, d, NULL)` — the time predicate is the
    * per-edge refusal, the foremost fold is the min. At most three
    * rounds (customer→supplier→customer→supplier), same packed-long
    * bipartite encoding as g6/g9. The relax ignores the round, so
    * sending only from improved nodes gives exactly what re-relaxing
    * every edge each round gives; output contract (side, node_id,
    * foremost_day) and values are bit-identical to the unrolled form
    * (driver gate + crafted spec pin it).
    */
  def temporalReachCore(edges: DataFrame, seeds: DataFrame): DataFrame = {
    val sym = edges
      .select((col("c").cast("long") * 2).as("src"),
        (col("s").cast("long") * 2 + 1).as("dst"), col("d"))
      .unionByName(edges.select((col("s").cast("long") * 2 + 1).as("src"),
        (col("c").cast("long") * 2).as("dst"), col("d")))
    val init = seeds.select((col("c").cast("long") * 2).as("node"), col("arr").as("state"))
    minRelaxTraverse(sym, init, maxRounds = 3)(
      (s, _) => when(col("d") >= s, col("d")))
      .select(
        when(pmod(col("node"), lit(2)) === 0, lit("customer"))
          .otherwise(lit("supplier")).as("side"),
        shiftright(col("node"), 1).as("node_id"),
        col("state").as("foremost_day"))
  }
}
