package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Superstep, Tables}

/** Cycle audit over a DIRECTED PARENT-POINTER (functional) graph — the
  * referential-integrity sibling of h6's FK audit, and the ingest gate
  * g8's hierarchy expansion assumes but never checked: the reference
  * loads `BELONGS_TO` parent pointers scraped from the web
  * (mysql2neo4j.py:204-227) and auto-creates parents on first sight
  * (:740) — scraped hierarchies GET cycles, and a closure expansion fed
  * a cycle either never terminates or silently double-counts paths.
  * This operator reports exactly the nodes on cycles, each labeled with
  * a canonical cycle id (the ring's minimum node id — the CC-label
  * discipline), so ingest can quarantine them before [[GraphOps.expandHierarchy]]
  * runs (which now REFUSES loudly past its depth bound instead of
  * spinning).
  *
  * A parent-pointer graph is FUNCTIONAL (each child has at most one
  * parent ⇒ out-degree ≤ 1), which makes exact cycle detection two
  * bounded fixed-point passes — no SCC machinery needed:
  *
  *   1. PEEL (`peelRounds` rounds): repeatedly drop edges whose child
  *      has no surviving incoming edge. After round t the surviving
  *      edges are exactly those whose child ends an incoming chain of
  *      length ≥ t; tree tails (finite chains) die within max-depth
  *      rounds, ring edges (infinite chains) survive forever — so the
  *      survivor set IS the set of ring edges once `peelRounds` exceeds
  *      the longest acyclic chain (the same bounded-round contract as
  *      g12's k-core peeling; each round is ONE left-semi join, O(E)).
  *   2. MIN-LABEL by pointer DOUBLING (`doublings` rounds): state
  *      (node, anc = 2^k-th successor, mn = min id seen); each round
  *      joins the state with itself so coverage doubles — after d
  *      rounds every ring of length ≤ 2^d has propagated its global
  *      minimum to every member. log-round convergence, O(rings) rows.
  *
  * Both loops are fixed-round and integer/string-deterministic, so a
  * DuckDB recursive-CTE oracle (walk ≤ 64 steps from every node; a
  * walk that returns to its start IS a cycle, and the min over the
  * returning walk is the ring min) recomputes the result exactly.
  *
  * Scale shape: peel never moves more than the surviving edge set
  * (shuffle keys child/parent — no skew beyond graph hubs); the
  * doubling state is O(cycle nodes), typically minuscule; nothing is
  * ever enumerated per-path. 100 TB posture: an audit over a trillion
  * parent pointers is `peelRounds + doublings` joins, not a traversal.
  */
object CycleAudit {

  /** Nodes on directed cycles of the functional edge list
    * `(child, parent)`, labeled `(node, cycle_id = min ring member)`.
    * `peelRounds` must exceed the longest acyclic chain feeding a
    * cycle; `doublings` must satisfy 2^doublings ≥ longest cycle — both
    * are the documented accuracy/termination levers (defaults cover
    * depth ≤ 16 tails and rings ≤ 32; raise for deeper corpora).
    */
  def cycleMembers(
      edges: DataFrame,
      peelRounds: Int = 16,
      doublings: Int = 5): DataFrame = {
    var e = Superstep.pin(edges.select(col("child"), col("parent"))
      .dropDuplicates("child", "parent"))
    var cnt = Superstep.rows(e)
    // +1: the extra round is the FIXPOINT CERTIFICATE — an undersized
    // lever must refuse loudly, not return tree tails as "ring members"
    // (the loud-refusal discipline of g8/g29). A peel round that removes
    // nothing proves every survivor ends arbitrarily long incoming
    // chains, i.e. the survivor set IS the ring-edge set; each round's
    // survivor count is a metric on its pin job.
    var prevCnt = -1L
    var r = 0
    while (r <= peelRounds && cnt != prevCnt) {
      r += 1
      val next = Superstep.pin(e.join(
        e.select(col("parent").as("child")).distinct(), Seq("child"), "left_semi"))
      prevCnt = cnt
      cnt = Superstep.rows(next)
      Superstep.release(e)
      e = next
    }
    require(cnt == prevCnt,
      s"cycleMembers: the peel was still shrinking after peelRounds=$peelRounds " +
        s"rounds ($prevCnt→$cnt edges) — an acyclic chain longer than the lever " +
        "would be misreported as ring members; raise peelRounds")
    // Survivors are ring edges: seed the doubling state with 1-step
    // coverage, then double until no min drops, for at most doublings + 1
    // rounds. A round that lowers no node's min is the fixpoint
    // certificate for the label pass, and every later round would lower
    // none either (each node's min is already no greater than its
    // ancestor's), so stopping there is exact. No such round within the
    // cap means a ring longer than 2^doublings got inconsistent
    // non-minimum labels, and the lever must be raised.
    val st0 = Superstep.pin(e.select(col("child").as("node"), col("parent").as("anc"),
      least(col("child"), col("parent")).as("mn")))
    Superstep.release(e)
    val (st, converged) =
      Superstep.iterate(st0, 1 to doublings + 1, progress = Some("lowered")) { (st, _) =>
        st.join(st.select(col("node").as("anc"), col("anc").as("anc2"), col("mn").as("mn2")),
            Seq("anc"))
          .select(col("node"), col("anc2").as("anc"),
            least(col("mn"), col("mn2")).as("mn"), (col("mn2") < col("mn")).as("lowered"))
      }
    Superstep.release(st0)
    require(converged,
      s"cycleMembers: min-labels still improving after doublings=$doublings " +
        s"(coverage 2^$doublings) — a ring longer than the coverage holds " +
        "inconsistent labels; raise doublings")
    st.select(col("node"), col("mn").as("cycle_id"))
  }

  /** STRONGLY CONNECTED COMPONENTS on a GENERAL directed graph —
    * the completion of the cycle story [[cycleMembers]] opens (that one
    * is exact only for functional/parent-pointer graphs; arbitrary
    * relationship graphs need real SCC). Bounded-round COLORING
    * algorithm (Orzan 2004; the FW-BW family's distributed member):
    * per iteration,
    *
    *   1. COLOR: every node takes `F(v)` = the minimum id that can
    *      reach it — one min-propagation to fixpoint over the live
    *      edges, which is exactly [[GraphIter.minRelaxTraverse]] with
    *      an identity relax (the state IS the min source id);
    *   2. SETTLE: a color class's ROOT is the color value itself
    *      (F(r) = r). Every node that can reach its root WITHOUT
    *      leaving its color class is in the root's SCC (mutual reach:
    *      root→v by coloring, v→root by the backward pass) — one more
    *      min-propagation, over the color-filtered REVERSED edges,
    *      seeded at the roots;
    *   3. PEEL: settled nodes leave; survivors re-color next round
    *      (their old color's root is gone, so colors refine — each
    *      iteration settles ONE SCC PER COLOR CLASS, not one total).
    *
    * Singleton SCCs (sources, DAG nodes whose upstream has settled)
    * settle the round they become their own color root, so iteration
    * count tracks the DEPTH of the SCC condensation, not the SCC
    * count. Refuses loudly if `iterations` rounds leave nodes
    * unsettled (raise the lever) — never emits a partial answer.
    *
    * Scale shape: everything is min-fold propagation and semi-joins —
    * two bounded traversals per iteration over the LIVE subgraph
    * (which only shrinks), each round of them one exchange plus its pin
    * with messages only from the nodes whose color improved; no
    * pair/path enumeration, and the traversal engine's own sizing probe
    * handles the reduce widths.
    */
  def stronglyConnected(
      edges: DataFrame,
      iterations: Int = 6,
      maxRounds: Int = 64): DataFrame = {
    var live = Superstep.pin(edges.select(col("src"), col("dst")).dropDuplicates("src", "dst"))
    var nodes = Superstep.pin(live.select(col("src").as("node"))
      .unionByName(live.select(col("dst").as("node")))
      .distinct())
    var nCnt = Superstep.rows(nodes)
    val settled = scala.collection.mutable.ListBuffer.empty[DataFrame]
    var i = 0
    while (i < iterations && nCnt > 0) {
      // 0. TRIM (the FW-BW-Trim refinement — Orzan's coloring family,
      // r17): a node with no incoming or no outgoing LIVE edge cannot
      // sit on a cycle, so it is its own singleton SCC — settle it with
      // two semi-joins per round instead of paying the coloring pass's
      // full min-propagation fixpoint for acyclic structure. Interleaved
      // per iteration because each peel exposes the condensation's next
      // DAG layer: on DAG-heavy graphs the trim absorbs what previously
      // cost one full color+settle iteration PER CONDENSATION LEVEL
      // (this fixture: parts/customers/nations/regions all trim in ~2
      // rounds and the coloring then runs once, over the supplier rings
      // alone). Labels are identical by construction — a singleton
      // settles as (node, node) on both paths (root = itself).
      var trimming = true
      while (trimming && nCnt > 0) {
        val keep = Superstep.pin(nodes
          .join(live.select(col("src").as("node")), Seq("node"), "left_semi")
          .join(live.select(col("dst").as("node")), Seq("node"), "left_semi"))
        val kCnt = Superstep.rows(keep)
        if (kCnt == nCnt) { Superstep.release(keep); trimming = false }
        else {
          settled += Superstep.pin(nodes.join(keep, Seq("node"), "left_anti")
            .select(col("node"), col("node").as("scc_id")))
          val liveNext = Superstep.pin(live
            .join(keep.select(col("node").as("src")), Seq("src"), "left_semi")
            .join(keep.select(col("node").as("dst")), Seq("dst"), "left_semi"))
          Superstep.release(nodes); Superstep.release(live)
          nodes = keep; live = liveNext; nCnt = kCnt
        }
      }
      if (nCnt == 0) { i += 1 }
      else {
      // 1. Color to fixpoint: F(v) = min id reaching v. The traversal
      // must certify it actually REACHED the fixpoint (requireConverged):
      // a coloring truncated at maxRounds assigns wrong colors silently —
      // e.g. a directed ring of diameter > maxRounds would settle as
      // all-singletons with no error — so truncation refuses loudly with
      // the lever to raise instead of proceeding to settle.
      val colors = try {
        Superstep.pin(GraphIter.minRelaxTraverse(
          live, nodes.select(col("node"), col("node").as("state")),
          maxRounds, requireConverged = true)((s, _) => s)
          .select(col("node"), col("state").as("color")))
      } catch {
        case ex: IllegalStateException =>
          throw new IllegalStateException(
            s"stronglyConnected: the coloring pass was truncated at maxRounds=$maxRounds " +
              "before reaching its fixpoint (a color class wider than the round budget — " +
              "e.g. a long directed ring); raise `maxRounds`, not `iterations`", ex)
      }
      // 2. Backward reach from each color root inside its color class.
      val colored = live
        .join(colors.select(col("node").as("src"), col("color").as("cs")), Seq("src"))
        .join(colors.select(col("node").as("dst"), col("color").as("cd")), Seq("dst"))
        .filter(col("cs") === col("cd"))
        // reversed: propagate FROM the root against edge direction.
        .select(col("dst").as("src"), col("src").as("dst"))
      val roots = colors.filter(col("node") === col("color"))
        .select(col("node"), col("node").as("state"))
      val reached = try {
        GraphIter.minRelaxTraverse(
          colored, roots, maxRounds, requireConverged = true)((s, _) => s)
          .select(col("node"))
      } catch {
        case ex: IllegalStateException =>
          throw new IllegalStateException(
            s"stronglyConnected: the settle pass was truncated at maxRounds=$maxRounds " +
              "before its backward reach converged; raise `maxRounds`, not `iterations`", ex)
      }
      val scc = Superstep.pin(reached.join(colors, Seq("node"))
        .select(col("node"), col("color").as("scc_id")))
      settled += scc
      // 3. Peel: survivors only.
      val remaining = Superstep.pin(nodes.join(scc.select("node"), Seq("node"), "left_anti"))
      val liveNext = Superstep.pin(live
        .join(remaining.select(col("node").as("src")), Seq("src"), "left_semi")
        .join(remaining.select(col("node").as("dst")), Seq("dst"), "left_semi"))
      Seq(nodes, live, colors).foreach(Superstep.release)
      nodes = remaining
      live = liveNext
      nCnt = Superstep.rows(remaining)
      i += 1
      }
    }
    require(nCnt == 0,
      s"stronglyConnected: nodes still unsettled after $iterations iterations — " +
        "the SCC condensation is deeper than the lever; raise `iterations`")
    val out = Superstep.pin(settled.reduce(_.unionByName(_)))
    (settled ++ Seq(nodes, live)).foreach(Superstep.release)
    out
  }

  /** The shared g27/g29 fixture: g8's acyclic customer→nation→region
    * parent pointers + supplier decade rings (cycles) + part tree-tails
    * hanging off the rings — deterministic from the corpus, re-derived
    * identically by both oracles.
    */
  private def hierarchyFixture(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = Tables(spark, dir)
    val custEdges = t.customer
      .join(t.nation, col("c_nationkey") === col("n_nationkey"))
      .select(concat(lit("c_"), col("c_custkey")).as("child"), col("n_name").as("parent"))
    val nationEdges = t.nation
      .join(t.region, col("n_regionkey") === col("r_regionkey"))
      .select(col("n_name").as("child"), col("r_name").as("parent"))
    val g = Window.partitionBy(expr("(s_suppkey - 1) DIV 10"))
    val ringEdges = t.supplier
      .select(col("s_suppkey"),
        coalesce(
          lead(col("s_suppkey"), 1).over(g.orderBy(col("s_suppkey"))),
          min(col("s_suppkey")).over(g)).as("nxt"))
      .select(concat(lit("s_"), col("s_suppkey")).as("child"),
        concat(lit("s_"), col("nxt")).as("parent"))
    val tailEdges = t.part
      .select(concat(lit("p_"), col("p_partkey")).as("child"),
        concat(lit("s_"), pmod(col("p_partkey"), lit(100)) + 1).as("parent"))
    custEdges.unionByName(nationEdges).unionByName(ringEdges).unionByName(tailEdges)
  }

  /** g27: cycle audit on a crafted cyclic+acyclic hierarchy derived
    * deterministically from the corpus — the acyclic tier is g8's own
    * customer→nation→region parent pointers, the cyclic tier turns the
    * suppliers into rings of 10 (each supplier's parent = the next key
    * in its decade, wrapping), and every part hangs off a ring as a
    * tree tail (`p_<k>` → `s_<k mod 100 + 1>`) so the peel has real
    * work. Output: exactly the ring members with their ring-min label —
    * customers, nations, regions and parts must NOT appear.
    */
  def g27CycleAudit(spark: SparkSession, dir: String): DataFrame =
    cycleMembers(hierarchyFixture(spark, dir))

  /** g29: SCC on the same crafted hierarchy treated as a GENERAL
    * directed graph — every node labeled with its strongly-connected
    * component (min member id): ring members share their ring's label,
    * every acyclic node (customers, nations, regions, parts) is its own
    * singleton SCC. The oracle computes ground truth from the full
    * recursive closure (mutual reachability), so an unsettled or
    * mislabeled node hash-mismatches.
    */
  def g29Scc(spark: SparkSession, dir: String): DataFrame =
    stronglyConnected(
      hierarchyFixture(spark, dir)
        .select(col("child").as("src"), col("parent").as("dst")))
}
