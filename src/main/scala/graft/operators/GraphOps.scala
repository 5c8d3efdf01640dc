package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Superstep, Tables}

/** Graph edge derivation — the Neo4j side of the reference re-expressed as
  * relational plans.
  *
  * The reference materializes relationship edges with Cypher self-joins:
  * SAME_HOMETOWN (mysql2neo4j.py:229-253), SCHOOLMATES (255-371) and
  * COLLEAGUES (373-489) are all "group people by an attribute, emit one
  * directed pair per unordered combination, annotate with interval
  * overlap". On Spark that is a group-bounded self-equijoin: the shuffle
  * key is the grouping attribute, pair explosion is bounded by group size,
  * and the interval arithmetic is a codegen'd column expression.
  */
object GraphOps {

  /** g1: all-pairs within a group with id1 < id2 dedup — SAME_HOMETOWN
    * (birth_place → nation as the grouping attribute).
    * Scale note: group-keyed self-equijoin ([[sameGroupPairs]]); the
    * shuffle key is the group attribute and output is bounded by
    * sum(|group|^2).
    */
  def g1SameGroupPairs(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    // Self-join on the compact int key; the group's display name is
    // broadcast-joined onto the (much larger) pair set afterwards, so the
    // pair shuffle carries three ints instead of strings. A hub group
    // (the reference hard-excludes its known mega-hub, mysql2neo4j.py:265)
    // needs no denylist: AQE splits its skewed join partition.
    val c = t.customer.select(col("c_nationkey").as("grp"), col("c_custkey").as("id"))
    // No terminal sort: the output is the quadratic pair set itself — a
    // global order over it would dominate the whole job at scale (sf1: a
    // total sort of ~450 M rows appended to an output-bound operator).
    // Deterministic ordering for verification is applied by Verify at
    // write time; production consumers get the unsorted pair stream.
    sameGroupPairs(c)
      .join(t.nation.select(col("n_nationkey").as("grp"), col("n_name")), Seq("grp"))
      .select(col("n_name").as("nation_name"),
        col("id1").as("custkey1"), col("id2").as("custkey2"))
  }

  /** Within-group pairs: the `(grp, id)` self-equijoin with `id1 < id2`,
    * one row `(grp, id1, id2)` per unordered pair of ids sharing a group.
    * `df` must have columns (grp, id).
    *
    * A hot group is left to AQE's skew join (on in every
    * [[graft.GraftSession]]), which splits a join partition by its
    * shuffle BYTES at Spark's `spark.sql.adaptive.skewJoin.*` thresholds
    * (256 MB and 5× the median partition by default), not by a group's
    * row count. So a hub whose input stays below those thresholds pairs
    * in one task, and its output is quadratic either way: the output is
    * the semantics. Those session settings are the one place to move the
    * split point. Shrinking the candidate MASS is a different job, done
    * before the join by the callers' volume routers (d3/d15's
    * `autoWidenBands`, the hamming tiers' `subSplitKeys` and exact-dup
    * collapse), which AQE cannot do.
    */
  def sameGroupPairs(df: DataFrame): DataFrame =
    df.select(col("grp"), col("id").as("id1"))
      .join(df.select(col("grp"), col("id").as("id2")), Seq("grp"))
      .filter(col("id1") < col("id2"))

  /** g1b: current-relationship pairs — the COLLEAGUES no-interval
    * WORKS_FOR branch (mysql2neo4j.py:381-399): people *currently* at the
    * same organization pair up with a distinct property shape — workplace,
    * both positions, and the literal period "till now" instead of a
    * computed overlap.
    *
    * "Currently employed" is derived relative to the corpus horizon (stint
    * end within 90 days of the global max ship date) rather than a fixed
    * literal, so the predicate holds at any scale factor. The horizon is a
    * 1-row aggregate, broadcast onto the supplier stints.
    */
  def g1bCurrentPairs(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val horizon = t.lineitem.agg(max(col("l_shipdate")).as("horizon"))
    val current = t.lineitem
      .groupBy(col("l_suppkey"))
      .agg(max(col("l_shipdate")).as("end_d"))
      .crossJoin(horizon)
      .filter(col("end_d") >= date_sub(col("horizon"), 90))
      .join(t.supplier, col("l_suppkey") === col("s_suppkey"))
      .join(t.nation, col("s_nationkey") === col("n_nationkey"))
      // Position analog of the reference's w.position property — a
      // deterministic seniority band derived from the key.
      .select(col("s_suppkey"), col("n_name"),
        element_at(array(lit("junior"), lit("mid"), lit("senior")),
          (pmod(col("s_suppkey"), lit(3)) + 1).cast("int")).as("position"))
    val a = current.select(col("n_name").as("workplace"),
      col("s_suppkey").as("suppkey1"), col("position").as("position1"))
    val b = current.select(col("n_name").as("workplace"),
      col("s_suppkey").as("suppkey2"), col("position").as("position2"))
    a.join(b, Seq("workplace"))
      .filter(col("suppkey1") < col("suppkey2"))
      .select(col("workplace"), col("suppkey1"), col("position1"),
        col("suppkey2"), col("position2"), lit("till now").as("overlap_period"))
  }

  /** g2: interval-overlap pairs — COLLEAGUES/SCHOOLMATES semantics
    * (mysql2neo4j.py:399-466): same workplace, overlapping stints, overlap
    * period = [max(start1,start2), min(end1,end2)].
    *
    * Stints are derived per supplier from lineitem ship dates; workplace is
    * the supplier's nation. A map-side partial aggregate shrinks the fact
    * table to one row per supplier before the pair join.
    */
  def g2OverlapPairs(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val stints = t.lineitem
      .groupBy(col("l_suppkey"))
      .agg(min(col("l_shipdate")).as("start_d"), max(col("l_shipdate")).as("end_d"))
      .join(t.supplier, col("l_suppkey") === col("s_suppkey"))
      .join(t.nation, col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"), col("start_d"), col("end_d"))
    val a = stints.select(col("n_name").as("grp"), col("s_suppkey").as("suppkey1"),
      col("start_d").as("s1"), col("end_d").as("e1"))
    val b = stints.select(col("n_name").as("grp"), col("s_suppkey").as("suppkey2"),
      col("start_d").as("s2"), col("end_d").as("e2"))
    a.join(b, Seq("grp"))
      .filter(col("suppkey1") < col("suppkey2"))
      .filter(col("s1") <= col("e2") && col("s2") <= col("e1"))
      .select(
        col("grp").as("nation_name"),
        col("suppkey1"), col("suppkey2"),
        greatest(col("s1"), col("s2")).as("overlap_start"),
        least(col("e1"), col("e2")).as("overlap_end"))
  }

  /** g2b: overlap pairs with OPEN / PARTIAL intervals — the reference's
    * SCHOOLMATES semantics verbatim (mysql2neo4j.py:268-357): real career
    * data has NULL years and missing months, and the reference still emits
    * an edge for every same-group pair, annotating it with
    *  - `at_same_time` — true only when all four YEARS are present and the
    *    month-precision intervals overlap, with missing months defaulted
    *    COALESCE(startMonth,1) / COALESCE(endMonth,12); false otherwise
    *    (incomplete intervals never claim overlap);
    *  - `overlap_period` — "YYYY.MM-YYYY.MM" only when `at_same_time` and
    *    every component resolves; the month resolves to the max/min month
    *    only when the years tie AND both months are present, to the
    *    later/earlier stint's defaulted month otherwise, and to NULL on a
    *    year tie with a missing month (which nulls the whole period —
    *    concat propagates NULL on both engines).
    *
    * Stint year/month components come from the supplier ship-date range
    * with deterministic key-derived null injection (suppkey mod 13/5/7/3
    * drops start-year/start-month/end-year/end-month), so the oracle can
    * derive the identical nullable intervals in SQL.
    */
  def g2bOpenOverlapPairs(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val nullUnless = (keyMod: Int, c: Column) =>
      when(pmod(col("s_suppkey"), lit(keyMod)) =!= 0, c)
    val stints = t.lineitem
      .groupBy(col("l_suppkey"))
      .agg(min(col("l_shipdate")).as("start_d"), max(col("l_shipdate")).as("end_d"))
      .join(t.supplier, col("l_suppkey") === col("s_suppkey"))
      .join(t.nation, col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"),
        nullUnless(13, year(col("start_d"))).as("sy"),
        nullUnless(5, month(col("start_d"))).as("sm"),
        nullUnless(7, year(col("end_d"))).as("ey"),
        nullUnless(3, month(col("end_d"))).as("em"))
    val a = stints.select(col("n_name").as("grp"), col("s_suppkey").as("suppkey1"),
      col("sy").as("sy1"), col("sm").as("sm1"), col("ey").as("ey1"), col("em").as("em1"))
    val b = stints.select(col("n_name").as("grp"), col("s_suppkey").as("suppkey2"),
      col("sy").as("sy2"), col("sm").as("sm2"), col("ey").as("ey2"), col("em").as("em2"))
    val yearsComplete = col("sy1").isNotNull && col("ey1").isNotNull &&
      col("sy2").isNotNull && col("ey2").isNotNull
    val atSameTime = when(yearsComplete,
      (col("sy1") * 12 + coalesce(col("sm1"), lit(1))) <= (col("ey2") * 12 + coalesce(col("em2"), lit(12))) &&
        (col("sy2") * 12 + coalesce(col("sm2"), lit(1))) <= (col("ey1") * 12 + coalesce(col("em1"), lit(12))))
      .otherwise(lit(false))
    val bothStartYears = col("sy1").isNotNull && col("sy2").isNotNull
    val bothEndYears   = col("ey1").isNotNull && col("ey2").isNotNull
    val oSy = when(bothStartYears, greatest(col("sy1"), col("sy2")))
    val oSm = when(bothStartYears && col("sy1") === col("sy2") &&
        col("sm1").isNotNull && col("sm2").isNotNull, greatest(col("sm1"), col("sm2")))
      .when(bothStartYears && col("sy1") > col("sy2"), coalesce(col("sm1"), lit(1)))
      .when(bothStartYears && col("sy2") > col("sy1"), coalesce(col("sm2"), lit(1)))
    val oEy = when(bothEndYears, least(col("ey1"), col("ey2")))
    val oEm = when(bothEndYears && col("ey1") === col("ey2") &&
        col("em1").isNotNull && col("em2").isNotNull, least(col("em1"), col("em2")))
      .when(bothEndYears && col("ey1") < col("ey2"), coalesce(col("em1"), lit(12)))
      .when(bothEndYears && col("ey2") < col("ey1"), coalesce(col("em2"), lit(12)))
    val period = when(col("at_same_time") === 1,
      concat(col("osy").cast("string"), lit("."),
        lpad(col("osm").cast("string"), 2, "0"), lit("-"),
        col("oey").cast("string"), lit("."),
        lpad(col("oem").cast("string"), 2, "0")))
    a.join(b, Seq("grp"))
      .filter(col("suppkey1") < col("suppkey2"))
      .withColumn("at_same_time", atSameTime.cast("int"))
      .withColumn("osy", oSy).withColumn("osm", oSm)
      .withColumn("oey", oEy).withColumn("oem", oEm)
      .select(
        col("grp").as("nation_name"),
        col("suppkey1"), col("suppkey2"), col("at_same_time"),
        period.as("overlap_period"))
  }

  /** g3: degree centrality on the customer–supplier bipartite graph
    * (Person–Org degree). Distinct-edge projection happens before the
    * count so the aggregate is over the edge set, not the fact table.
    */
  def g3Degree(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("custkey"), col("l_suppkey").as("suppkey"))
      .distinct()
      .groupBy(col("custkey"))
      .agg(count(lit(1)).as("degree"))
  }

  /** g4: 2-hop neighborhood size — customers reachable through a shared
    * supplier (schoolmates-of-schoolmates analog). The edge set is
    * deduplicated first; the hop is an equijoin on the shared endpoint.
    */
  def g4TwoHop(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    // Materialized once: the two bitmap builds read the same
    // checkpointed edge set instead of re-running the fact join twice.
    val edges = Superstep.pin(t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("custkey"), col("l_suppkey").as("suppkey"))
      .distinct())
    // Bitmap semiring: vertex ids are dense small ints, so each
    // supplier's customer set is ONE uncompressed bitmap (~2 KB at
    // sf0.1), built with Θ(Σ deg) bit-sets, and the per-customer union
    // is a word-wise OR over that customer's supplier bitmaps — Θ(E ·
    // |words|) OR instructions. The packed-array + hash-set formulation
    // this replaces re-touched every element of every attached list
    // (Θ(Σ deg²) hash probes); swap the bitmap for roaring/HLL when the
    // id space is sparse or approximate counts suffice
    // ([[org.apache.spark.sql.graft.DistinctLongUnionCount]] remains the
    // range-unbounded exact fallback). Every customer appears in its own
    // suppliers' bitmaps, so the union always contains self: two-hop
    // neighbors = count − 1.
    val supp2bm = Superstep.pin(edges.groupBy("suppkey")
      .agg(org.apache.spark.sql.graft.BitmapAggregates
        .bitmapOfLongs(col("custkey")).as("bm")))
    // Size-based routing on the pin's measured size (each bitmap at its
    // observed length): the supplier→customers side is |middle vertices| ×
    // |keyspace|/8 bytes, which outgrows the driver long before 100 TB.
    if (Superstep.bytes(supp2bm) <= spark.sessionState.conf.autoBroadcastJoinThreshold) {
      // Small-middle path: collect the supplier bitmaps (bounded by the
      // pin's size, same budget a broadcast would use) into ONE packed blob
      // riding inside a scalar expression, and aggregate the EDGES down
      // to per-customer supplier-set bitmaps first. The union then runs
      // as a projection over one row per customer. The previous
      // formulation broadcast-joined the bitmap table onto every edge
      // row before aggregating — semantically identical, but it
      // materialized a ~2 KB bitmap copy per edge (gigabytes of
      // allocation per sweep at sf0.1) and its GC pressure, not compute,
      // dominated and destabilized the whole bench session. Same
      // Θ(E · |words|) OR work, zero per-edge allocation, and the only
      // shuffle is the skinny per-customer aggregate.
      val blob = org.apache.spark.sql.graft.BitmapBlob.build(
        supp2bm.collect().toSeq
          .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)))
      edges.groupBy("custkey")
        .agg(org.apache.spark.sql.graft.BitmapAggregates
          .bitmapOfLongs(col("suppkey")).as("sbm"))
        .select(col("custkey"),
          (org.apache.spark.sql.graft.BitmapAggregates
            .blobUnionCount(col("sbm"), blob) - 1L).as("n_two_hop"))
    } else {
      // Large-middle fallback: shuffle join on suppkey, then the
      // customer-side OR-union aggregate (in-place byte OR, no per-row
      // decode allocation).
      edges.join(supp2bm, Seq("suppkey"))
        .groupBy("custkey")
        .agg((org.apache.spark.sql.graft.BitmapAggregates
          .bitmapOrCount(col("bm")) - 1L).as("n_two_hop"))
    }
  }

  /** g4 escalation path: APPROXIMATE two-hop counts via Spark's native
    * HLL++ sketch aggregate — the documented fallback for when the vertex
    * id space goes sparse/wide (raw 64-bit hashes, federated ids) and the
    * dense bitmap of [[g4TwoHop]] stops being the right buffer. No
    * distinct pre-aggregation, no bitmap: the wedge join streams straight
    * into `approx_count_distinct`, whose partial aggregation merges
    * sketches map-side, so the shuffle carries one fixed-size sketch per
    * (customer, partition) regardless of degree or keyspace — the
    * Θ(E·words) bitmap OR becomes Θ(wedges) sketch updates with O(1)
    * state. Spark-first deliberately: HLL++ is built in (codegen'd,
    * AQE-aware), so the escalation is a one-line plan change, not a new
    * engine component. Accuracy is `rsd` relative error (exact in
    * HLL++'s sparse regime — small neighborhoods pay no error at all);
    * the union always contains self, hence the −1.
    */
  def g4TwoHopApprox(spark: SparkSession, dir: String, rsd: Double = 0.05): DataFrame = {
    val t = Tables(spark, dir)
    val edges = t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("custkey"), col("l_suppkey").as("suppkey"))
      .distinct()
    edges.as("a")
      .join(edges.as("b"), Seq("suppkey"))
      .select(col("a.custkey").as("custkey"), col("b.custkey").as("other"))
      .groupBy("custkey")
      .agg((approx_count_distinct(col("other"), rsd) - 1L).as("n_two_hop_approx"))
  }

  /** g8: iterative parent-pointer expansion over a generic child→parent
    * edge table (org BELONGS_TO chains, mysql2neo4j.py:204-227).
    * The loop shuffles once per level; depth is the tree height (not the
    * node count), so it scales to wide shallow hierarchies — exactly the
    * org-tree shape.
    *
    * BOUND: the expansion REFUSES (IllegalStateException) when level
    * `maxDepth + 1` (default 64) is not empty — cyclic input would
    * otherwise loop forever. Callers with legitimately deeper acyclic
    * hierarchies must raise `maxDepth`; the error message says which
    * case was measured (shrinking frontier = deep tree, stable frontier
    * = cycle).
    */
  def expandHierarchy(edges: DataFrame, maxDepth: Int = 64): DataFrame = {
    // edges: (child: string, parent: string)
    //
    // The levels are Superstep.expand's pinned layers: no O(depth) plan
    // growth, and the first empty level ends the loop on its pin's row
    // count. Their union is pinned ONCE at the end and the levels then
    // released — the result holds one block set, not one per level.
    //
    // CYCLE GUARD: on cyclic input (scraped parent pointers DO cycle —
    // mysql2neo4j.py:204-227 auto-creates parents on first sight) the
    // frontier never empties and the closure would loop forever while
    // double-counting paths. A frontier alive at level `maxDepth + 1` is
    // a cycle (every cycle member spawns unbounded-depth paths) or a
    // deeper-than-expected tree — either way the expansion REFUSES
    // loudly; run [[CycleAudit.cycleMembers]] to locate the offenders.
    val parentOf = edges.select(col("child").as("ancestor"), col("parent").as("next_parent"))
    val levels = Superstep.expand(Superstep.pin(edges
        .select(col("child").as("node"), col("parent").as("ancestor"), lit(1).as("depth"),
          concat_ws("/", col("parent"), col("child")).as("path"))),
        2 to maxDepth + 1) { (found, _) =>
      found.last
        .join(parentOf, Seq("ancestor"))
        .select(col("node"), col("next_parent").as("ancestor"),
          (col("depth") + 1).as("depth"),
          concat_ws("/", col("next_parent"), col("path")).as("path"))
    }
    val counts = levels.map(Superstep.rows)
    if (counts.lift(maxDepth).exists(_ > 0)) {
      levels.foreach(Superstep.release)
      // The last two levels' counts tell the causes apart: a frontier that
      // stopped SHRINKING is a cycle (ring members respawn forever); a
      // still-shrinking one is a tree deeper than maxDepth.
      val cur = counts.last
      val prev = counts.lift(counts.size - 2).getOrElse(Long.MaxValue)
      val hint =
        if (cur >= prev) s"frontier stopped shrinking ($prev→$cur rows) — almost " +
          "certainly cyclic parent pointers; audit with CycleAudit.cycleMembers"
        else s"frontier still shrinking ($prev→$cur rows) — likely a legitimate " +
          s"hierarchy deeper than maxDepth=$maxDepth; raise maxDepth"
      throw new IllegalStateException(
        s"expandHierarchy: frontier still alive at depth ${maxDepth + 1} — $hint")
    }
    val out = Superstep.pin(levels.reduce(_.unionByName(_)))
    levels.foreach(Superstep.release)
    out
  }

  /** g8 driver-contract wrapper: customer→nation→region hierarchy, full
    * ancestor closure with depth and path.
    */
  def g8HierarchyPaths(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val custEdges = t.customer
      .join(t.nation, col("c_nationkey") === col("n_nationkey"))
      .select(concat(lit("c_"), col("c_custkey")).as("child"), col("n_name").as("parent"))
    val nationEdges = t.nation
      .join(t.region, col("n_regionkey") === col("r_regionkey"))
      .select(col("n_name").as("child"), col("r_name").as("parent"))
    expandHierarchy(custEdges.unionByName(nationEdges))
      .select("node", "ancestor", "depth", "path")
  }

  /** g13: node similarity on the supplier side of the bipartite purchase
    * graph — the Neo4j GDS `nodeSimilarity` analog the reference's
    * graph store offers over its Person–Org edges: Jaccard of the two
    * nodes' neighbor sets, in fixed-point micro-units
    * (`common·1e6 DIV (d1+d2−common)` — integer-exact cross-engine),
    * top-`k` most similar neighbors per node with deterministic
    * (similarity desc, id asc) tie-break.
    *
    * Scale shape: candidate pairs come from a shared-neighbor EQUIJOIN
    * (never all-pairs) — cost is Σ over customers of supplier-degree²,
    * so hub customers are the blowup axis; `hubCutoff` drops customers
    * whose supplier fan-out exceeds it from PAIR GENERATION only (the
    * reference's own hub exclusion, mysql2neo4j.py:265, and GDS's
    * degreeCutoff lever), while Jaccard denominators keep the full
    * degrees. The per-node top-k is a `row_number ≤ k` window pruned to
    * per-task top-k by WindowGroupLimit. Degrees join by key — no
    * broadcast assumption on the vertex table.
    */
  def g13NodeSimilarity(
      spark: SparkSession, dir: String, k: Int = 5,
      hubCutoff: Int = defaultHubCutoff): DataFrame = {
    val (pairs, deg) = wedgeSubstrate(spark, dir, hubCutoff)
    nodeSimilarityTail(pairs.select("s1", "s2", "common"), deg, k)
  }

  /** The default hub cutoff shared by g13 and g20 — one constant, so the
    * two keys cannot drift apart on it.
    */
  private[graft] val defaultHubCutoff = 50

  /** The shared (supplier, customer) purchase edge list of the g13/g20
    * pair — lineitem⋈orders, deduplicated. NOT pinned here: the
    * substrate build pins it for the duration of its two derivations.
    */
  private[graft] def purchaseEdges(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey").as("s"), col("o_custkey").as("c"))
      .distinct()
  }

  /** Memoized SHARED wedge substrate of g13 and g20 (r16 verdict item
    * 4): both keys aggregate the same pruned-edge self-join over the
    * same purchase edge list — g13 consumes the shared-neighbor count,
    * g20 the RA sum — and [[linkPredictionPairs]] already computes BOTH
    * measures (its pruning `cd <= cutoff` is set-identical to
    * [[nodeSimilarityPairs]]' anti-join on `cd > cutoff`), so ONE pair
    * stage serves the two keys. The suite's two largest sf10 graph
    * stages (~140 s each) collapse to one.
    *
    * The session memo ([[graft.GraftSession.memo]]) it shares with the
    * d3/d6 verified-pairs product (Dedup.verifiedPairs): keyed on (dir,
    * cutoff), retained across [[graft.GraftSession.releaseCaches]], built once
    * per session, and TIMED AS A NAMED SETUP ENTRY by the bench
    * (`setup:g13g20_wedge_memo`) so its cost lands in the sweep total
    * under its own name instead of being billed to whichever consumer
    * runs first. Never cross-run state: the memo dies with the JVM and
    * every entry is computed from the parquet inputs of `dir`.
    *
    * Returns (pairs, sdeg): the combined pair aggregate
    * `(s1, s2, ra_nano, common)` and the full-edge supplier degrees
    * `(s, d)` — the second output rides the same pinned edge scan, so
    * g13's exact Jaccard denominators don't pay a second corpus pass.
    */
  private[graft] def wedgeSubstrate(
      spark: SparkSession, dir: String,
      hubCutoff: Int = defaultHubCutoff): (DataFrame, DataFrame) =
    graft.GraftSession.memo(spark, ("wedgeSubstrate", dir, hubCutoff)) {
      val edges = Superstep.pin(purchaseEdges(spark, dir))
      val pairs = graft.GraftSession.retainCheckpoint(linkPredictionPairs(edges, hubCutoff))
      val sdeg = graft.GraftSession.retainCheckpoint(
        edges.groupBy("s").agg(count(lit(1)).as("d")))
      Superstep.release(edges)
      (pairs, sdeg)
    }

  /** Core of [[g13NodeSimilarity]] over an arbitrary deduplicated
    * bipartite edge list `(s, c)`: Jaccard of `c`-neighbor sets between
    * `s` nodes. Factored out for crafted-graph specs.
    */
  def nodeSimilarity(edges: DataFrame, k: Int, hubCutoff: Int): DataFrame = {
    // Materialize the pair aggregate BEFORE symmetrization: Spark does
    // not share common subexpressions across union branches, so without
    // this the shared-neighbor stage + aggregate run TWICE (plan-audited —
    // two mirrored subtrees). The pair table is result-sized (bounded by
    // Σ C(cd,2) over non-hub neighbors), far smaller than re-running its
    // parent.
    val pairs = Superstep.pin(nodeSimilarityPairs(edges, hubCutoff))
    nodeSimilarityTail(pairs, edges.groupBy("s").agg(count(lit(1)).as("d")), k)
  }

  /** Post-pair-stage tail of [[nodeSimilarity]]: symmetrize, attach the
    * exact full-edge degrees, fixed-point Jaccard, per-node top-k.
    * `pairs` must be MATERIALIZED (pinned or retained) — it is
    * referenced by both union branches.
    */
  private def nodeSimilarityTail(pairs: DataFrame, deg: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sym = pairs.unionByName(
      pairs.select(col("s2").as("s1"), col("s1").as("s2"), col("common")))
    val w = Window.partitionBy(col("s1"))
      .orderBy(col("jaccard_micro").desc, col("s2").asc)
    sym
      .join(deg.select(col("s").as("s1"), col("d").as("d1")), Seq("s1"))
      .join(deg.select(col("s").as("s2"), col("d").as("d2")), Seq("s2"))
      .withColumn("jaccard_micro",
        expr("(common * 1000000) DIV (d1 + d2 - common)"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("s1").as("node"), col("s2").as("neighbor"),
        col("common"), col("jaccard_micro"), col("rank"))
  }

  /** The shared-neighbor pair aggregate of [[nodeSimilarity]], pre-pin —
    * factored out for plan audits and for the formulation-equivalence
    * spec. The self-equijoin on `c` is the MEASURED winner of an r16
    * sf10 A/B against the "ideal" in-row alternative (generate the
    * within-customer ordered pairs off a sorted `collect_list` member
    * array, the g11 idiom): the generator emits only the C(d,2) wedges
    * (745 M at sf10) where the join emits d² rows (~1.5 B) and sorts the
    * 58.7 M-row pruned relation twice — yet the generator's wedge stage
    * measured ~1.8× SLOWER (139.9 s → ~250 s window-adjusted), first on
    * the ObjectHashAggregate 128-key sort-based fallback (re-sorts every
    * task's input), and after scoping that threshold up, still on the
    * per-customer array materialization + nested-`transform` struct
    * allocation that replaces the join's streamed codegen'd inner loop.
    * Guide §1.1's gotcha in practice: fewer rows emitted lost to
    * cheaper-per-row. The join formulation stays; the equivalence spec
    * keeps the generator semantics pinned should the trade ever be
    * re-taken at a different shape.
    */
  private[graft] def nodeSimilarityPairs(
      edges: DataFrame, hubCutoff: Int): DataFrame = {
    val hubs = edges.groupBy("c").agg(count(lit(1)).as("cd"))
      .filter(col("cd") > hubCutoff).select("c")
    val pruned = edges.join(hubs, Seq("c"), "left_anti")
    pruned.select(col("s").as("s1"), col("c"))
      .join(pruned.select(col("s").as("s2"), col("c")), Seq("c"))
      .filter(col("s1") < col("s2"))
      .groupBy("s1", "s2").agg(count(lit(1)).as("common"))
  }

  /** The RA-scored pair aggregate of [[linkPrediction]], pre-pin —
    * factored out for plan audits and the formulation-equivalence spec
    * (see [[nodeSimilarityPairs]] for the measured join-vs-generator
    * verdict). RA additionally carries the shared customer's exact
    * degree: one join prunes hubs AND attaches that degree to every
    * surviving edge, so the pair aggregate folds 10⁹ DIV cd without a
    * third join.
    */
  private[graft] def linkPredictionPairs(
      edges: DataFrame, hubCutoff: Int): DataFrame = {
    val cdeg = edges.groupBy("c").agg(count(lit(1)).as("cd"))
    val pruned = edges.join(cdeg.filter(col("cd") <= hubCutoff), Seq("c"))
    pruned.select(col("s").as("s1"), col("c"), col("cd"))
      .join(pruned.select(col("s").as("s2"), col("c")), Seq("c"))
      .filter(col("s1") < col("s2"))
      .groupBy("s1", "s2")
      .agg(
        sum(expr("CAST(1000000000 AS BIGINT) DIV cd")).as("ra_nano"),
        count(lit(1)).as("common"))
  }

  /** g20: LINK PREDICTION by the Resource-Allocation index (Zhou, Lü &
    * Zhang 2009; the GDS linkPrediction family's strongest local measure)
    * over the same bipartite graph as g13: candidate supplier pairs are
    * those sharing at least one customer, scored
    * ra_nano = Σ_{shared c} 10⁹ DIV deg(c) — each shared neighbor
    * contributes resource INVERSELY to its fan-out, so a promiscuous
    * shared customer says almost nothing about a specific tie while an
    * exclusive one says a lot (the reference's hub-exclusion intuition,
    * mysql2neo4j.py:265, as a weighting instead of a filter). Exact
    * integer fixed-point, so the ranking never flaps across engines.
    *
    * Same candidate machinery as g13 (shared-neighbor pair stage — never
    * all-pairs; hub customers above `hubCutoff` dropped from pair
    * generation), but for RA the cutoff is PRINCIPLED rather than only
    * operational: a dropped hub contributes at most 10⁹/(hubCutoff+1)
    * per pair — the score mass the cutoff can remove is bounded by
    * construction, which is exactly why RA tolerates the skew-safety
    * lever better than raw common-neighbor counts (a dropped hub costs
    * CN a full unit). Degrees come from the FULL edge set (exact);
    * pruning and degree-attach share ONE join because the inner join on
    * the filtered degree table does both. Top-k per node rides the same
    * WindowGroupLimit shape as g13/q3.
    */
  def g20LinkPrediction(
      spark: SparkSession, dir: String, k: Int = 5,
      hubCutoff: Int = defaultHubCutoff): DataFrame =
    linkPredictionTail(wedgeSubstrate(spark, dir, hubCutoff)._1, k)

  /** Core of [[g20LinkPrediction]] over an arbitrary deduplicated
    * bipartite edge list `(s, c)`. Factored out for crafted-graph specs.
    */
  def linkPrediction(edges: DataFrame, k: Int, hubCutoff: Int): DataFrame = {
    // Materialized before symmetrization for the same reason as g13's
    // pair table: the union's two branches would otherwise each re-run
    // the shared-neighbor stage + aggregate (plan-audited).
    linkPredictionTail(Superstep.pin(linkPredictionPairs(edges, hubCutoff)), k)
  }

  /** Post-pair-stage tail of [[linkPrediction]]: symmetrize, RA-rank,
    * per-node top-k. `pairs` must be MATERIALIZED (pinned or retained).
    */
  private def linkPredictionTail(pairs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sym = pairs.unionByName(
      pairs.select(col("s2").as("s1"), col("s1").as("s2"), col("ra_nano"), col("common")))
    val w = Window.partitionBy(col("s1"))
      .orderBy(col("ra_nano").desc, col("s2").asc)
    sym
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("s1").as("node"), col("s2").as("neighbor"),
        col("common"), col("ra_nano"), col("rank"))
  }

  /** g11: news co-occurrence EDGES from the typed extraction — the step
    * between t10's per-item parse and the reference's graph load. The
    * reference extracts one `NewsExtraction` per item (news_schema.py:
    * 1-88: leader + accompanying persons + typed targets) and its loader
    * turns the entity lists of one item into person–person relationships
    * (news_processor.py / mysql2neo4j.py MERGE edges). Here: parse the
    * item's JSON once, collect the person mentions (leader, accompanying,
    * and only the person-TYPED targets — the 个人/公司/组织 filter), and
    * emit one undirected co-occurrence pair per unordered combination,
    * counted across items.
    *
    * Scale shape: mention lists per news item are tiny (a leader plus a
    * handful of names), so pairs are generated INSIDE the row with a
    * nested `transform` over the sorted-distinct mention array — a
    * codegen'd projection, no self-join of the fact table against itself.
    * The only shuffle is the final (person1, person2) count, which is
    * map-side combined. At 100 TB the plan is scan-bound like t10, and
    * a viral person (appearing in many items) skews only the count
    * aggregate's key, not a join explosion.
    */
  def g11NewsCopairs(spark: SparkSession, dir: String): DataFrame = {
    val uid = col("user_id").cast("string")
    val kmod = pmod(get_json_object(col("props"), "$.k").cast("long"), lit(12)).cast("string")
    // The item's typed-extraction document, built verbatim from the row
    // (same construction discipline as t10): leader + one accompanying
    // person + a person-typed and an org-typed target, so the pair stage
    // exercises the type filter rather than formatting luck.
    val doc = concat(
      lit("{\"leader\":{\"name\":\"u"), uid,
      lit("\"},\"accompanying_persons\":[{\"name\":\"a"), kmod,
      lit("\"}],\"targets\":[{\"name\":\"t"), col("event_type"),
      lit("\",\"type\":\"person\"},{\"name\":\"org"), col("event_type"),
      lit("\",\"type\":\"org\"}]}"))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "leader STRUCT<name: STRING>, accompanying_persons ARRAY<STRUCT<name: STRING>>, " +
        "targets ARRAY<STRUCT<name: STRING, type: STRING>>")
    val mentions = Tables(spark, dir).events
      .select(col("event_id"), from_json(doc, schema).as("j"))
      .select(col("event_id"),
        array_sort(array_distinct(concat(
          array(col("j.leader.name")),
          col("j.accompanying_persons.name"),
          expr("transform(filter(j.targets, t -> t.type = 'person'), t -> t.name)")))).as("ps"))
    mentions
      .select(explode(expr(
        "flatten(transform(ps, (x, i) -> " +
          "transform(slice(ps, i + 2, size(ps)), y -> struct(x AS p1, y AS p2))))")).as("p"))
      .groupBy(col("p.p1").as("person1"), col("p.p2").as("person2"))
      .agg(count(lit(1)).as("n_items"))
  }

  /** g19: BUTTERFLY counts per supplier — the bipartite analog of
    * triangle counting. A butterfly (2×2 biclique: two customers sharing
    * two suppliers) is the smallest cohesion unit a bipartite graph can
    * have (triangles are impossible by parity), so butterfly density is
    * the clustering signal for Person–Org-shaped graphs like the
    * reference's — "two leaders who shared two workplaces" is a far
    * stronger tie than one shared workplace (the SAME_HOMETOWN /
    * COLLEAGUES edges count single co-occurrences; this counts their
    * 2×2 reinforcement).
    *
    * Exact count without enumerating 4-tuples: wedges centered on the
    * LOW-DEGREE side (per-customer supplier pairs — Σ_c C(deg_c, 2)
    * rows, the side where degrees are bounded by purchase behavior, vs
    * Σ_s C(deg_s, 2) which squares hub-supplier fan-in), one count per
    * supplier pair (w = shared customers), then C(w, 2) butterflies per
    * pair fold back onto both suppliers. Side selection is THE
    * scale lever (Sanei-Mehri et al. 2018, "Butterfly Counting in
    * Bipartite Networks", KDD — their wedge-side choice argmin Σ deg²).
    *
    * The residual worst case — ONE mega-degree center (a customer on
    * 10⁵ suppliers yields ~5×10⁹ wedges in a single key group) — stays
    * exact: wedges ARE within-group pairs with (grp = center, id =
    * supplier), generated by [[sameGroupPairs]], whose c-keyed join
    * partition AQE splits when it is skewed. The wedge MASS is semantic —
    * for a lossy cap there is `centerCap`
    * (the g13 `hubCutoff` lever / GDS degreeCutoff analog): when set,
    * centers with degree > cap are anti-joined out of wedge generation
    * entirely, undercounting butterflies that ride only on mega-hubs —
    * the documented exactness trade, OFF on the keyed/oracle path.
    * Shuffles: the wedge stage keys by center, the count by supplier
    * pair, the fold by supplier — never a 4-tuple anywhere.
    */
  def g19ButterflyCount(
      spark: SparkSession,
      dir: String,
      centerCap: Option[Int] = None): DataFrame = {
    val t = Tables(spark, dir)
    val edges = t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
      .distinct()
    butterflyCount(edges, centerCap)
      .join(t.supplier.select(col("s_suppkey").as("suppkey")), Seq("suppkey"), "right")
      .select(col("suppkey"), coalesce(col("n_butterflies"), lit(0L)).as("n_butterflies"))
  }

  /** Core of [[g19ButterflyCount]] over an arbitrary bipartite edge list
    * `(c, s)` (c = wedge-center side): per-`s` butterfly counts, only for
    * `s` nodes in ≥1 butterfly (callers zero-fill against their vertex
    * table). Factored out for crafted-graph specs.
    */
  def butterflyCount(edges: DataFrame, centerCap: Option[Int] = None): DataFrame = {
    val kept = centerCap.fold(edges) { cap =>
      val hot = edges.groupBy("c").agg(count(lit(1)).as("cd"))
        .filter(col("cd") > cap).select("c")
      edges.join(hot, Seq("c"), "left_anti")
    }
    // Pinned so both sides of the wedge self-join read one stored edge
    // list and plan with its measured size, not the estimate of the
    // join-and-distinct that built it.
    // (Pair generation via the c-keyed self-equijoin, not the g11 in-row
    // HOF combination — measured 2.4× faster at sf0.1, where hot centers
    // carry thousands of pairs vs g11's short per-item mention lists.)
    val ec = Superstep.pin(kept.select(col("c").as("grp"), col("s").as("id")))
    val wedges = sameGroupPairs(ec)
      .groupBy(col("id1").as("s1"), col("id2").as("s2"))
      .agg(count(lit(1)).as("w"))
    val perPair = wedges
      .filter(col("w") >= 2)
      .select(col("s1"), col("s2"), expr("w * (w - 1) DIV 2").as("bf"))
    perPair
      .select(explode(array(col("s1"), col("s2"))).as("suppkey"), col("bf"))
      .groupBy("suppkey")
      .agg(sum(col("bf")).as("n_butterflies"))
  }
}
