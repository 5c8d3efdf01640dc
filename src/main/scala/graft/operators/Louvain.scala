package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Route, Superstep, Tables}

/** Deterministic fixed-round LOUVAIN community detection (Blondel,
  * Guillaume, Lambiotte & Lefebvre 2008, "Fast unfolding of communities
  * in large networks") — the modularity-optimizing member of the
  * community family (g5 CC / g10 LPA / g12 k-core cover the rest), the
  * one a Neo4j GDS user reaches for first against the reference's
  * relationship graph (mysql2neo4j.py loads exactly such a colleague/
  * hometown graph for community browsing).
  *
  * Every stochastic degree of freedom in textbook Louvain is pinned so
  * the result is ENGINE-REPRODUCIBLE and a DuckDB oracle can unroll the
  * identical algebra (the g10/g12 fixed-round discipline):
  *
  *   - SYNCHRONOUS local moves: every node scores against the
  *     round-START labels; moves apply simultaneously (no sequential
  *     visit order to agree on);
  *   - PARITY GATING: round r only lets nodes with `node % 2 == r % 2`
  *     move — the red/blue coloring that breaks the two-node swap
  *     oscillation synchronous label updates are prone to,
  *     deterministically;
  *   - INTEGER modularity gain: moving i into community c is scored as
  *     `2m·k_{i,c} − k_i·(Σ_c − k_i·[i∈c])` — the ΔQ numerator over the
  *     common 1/(2m)² denominator, exact in 64-bit integers for integer
  *     edge weights (a floating ΔQ would flap argmax ties across
  *     engines); ties break on the SMALLEST community id; a move needs
  *     a STRICTLY better score than staying;
  *   - fixed round counts per level and ONE explicit contraction
  *     (communities → super-nodes, weights summed, intra-community
  *     mass as self-loops), then the same rule on the contracted graph.
  *
  * Scale shape: each round is one k_{i,c} aggregate over the edge list
  * (map-side combined), one community-degree aggregate over the label
  * table, a struct-argmax per node, and the gated label update —
  * O(E) + O(V) per round, no pair enumeration, lineage cut per round by
  * eager checkpoints. The contraction SHRINKS the edge list to one row
  * per community pair, so level 2 is strictly cheaper than level 1 —
  * the property that makes multi-level Louvain viable at 100 TB.
  *
  * SKEW: consolidation is exactly what Louvain converges TOWARD, so by
  * round 2 a real graph has a giant community whose id is the hot key
  * of both per-round comdeg joins. A per-round probe over the
  * O(#communities) relation routes each round ([[joinComdegRouted]]):
  * plain while no community is hot (zero overhead — the skew-free
  * case), broadcast the whole dimension when one is and communities
  * are few, salt the hot communities' probe rows by node hash while
  * they are not — never a raw shuffle join on a measured mega-key.
  */
object Louvain {

  /** Resolve the skew-defense arming threshold for this session. The
    * local[32] A/B measured the salted defense as a pure ~1.2× loss up
    * to 8M-member hot communities (shared-memory hash joins are
    * bandwidth-cheap), so a LOCAL master defaults to 2²³ — beyond the
    * measured no-win region. On a real cluster a mega-key is a
    * straggler × task-count, so a NON-local master keeps the defensive
    * 100k default instead of inheriting a single-JVM calibration.
    * Either default yields to the session setting
    * `spark.graft.louvain.blockThreshold` — the same per-deployment
    * sizing discipline as the shuffle-partitions knob — which must be a
    * non-negative integer and is refused by name otherwise. An explicit
    * `blockThreshold >= 0` argument always wins (the forced-routing
    * specs pin the skew arm with it).
    */
  private def resolveBlockThreshold(spark: SparkSession, explicit: Int): Int = {
    val key = "spark.graft.louvain.blockThreshold"
    if (explicit >= 0) explicit
    else spark.conf.getOption(key).map(v =>
      v.toIntOption.filter(_ >= 0).getOrElse(throw new IllegalArgumentException(
        s"$key must be a non-negative integer, got '$v'")))
      .getOrElse(if (spark.sparkContext.master.startsWith("local")) 1 << 23 else 100000)
  }

  /** Probe-routed join of a per-row relation against the O(#communities)
    * `comdeg` dimension on community id — the round's skew seam. On any
    * real graph rounds ≥ 2 grow a giant community, and that community id
    * becomes the hot key of BOTH per-round comdeg joins (the E-sized
    * scored relation and the V-sized label update). The route is picked
    * from the SAME probe aggregate every round (the q16 measure-then-
    * route discipline; `nComs` = communities, `maxCn` = biggest
    * community's member count):
    *
    *   - `maxCn < blockThreshold`: the PLAIN shuffle join — no hot key
    *     measured, no defense, zero overhead (the common case on
    *     balanced rounds; measured at sf10: unconditionally broadcasting
    *     the ~10⁶-row round-2 comdeg cost ~25% wall on the skew-free
    *     corpus — the defense must only arm when the probe sees skew);
    *   - else if [[graft.Route]] fits `nComs` comdeg rows in the
    *     session's `autoBroadcastJoinThreshold`: BROADCAST comdeg — zero
    *     shuffle on the skewed key, affordable exactly when
    *     consolidation has shrunk the dimension;
    *   - else: SALTED shuffle join — the bounded hot set
    *     (≤ V/blockThreshold communities can exceed the threshold)
    *     broadcasts as a tag; hot probe rows salt by `pmod(node, s)`
    *     with `s` DERIVED from the measured max size (the g1/d9
    *     probe→knob derivation), and the build side replicates ONLY hot
    *     rows s ways — the mega-community's probe rows spread over s
    *     reducers instead of one.
    *
    * Routing never changes the algebra (same rows, same values), so
    * labels are hash-identical whichever path fires — spec-pinned with
    * the thresholds forced both ways on a crafted mega-community graph.
    *
    * THRESHOLD CALIBRATION (measured, quiet windows): the armed-path A/B
    * (PLANS.md, "Louvain armed-path A/B" — synthetic giant community forcing
    * the salted route, labeling checksum-identical both arms) read
    * salted 46.3 s vs plain 39.5 s at a 1M-member hot community and
    * 226.6 vs 189.3 s at 8M on local[32]: in a single shared-memory JVM
    * the hot reducer's hash join is memory-bandwidth-cheap, while the
    * defense pays a constant ~1.2× (hot-tag broadcast + salt column on
    * every probe row, ×2 join sites ×rounds). Hence the default
    * blockThreshold sits at 2²³ — beyond the measured no-win region —
    * and arming is a CLUSTER decision: on real executors a mega-key is
    * a straggler ×task-count, and operators lower the lever to their
    * measured crossover.
    */
  private def joinComdegRouted(
      probe: DataFrame,
      comdeg: DataFrame,
      key: String,
      nodeCol: String,
      nComs: Long,
      maxCn: Long,
      blockThreshold: Int): DataFrame = {
    val cd = comdeg.withColumnRenamed("com", key)
    if (maxCn < blockThreshold) probe.join(cd, Seq(key))
    else if (Route.broadcasts(cd, nComs)) probe.join(broadcast(cd), Seq(key))
    else {
      val s = GraphOps.derivedBlocks(maxCn, blockThreshold)
      val hotTag = cd.filter(col("cn") >= lit(blockThreshold.toLong))
        .select(col(key), lit(true).as("isHot"))
      val build = cd.join(broadcast(hotTag), Seq(key), "left")
        .select(col(key), col("cd"), col("cn"),
          explode(when(col("isHot"),
            sequence(lit(0), lit(s - 1))).otherwise(array(lit(0)))).as("salt"))
      probe.join(broadcast(hotTag), Seq(key), "left")
        .withColumn("salt",
          when(col("isHot"), pmod(col(nodeCol), lit(s.toLong)).cast("int"))
            .otherwise(lit(0)))
        .drop("isHot")
        .join(build, Seq(key, "salt"))
        .drop("salt")
    }
  }

  /** `rounds` synchronous parity-gated local-move rounds over a
    * SYMMETRIC weighted edge list `(src, dst, w)` (both directions
    * present; intra-node mass as `src == dst` self-loop rows, already
    * direction-doubled), starting from `labels0 (node, com)`.
    * `twoM` = total symmetric weight Σ w (= 2m). `parity0` offsets the
    * gate so a second level can continue the alternation.
    * `blockThreshold` arms the skew routes ([[joinComdegRouted]]).
    */
  private def localMoveRounds(
      sym: DataFrame,
      labels0: DataFrame,
      rounds: Int,
      twoM: Long,
      parity0: Int,
      blockThreshold: Int): DataFrame = {
    // Weighted degree INCLUDING self-loops (a contracted community's
    // internal mass travels with it; it cancels in score differences but
    // must be consistent on both sides of every comparison).
    val k = sym.groupBy(col("src").as("node")).agg(sum("w").as("k"))
    // r16 fold: carry k INSIDE the per-round labels pin. k is constant
    // across rounds, and every per-node step consumed it through the
    // (node, com, k) join `nk` — previously one V-sized join + eager pin
    // PER ROUND. Attaching it once at entry makes labels itself that
    // dimension: the rounds below read `labels` where they read `nk`,
    // and the round-closing pin carries the extra 8-byte column instead
    // of re-deriving the join. Value-preserving: labels0 is the distinct
    // src set of `sym` at both call sites, exactly k's key set, so the
    // entry inner join is a column attach, and the rounds' updates never
    // touch k.
    val init = Superstep.pin(labels0.join(k, Seq("node")))
    // Round i's comdeg is read only by round i's labels, which iterate
    // pins before it calls the step again: released one round late.
    var comdegPin: Option[DataFrame] = None
    val (labels, _) = Superstep.iterate(init, 0 until rounds) { (labels, i) =>
      comdegPin.foreach(Superstep.release)
      val parity = (parity0 + i) % 2
      // Community degree mass AND member count in one pass: `cd` feeds
      // the scores, `cn` feeds the skew probe. The probe itself — the
      // community count and the biggest community's size, which decide
      // the comdeg join route for BOTH join sites this round (q16's
      // measure-then-route) — is a metric on the same pin job.
      val (comdeg, Seq(nComs, maxCn)) = Superstep.pin(labels.groupBy("com")
        .agg(sum("k").as("cd"), count(lit(1)).as("cn")), count(lit(1)), max("cn"))
      comdegPin = Some(comdeg)
      // k_{i,c}: weight from i to community c over its NEIGHBORS (self
      // loops excluded — a node's own mass is not a vote for a
      // community; it stays internal wherever the node goes). This is
      // the round's ONE edge-sized relation; everything below folds it
      // in a single pass (the sf10 probe showed materializing it and
      // re-reading it for a separate staying-score join was 60% of the
      // round: |kic| ≈ |E| in early rounds by construction).
      val kic = sym.filter(col("src") =!= col("dst"))
        .join(labels.select(col("node").as("dst"), col("com").as("c")), Seq("dst"))
        .groupBy(col("src").as("node"), col("c")).agg(sum("w").as("kic"))
      // Candidate score per neighbor community; Σ_c drops k_i when c is
      // already i's community (i must not count against itself). For
      // c == com this expression IS the staying score, so one aggregate
      // extracts both the argmax (score desc, min community — the
      // negation trick) and the stay score, in a single kic pass.
      val scored = joinComdegRouted(
        kic.join(labels, Seq("node")), comdeg, "c", "node", nComs, maxCn, blockThreshold)
        .select(col("node"), col("c"), col("com"),
          (lit(twoM) * col("kic") -
            col("k") * (col("cd") -
              when(col("com") === col("c"), col("k")).otherwise(lit(0L)))).as("score"))
      val agg = scored
        .groupBy("node")
        .agg(
          max(struct(col("score"), (-col("c")).as("nc"))).as("m"),
          max(when(col("c") === col("com"), col("score"))).as("kicStay"))
      // Staying score when NO neighbor is left in the current community:
      // k_{i,cur} = 0 — a V-sized expression over labels⋈comdeg, no edge data.
      joinComdegRouted(labels, comdeg, "com", "node", nComs, maxCn, blockThreshold)
        .join(agg, Seq("node"), "left")
        .select(col("node"),
          when(pmod(col("node"), lit(2)) === lit(parity) &&
            col("m.score") > coalesce(col("kicStay"),
              -col("k") * (col("cd") - col("k"))),
            -col("m.nc"))
            .otherwise(col("com")).as("com"),
          col("k"))
    }
    comdegPin.foreach(Superstep.release)
    if (rounds > 0) Superstep.release(init)
    labels.select("node", "com")
  }

  /** The internals a stats consumer can FOLD over instead of re-scanning
    * the original edge list: `folded` = node → final (pre-canonical)
    * community, `e2` = the CONTRACTED symmetric edge list (one row per
    * level-1 community pair, intra-level-1 mass as self-loops — still
    * pinned), `l2` = level-2 labels over
    * the contracted nodes, `twoM` = total symmetric weight.
    */
  private[operators] final case class LouvainLevels(
      folded: DataFrame, e2: DataFrame, l2: DataFrame, twoM: Long)

  /** Two-level deterministic Louvain over a symmetric weighted edge list
    * (no self-loops expected at level 1), returning the level internals
    * ([[LouvainLevels]]) so downstream stats reuse the contraction the
    * algorithm already paid for instead of re-joining the full edge
    * relation ([[communityStatsFolded]]).
    */
  private def louvainLevels(
      sym: DataFrame,
      level1Rounds: Int,
      level2Rounds: Int,
      blockThreshold0: Int): LouvainLevels = {
    val blockThreshold = resolveBlockThreshold(sym.sparkSession, blockThreshold0)
    val (e1, Seq(twoM)) = Superstep.pin(sym, sum("w"))
    val init = e1.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("com"))
    val l1 = localMoveRounds(e1, init, level1Rounds, twoM, 1, blockThreshold)
    // EXPLICIT CONTRACTION: communities become super-nodes; inter-
    // community weights sum (symmetry is preserved — both directions of
    // an edge map consistently); intra-community mass lands on the
    // (c, c) self-loop, direction-doubled exactly like every other row.
    val e2 = Superstep.pin(e1
      .join(l1.select(col("node").as("src"), col("com").as("cs")), Seq("src"))
      .join(l1.select(col("node").as("dst"), col("com").as("cd2")), Seq("dst"))
      .groupBy(col("cs").as("src"), col("cd2").as("dst"))
      .agg(sum("w").as("w")))
    val init2 = e2.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("com"))
    val l2 = localMoveRounds(e2, init2, level2Rounds, twoM, (1 + level1Rounds) % 2, blockThreshold)
    // Fold levels: node → level-1 community → level-2 community. Every
    // level-1 community appears as an e2 src (its members have edges, a
    // self-loop at minimum), so l2 covers it; the coalesce is belt.
    val folded = l1.select(col("node"), col("com").as("c1"))
      .join(l2.select(col("node").as("c1"), col("com")), Seq("c1"), "left")
      .select(col("node"), coalesce(col("com"), col("c1")).as("com"))
    // Everything returned reads pins taken after e1 (labels, e2).
    Superstep.release(e1)
    LouvainLevels(folded, e2, l2, twoM)
  }

  /** Two-level deterministic Louvain over a symmetric weighted edge list
    * (no self-loops expected at level 1). Returns `(node, community)`
    * with the community CANONICALIZED to its minimum member node id —
    * stable across engines and levels, like CC labels.
    * `blockThreshold = -1` (the default) resolves per session
    * ([[resolveBlockThreshold]]); an explicit value pins the route.
    */
  def louvain(
      sym: DataFrame,
      level1Rounds: Int = 4,
      level2Rounds: Int = 2,
      blockThreshold: Int = -1): DataFrame = {
    val lv = louvainLevels(sym, level1Rounds, level2Rounds, blockThreshold)
    Superstep.release(lv.e2)
    canonicalize(lv.folded)
  }

  /** Canonicalize a (node, com) labeling to its minimum member node id. */
  private def canonicalize(folded: DataFrame): DataFrame =
    folded.select(col("node"), col("com"))
      .join(
        folded.groupBy("com").agg(min("node").as("community")), Seq("com"))
      .select(col("node"), col("community"))

  /** [[communityStats]] computed WITHOUT re-scanning the original edge
    * list: `vol` and `in_sym` fold over the CONTRACTED edge relation
    * `e2` (one row per level-1 community pair — orders of magnitude
    * smaller than E after level 1) mapped through the level-2 labels,
    * exactly the mass the contraction already aggregated. Weight sums
    * are associative over the contraction, so every output value is
    * bit-identical to the from-scratch [[communityStats]] (spec-pinned);
    * only `n_nodes` touches a V-sized relation (the label table itself).
    * This is what makes the g30 stats surface nearly free on top of the
    * clustering: the r15 from-scratch pass re-joined the full sf10 edge
    * relation twice and dominated the key's 411 s wall.
    */
  private def communityStatsFolded(lv: LouvainLevels): DataFrame = {
    val n = lv.folded.groupBy("com").agg(count(lit(1)).as("n_nodes"))
    // Map each contracted endpoint to its FINAL community (l2 label;
    // same coalesce-to-self discipline as the fold).
    val fsrc = lv.l2.select(col("node").as("src"), col("com").as("fs"))
    val fdst = lv.l2.select(col("node").as("dst"), col("com").as("fd"))
    val e2f = lv.e2
      .join(fsrc, Seq("src"), "left")
      .join(fdst, Seq("dst"), "left")
      .select(
        coalesce(col("fs"), col("src")).as("com"),
        coalesce(col("fd"), col("dst")).as("com2"),
        col("w"))
    // vol_c = Σ k over members = Σ w over contracted rows by src side
    // (contraction preserves per-super-node degree mass, self-loops
    // included); in_sym = the rows whose BOTH endpoints fold into c.
    val vol = e2f.groupBy("com").agg(sum("w").as("vol"))
    val inC = e2f.filter(col("com") === col("com2"))
      .groupBy("com").agg(sum("w").as("in_sym"))
    val twoM = lv.twoM
    val out = n.join(vol, Seq("com"), "left").join(inC, Seq("com"), "left")
      .select(col("com"), col("n_nodes"),
        coalesce(col("vol"), lit(0L)).as("vol"),
        coalesce(col("in_sym"), lit(0L)).as("in_sym"))
      .withColumn("cut", col("vol") - col("in_sym"))
      .withColumn("conductance_micro",
        when(least(col("vol"), lit(twoM) - col("vol")) === 0, lit(0L))
          .otherwise(expr(
            s"(cut DIV least(vol, $twoM - vol)) * 1000000 + " +
              s"(cut % least(vol, $twoM - vol)) * 1000000 DIV least(vol, $twoM - vol)")))
    out
  }

  /** Louvain + per-community stats in ONE pass over the level machinery:
    * `(community, n_nodes, vol, in_sym, cut, conductance_micro)` with
    * `community` canonicalized to its minimum member node — value-
    * identical to `communityStats(sym, louvain(sym))` (spec-pinned on
    * the shared fixture) but the stats fold over the contraction instead
    * of re-joining the full edge relation against node labels twice.
    */
  def louvainStats(
      sym: DataFrame,
      level1Rounds: Int = 4,
      level2Rounds: Int = 2,
      blockThreshold: Int = -1): DataFrame = {
    val lv = louvainLevels(sym, level1Rounds, level2Rounds, blockThreshold)
    val canon = lv.folded.groupBy("com").agg(min("node").as("community"))
    communityStatsFolded(lv)
      .join(canon, Seq("com"))
      .select(col("community"), col("n_nodes"), col("vol"), col("in_sym"),
        col("cut"), col("conductance_micro"))
  }

  /** MODULARITY of a labeling over a symmetric weighted edge list, in
    * integer MICRO-UNITS — the GDS `modularity` stats surface: how good
    * is this community split, as a number a pipeline can threshold or
    * compare across runs. Q = Σ_c [ in_c/(2m) − (Σ_c/(2m))² ] with
    * in_c = intra-community symmetric weight (self-loops included,
    * direction-doubled like every sym row) and Σ_c the community degree
    * mass. All integer arithmetic: per-community terms are exact
    * integers (the squared fraction computed via the two-step
    * quotient/remainder expansion so nothing overflows at 2m up to
    * ~10⁹ and truncation stays ≤1µ per community), and integer sums
    * are order-independent — the same determinism discipline as the
    * gain scores. One edge-relation pass (the intra filter) + one
    * V-sized aggregate; returns micro-units in [−10⁶, 10⁶).
    */
  /** Per-community stats over a symmetric weighted edge list — the GDS
    * community-stats surface next to [[modularityMicro]]: member count,
    * volume (Σ degrees), internal symmetric weight, cut weight, and
    * CONDUCTANCE in integer micro-units — `cut / min(vol, 2m − vol)`,
    * the standard cut-quality score, via the two-step
    * quotient/remainder expansion (exact int64 for 2m up to ~10¹²,
    * ≤1µ truncation; 0 when the labeling is a single community, where
    * the denominator degenerates). One edge pass + one V-sized
    * aggregate, same shapes as the modularity metric.
    */
  def communityStats(sym: DataFrame, labels: DataFrame): DataFrame = {
    val twoM = sym.agg(coalesce(sum("w"), lit(0L))).head().getLong(0)
    val k = sym.groupBy(col("src").as("node")).agg(sum("w").as("k"))
    val nl = labels.select(col("node"), col("com"))
    val vol = nl.join(k, Seq("node"))
      .groupBy("com").agg(sum("k").as("vol"), count(lit(1)).as("n_nodes"))
    val inC = sym
      .join(nl.withColumnRenamed("node", "src"), Seq("src"))
      .join(nl.select(col("node").as("dst"), col("com").as("com2")), Seq("dst"))
      .filter(col("com") === col("com2"))
      .groupBy("com").agg(sum("w").as("in_sym"))
    vol.join(inC, Seq("com"), "left")
      .select(col("com"), col("n_nodes"), col("vol"),
        coalesce(col("in_sym"), lit(0L)).as("in_sym"),
        (col("vol") - coalesce(col("in_sym"), lit(0L))).as("cut"))
      .withColumn("conductance_micro",
        when(least(col("vol"), lit(twoM) - col("vol")) === 0, lit(0L))
          .otherwise(expr(
            s"(cut DIV least(vol, $twoM - vol)) * 1000000 + " +
              s"(cut % least(vol, $twoM - vol)) * 1000000 DIV least(vol, $twoM - vol)")))
  }

  def modularityMicro(sym: DataFrame, labels: DataFrame): Long = {
    val twoM = sym.agg(coalesce(sum("w"), lit(0L))).head().getLong(0)
    if (twoM == 0L) return 0L
    val k = sym.groupBy(col("src").as("node")).agg(sum("w").as("k"))
    val nl = labels.select(col("node"), col("com"))
    val inC = sym
      .join(nl.withColumnRenamed("node", "src"), Seq("src"))
      .join(nl.select(col("node").as("dst"), col("com").as("com2")), Seq("dst"))
      .filter(col("com") === col("com2"))
      .groupBy("com").agg(sum("w").as("in_sym"))
    val terms = nl.join(k, Seq("node"))
      .groupBy("com").agg(sum("k").as("cd"))
      .join(inC, Seq("com"), "left")
      .select(expr(
        s"coalesce(in_sym, CAST(0 AS BIGINT)) * 1000000 DIV $twoM - " +
          s"((cd * cd DIV $twoM) * 1000000 + (cd * cd % $twoM) * 1000000 DIV $twoM) DIV $twoM")
        .as("term"))
    terms.agg(coalesce(sum("term"), lit(0L))).head().getLong(0)
  }

  /** g23: Louvain on the packed customer–supplier graph, edge weight =
    * number of distinct orders between the pair (the tie-strength
    * weighting of the reference's relationship properties,
    * mysql2neo4j.py:268-357). 4 level-1 rounds + contraction + 2
    * level-2 rounds, output decoded to the same display ids as g5/g10;
    * community = min member node (CC-style canonical label).
    */
  def g23Louvain(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val edges = t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(
        (col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .agg(countDistinct(col("l_orderkey")).as("w"))
    val sym = edges.unionByName(
      edges.select(col("dst").as("src"), col("src").as("dst"), col("w")))
    louvain(sym)
      .select(decodeCS(col("node")).as("node"), decodeCS(col("community")).as("community"))
  }

  /** The g23/g30 display decoding of the packed even-customer /
    * odd-supplier node ids.
    */
  private def decodeCS(c: Column): Column =
    when(pmod(c, lit(2)) === 0, concat(lit("c_"), shiftright(c, 1).cast("string")))
      .otherwise(concat(lit("s_"), shiftright(c, 1).cast("string")))

  /** g30: TIE-STRENGTH weighted Louvain + the community-quality surface
    * in one keyed output — the GDS `relationshipWeightProperty` +
    * `modularity`/stats capability on the reference's actual edge
    * semantics: SCHOOLMATES/COLLEAGUES ties carry MONTHS OF OVERLAP as
    * strength (mysql2neo4j.py:268-357), re-expressed here as the count
    * of distinct trading months per customer–supplier pair (g23 weights
    * by distinct orders — volume; g30 weights by relationship DURATION,
    * a genuinely different clustering signal on the same graph). The
    * integer gain algebra is weight-generic, so the weights flow through
    * [[louvain]] unchanged; the output is [[communityStats]] over the
    * weighted labeling — per community: member count, volume (Σ weighted
    * degrees), internal symmetric weight, cut, and integer-micro
    * conductance — i.e. the weighted-modularity summary a pipeline
    * thresholds, oracle-re-derived end to end (labels AND stats; the
    * merge table of rounds is never injected).
    */
  def g30WeightedLouvain(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val months = year(col("o_orderdate")) * 12 + month(col("o_orderdate"))
    val edges = t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(
        (col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .agg(countDistinct(months).as("w"))
    val sym = edges.unionByName(
      edges.select(col("dst").as("src"), col("src").as("dst"), col("w")))
    // The stats FOLD over the contraction the clustering already paid
    // for ([[louvainStats]]) — value-identical to
    // communityStats(sym, louvain(sym)) (spec-pinned) without the two
    // full-edge-relation label joins that dominated this key at sf10.
    louvainStats(sym)
      .select(decodeCS(col("community")).as("community"),
        col("n_nodes"), col("vol"), col("in_sym"), col("cut"),
        col("conductance_micro"))
  }
}
