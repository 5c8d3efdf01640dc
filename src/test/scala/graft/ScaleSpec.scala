package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Scale-posture specs: the mechanisms SURVEY §4 promises (skew-safe pair
  * generation, bucketed co-located joins) proven on small data — same
  * plans, same invariants, cluster-sized knobs.
  */
class ScaleSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.create("graft-scale-test", master = "local[4]")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Physical plan with the AQE wrapper stripped: AdaptiveSparkPlanExec
    * exposes the wrapped plan via a field, not `children`, so a naive
    * `collect` over the wrapper sees NO operators and every structural
    * assertion passes vacuously.
    */
  private def physical(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.execution.SparkPlan =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  test("d12 containment pair generation is an equijoin — no all-pairs operator in the plan") {
    // The inverted-index join must stay a hash/sort-merge equijoin on the
    // gram code: a CartesianProduct or BroadcastNestedLoopJoin anywhere
    // means the never-all-pairs contract silently broke.
    val plan = physical(dedup.Dedup.d12Containment(spark, dir))
    val allPairs = plan.collectWithSubqueries {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
    }
    assert(allPairs.isEmpty, s"all-pairs join in d12 plan:\n$plan")
  }

  test("d14/d15/m8: the new dedup tiers plan equijoins only — no all-pairs operator, no Expand") {
    // d14's "gram in >=2 docs" must stay the partial-aggregable min<max
    // trick (an Expand means a count-DISTINCT rewrite crept in); all
    // three pair/candidate stages must stay equijoins.
    for ((name, df) <- Seq(
        "d14" -> dedup.Dedup.d14SubstringSpans(spark, dir),
        "d15" -> dedup.Dedup.d15ChunkNearDup(spark, dir),
        "m8" -> multimodal.Media.m8CrossModalResolve(spark, dir))) {
      val plan = physical(df)
      val allPairs = plan.collectWithSubqueries {
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
        case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
      }
      assert(allPairs.isEmpty, s"all-pairs join in $name plan:\n$plan")
    }
    val d14Plan = physical(dedup.Dedup.d14SubstringSpans(spark, dir))
    val expands = d14Plan.collectWithSubqueries {
      case e: org.apache.spark.sql.execution.ExpandExec => e
    }
    assert(expands.isEmpty, s"Expand (count-distinct rewrite) in d14 plan:\n$d14Plan")
  }

  test("d4 simhash plans as a shuffle-free projection (sort exchange only)") {
    // The native one-pass fingerprint must keep d4 scan-bound: the only
    // exchange allowed in the physical plan is the range partitioning of
    // the final orderBy — no aggregate shuffle anywhere.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val plan = physical(dedup.Dedup.d4SimHash(spark, dir))
    val exchanges = plan.collectWithSubqueries { case e: ShuffleExchangeLike => e }
    assert(exchanges.length <= 1, s"expected at most the sort exchange, got:\n$plan")
    assert(plan.collectWithSubqueries { case p => p }.nonEmpty)
  }

  test("t10 extraction scan prunes to the referenced event columns") {
    val plan = functions.TextFuncs.t10EntityExtract(spark, dir)
      .queryExecution.executedPlan.toString
    // events has 6 columns; the extraction needs 4 — n_chars-style full
    // scans are the thing this guards against.
    assert(plan.contains("event_id") && plan.contains("props"))
    assert(!plan.contains("ReadSchema: struct<event_id:bigint,ts"),
      s"ts should be pruned from the scan:\n$plan")
  }

  test("q2b bucketed variant: pre-agg and fact join plan exchange-free, result matches q2") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = operators.Relational.q2bBucketed(spark, dir)
    val exchanges = physical(df)
      .collectWithSubqueries { case e: ShuffleExchangeLike => e }
    // Allowed shuffles: the per-nation aggregate, the customer join (not
    // co-bucketed) and the final orderBy range partitioning. The
    // lineitem pre-agg and the lineitem⋈orders join must ride the bucket
    // layout — an exchange count above 3-per-side means the bucketed
    // path regressed to re-shuffling a fact table.
    assert(exchanges.length <= 4,
      s"bucketed q2 should not shuffle facts, got ${exchanges.length} exchanges:\n${df.queryExecution.executedPlan}")
    val got = df.collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
    val expected = operators.Relational.q2JoinAgg(spark, dir)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(got === expected)
  }

  test("incremental dedup fires all three branches with exact precedence over near") {
    // The driver corpus has no byte-identical incoming/existing pair, so
    // the 'exact' branch (and the exact-over-near precedence, since an
    // exact dup also has Jaccard 1.0) only gets covered by a crafted
    // corpus: even ids = existing, odd = incoming.
    val ss = spark
    import ss.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-d7").toString
    Seq(
      (0L, "alpha text one shared", "en", "t", 21L),  // existing
      (2L, "beta text two body", "en", "t", 18L),     // existing
      (4L, "gamma text three here", "en", "t", 21L),  // existing
      (1L, "alpha text one shared", "en", "t", 21L),  // exact dup of 0 (and jac=1.0 near) -> 'exact', dup_of 0
      (3L, "beta text two body!", "en", "t", 19L),    // near dup of 2 (jac = 14/15) -> 'near', dup_of 2
      (5L, "entirely unrelated words", "en", "t", 24L) // -> 'new', dup_of null
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = dedup.Dedup.d7IncrementalDedup(spark, tmp)
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Long])))
      .toMap
    assert(out(1L) === (("exact", Some(0L))))
    assert(out(3L) === (("near", Some(2L))))
    assert(out(5L) === (("new", None)))
  }

  test("signature index classify == d7 recompute-from-raw; append extends the corpus") {
    val t = Tables(spark, dir)
    val tmp = java.nio.file.Files.createTempDirectory("graft-sigidx").toString
    val docs = t.documents.select(col("doc_id"), col("text"))
    val existing = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val incoming = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
    dedup.SignatureIndex.write(existing, s"$tmp/idx")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Long]))
    // The index path must reproduce d7 exactly: same split, same
    // classification, but the existing side is read from the stored
    // digests/signatures/grams instead of re-deriving from text.
    val viaIndex = dedup.SignatureIndex.classify(spark, incoming, s"$tmp/idx")
      .collect().map(key).toSet
    val viaRaw = dedup.Dedup.d7IncrementalDedup(spark, dir)
      .collect().map(key).toSet
    assert(viaIndex === viaRaw)
    assert(viaIndex.nonEmpty)
    // Append the accepted batch; a byte-identical copy of an appended doc
    // must now classify as its exact dup (cross-batch dedup without ever
    // rescanning batch-1 text).
    val ss = spark
    import ss.implicits._
    val newIds = viaIndex.collect { case (id, "new", _) => id }
    assert(newIds.nonEmpty)
    dedup.SignatureIndex.append(incoming.filter(col("doc_id").isin(newIds.toSeq: _*)), s"$tmp/idx")
    val probeId = newIds.min
    val probeText = docs.filter(col("doc_id") === probeId).head().getString(1)
    val batch2 = Seq((1000000L, probeText)).toDF("doc_id", "text")
    val r = dedup.SignatureIndex.classify(spark, batch2, s"$tmp/idx").head()
    assert(r.getString(1) === "exact" && r.getLong(2) === probeId)
  }

  test("hamming sub-band router: pigeonhole split preserves the exact pair set, adopt and revert measured") {
    val ss = spark
    import ss.implicits._
    // The pure shape map: s = maxHamming+1 sub-bands tiling the 45
    // non-band bits; viability = a split can win (2^w >= 4s).
    assert(dedup.Dedup.subBandShape(6) === ((7, 6, 9)))
    assert(dedup.Dedup.subBandShape(3) === ((4, 11, 12)))
    assert(dedup.Dedup.subBandShape(0) === ((1, 45, 45)))
    assert(dedup.Dedup.subSplitViable(6) && dedup.Dedup.subSplitViable(3))
    // d9/m6's radius: 16 sub-bands of 2 bits NEVER reduce — stays unsplit.
    assert(!dedup.Dedup.subSplitViable(15))

    def pairsOf(fps: Seq[(Long, Long)], subSplit: Boolean, candFactor: Long = 20L) =
      dedup.Dedup.bandedHammingPairs(
        fps.toDF("doc_id", "fp"), "fp", maxHamming = 6,
        subSplit = subSplit, candFactor = candFactor)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    // ADOPT branch — a coincidental perceptual bucket: 200 fingerprints
    // share band 0's 15 bits (0x1ABC) but are pairwise-far in the other
    // 45 (diverse high bits), so the C(200,2) candidate mass is pure
    // collision noise. Plus one adversarial TRUE pair at EXACTLY the
    // radius: its 6 differing bits land in 6 DIFFERENT sub-bands
    // (rem bits 0,6,12,18,24,30 -> fp bits 15,21,27,33,39,45), leaving
    // only sub-band 6 clean — the pigeonhole boundary. It also breaks
    // bands 1,2,3, so ONLY the split bucket can find it.
    val base = 0x1ABCL
    val far = (0 until 200).map { i =>
      // Deterministic well-mixed upper 45 bits (golden-ratio multiplier):
      // pairwise hamming concentrates near 22, so the bucket's mass is
      // collision noise, exactly the perceptual-collision regime.
      val high = (i * 0x9E3779B97F4A7C15L) & ((1L << 60) - 1) & ~32767L
      (i.toLong, base | high)
    }
    val a = (1000L, base | (0x3FL << 50))
    val b = (1001L, a._2 ^ Seq(15, 21, 27, 33, 39, 45).map(1L << _).reduce(_ | _))
    assert(java.lang.Long.bitCount(a._2 ^ b._2) === 6)
    val corpus = far ++ Seq(a, b)
    val direct = pairsOf(corpus, subSplit = false)
    val routed = pairsOf(corpus, subSplit = true, candFactor = 0L) // forced trigger
    assert(routed === direct)
    assert(routed.contains((1000L, 1001L, 6L)), "boundary pair must survive the split")
    // The route itself, not just agreement: split keys live at >= 2^17
    // (disjoint from direct 17-bit band keys), so an ADOPTED split is
    // visible in the keyed frame's key space.
    def keyedOf(fps: Seq[(Long, Long)]) = fps.toDF("doc_id", "fp")
      .select(col("doc_id"), col("fp"), posexplode(dedup.Dedup.bands15(col("fp"))))
      .toDF("doc_id", "fp", "band_id", "band")
      .select((col("band_id").cast("long") * 32768L + col("band")).as("grp"),
        struct(col("doc_id"), col("fp")).as("id"))
    val adoptMax = dedup.Dedup.subSplitKeys(keyedOf(corpus), 6, 0L)
      .agg(max(col("grp"))).head().getLong(0)
    assert(adoptMax >= (1L << 17), "coincidental bucket must ADOPT the split")

    // REVERT branch — a true near-dup mega-cluster (identical
    // fingerprints): every sub-bucket holds the whole cluster, the
    // re-probe measures no reduction, and the router falls back to the
    // direct band keys. Pair set again identical (all C(40,2) at hamming 0).
    val cluster = (0 until 40).map(i => (i.toLong, 0x0123456789ABCL))
    val cDirect = pairsOf(cluster, subSplit = false)
    val cRouted = pairsOf(cluster, subSplit = true, candFactor = 0L)
    assert(cRouted === cDirect)
    assert(cDirect.size === 40 * 39 / 2 && cDirect.forall(_._3 == 0L))
    val revertMax = dedup.Dedup.subSplitKeys(keyedOf(cluster), 6, 0L)
      .agg(max(col("grp"))).head().getLong(0)
    assert(revertMax < (1L << 17), "mega-cluster must REVERT to the direct band keys")

    // Route-independence of the SEMANTICS: a mixed corpus (two
    // identical-fp clusters — one pair of clusters within radius — plus
    // unique fps and a boundary pair) takes the exact-dup COLLAPSE
    // route (dup mass >> 5%); a hand recount over all pairs (share ≥1
    // 15-bit band AND hamming ≤ 6) pins that collapse+expansion emits
    // exactly the direct definition: intra-cluster, cross-cluster, and
    // unique-to-unique pairs all present, nothing else.
    val fpA = 0x0123456789ABCL
    val fpB = fpA ^ ((1L << 20) | (1L << 36) | (1L << 50)) // hamming 3, shares band 0
    val mixed = (0 until 30).map(i => (100L + i, fpA)) ++
      (0 until 20).map(i => (200L + i, fpB)) ++
      (0 until 20).map { i =>
        val high = (i * 0x9E3779B97F4A7C15L) & ((1L << 60) - 1) & ~32767L
        (300L + i, (fpA & 32767L) | high) // share band 0 with the clusters
      }
    def bandsOf(v: Long) = (0 until 4).map(b => (v >> (b * 15)) & 32767L)
    val expected = (for {
      i <- mixed.indices; j <- mixed.indices if i < j
      (ida, va) = mixed(i); (idb, vb) = mixed(j)
      if bandsOf(va).zip(bandsOf(vb)).exists { case (x, y) => x == y }
      h = java.lang.Long.bitCount(va ^ vb) if h <= 6
    } yield (math.min(ida, idb), math.max(ida, idb), h.toLong)).toSet
    val gotMixed = pairsOf(mixed, subSplit = true)
    assert(gotMixed === expected)
    // sanity on the recount itself: both intra tiers and the cross tier
    // fired, and the corpus sits above the collapse knee (70 rows, 22
    // distinct fps — avg cluster size > 2).
    assert(expected.count(_._3 == 0L) === 30 * 29 / 2 + 20 * 19 / 2)
    assert(expected.count(_._3 == 3L) === 30 * 20)

    // Default trigger never fires on the driver corpus (mass within
    // budget): m12's keyed path is byte-identical with the router armed.
    def m12key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    val nPart = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val media = Tables(spark, dir).documents.repartition(nPart)
      .select(col("doc_id"), multimodal.Media.payload(col("doc_id"), col("text")).as("payload"))
    val m12On = multimodal.Media.frameNearDupOf(media).collect().map(m12key).toSet
    val m12Off = multimodal.Media.frameNearDupOf(media, subSplit = false).collect().map(m12key).toSet
    assert(m12On === m12Off)
    assert(m12On.nonEmpty)
  }

  test("signature index: classify's band join rides the bucketed layout exchange-free") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    val t = Tables(spark, dir)
    val tmp = java.nio.file.Files.createTempDirectory("graft-sigidx-plan").toString
    val docs = t.documents.select(col("doc_id"), col("text"))
    dedup.SignatureIndex.write(docs.filter(pmod(col("doc_id"), lit(2)) === 0), s"$tmp/idx")
    // Force the shuffle-join path (at spec scale the incoming bands would
    // broadcast, which also leaves the index unshuffled but proves
    // nothing about the layout; at batch scale this IS the join shape).
    TestConf.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = dedup.SignatureIndex.classify(
        spark, docs.filter(pmod(col("doc_id"), lit(2)) === 1), s"$tmp/idx")
      val plan = physical(df)
      val joins = plan.collectWithSubqueries {
        case j: SortMergeJoinExec => j
        case j: ShuffledHashJoinExec => j
      }
      // Only the INNERMOST join above the bucketed scan is the band join;
      // ancestor joins re-shuffle by other keys (in_id/ex_id) above it,
      // which is legitimate. A side that itself contains a join is an
      // ancestor's — skip it.
      val indexSides = joins.flatMap(_.children.filter { c =>
        val hasBucketScan =
          c.collectFirst { case s: FileSourceScanExec if s.bucketedScan => s }.isDefined
        val hasNestedJoin = c.collectFirst {
          case j: SortMergeJoinExec => j
          case j: ShuffledHashJoinExec => j
        }.isDefined
        hasBucketScan && !hasNestedJoin
      })
      assert(indexSides.nonEmpty,
        s"no join side reads the bucketed band layout:\n$plan")
      indexSides.foreach(side =>
        assert(side.collectFirst { case e: ShuffleExchangeLike => e }.isEmpty,
          s"index side of the band join shuffles:\n$side"))
    }
  }

  test("two-hop small-middle plan is joinless: two aggregates and a projection") {
    // The blob path's point is that no join ever fans the bitmap payload
    // onto per-edge rows: the supplier dictionary rides inside the scalar
    // expression. A join reappearing in the final plan (beyond the edge
    // build's fact equijoin) means the fan-out regressed.
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    val plan = physical(operators.GraphOps.g4TwoHop(spark, dir))
    val joins = plan.collectWithSubqueries {
      case j: BroadcastHashJoinExec => j
      case j: ShuffledHashJoinExec => j
      case j: SortMergeJoinExec => j
    }
    // The checkpointed edge set truncates lineage, so the lineitem⋈orders
    // build is not even in this plan: the union step must be join-free.
    assert(joins.isEmpty, s"expected a joinless union plan, got:\n$plan")
    // The blob-union projection fuses into the aggregate's result
    // expressions (no separate Project node), so assert on the
    // expression tree, not the plan string.
    val hasBlobUnion = plan.collectWithSubqueries {
      case n => n.expressions
    }.flatten.exists(_.exists(
      _.isInstanceOf[org.apache.spark.sql.graft.BitmapBlobUnionCount]))
    assert(hasBlobUnion, s"blob-union projection missing from:\n$plan")
  }

  test("two-hop blob-projection path matches the shuffle-join fallback bit for bit") {
    // g4 routes on the exact bitmap-bytes probe: under the broadcast
    // threshold it collects the supplier bitmaps into a packed blob and
    // unions via a scalar projection; above it, a shuffle join + OR
    // aggregate. Forcing the threshold to -1 takes the fallback; both
    // plans must agree on every (custkey, n_two_hop).
    def key(r: org.apache.spark.sql.Row) = r.getLong(0) -> r.getLong(1)
    val blobPath = operators.GraphOps.g4TwoHop(spark, dir).collect().map(key).toSet
    val shufflePath = TestConf.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      operators.GraphOps.g4TwoHop(spark, dir).collect().map(key).toSet
    }
    assert(blobPath === shufflePath)
    assert(blobPath.nonEmpty)
  }

  test("t19 capped LM with K >= distinct grams is bit-identical to the exact LM") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) Long.MinValue else r.getLong(2))).toSeq
    val exact = rows(functions.TextFuncs.t19GramLmScore(spark, dir))
    val capped = rows(functions.TextFuncs.t19GramLmScore(spark, dir, topKGrams = 1000000))
    assert(capped === exact)
    assert(exact.nonEmpty)
  }

  test("t19 capped LM scores the exploded corpus through broadcasts only") {
    // The capped path's contract: the corpus-proportional bigram stream
    // (the Generate/explode side) must only ever meet BROADCAST gram
    // tables — a sort-merge or shuffled-hash join against it means the
    // cutoff stopped protecting the score stage.
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    val plan = physical(functions.TextFuncs.t19GramLmScore(spark, dir, topKGrams = 64))
    val broadcasts = plan.collectWithSubqueries { case j: BroadcastHashJoinExec => j }
    assert(broadcasts.size >= 2, s"expected 2+ broadcast score joins in:\n$plan")
    val shuffledAgainstCorpus = plan.collectWithSubqueries {
      case j: SortMergeJoinExec
        if j.children.exists(_.collectFirst { case g: GenerateExec => g }.isDefined) => j
      case j: ShuffledHashJoinExec
        if j.children.exists(_.collectFirst { case g: GenerateExec => g }.isDefined) => j
    }
    assert(shuffledAgainstCorpus.isEmpty,
      s"exploded corpus reached a shuffled join:\n$plan")
  }

  test("approximate two-hop (HLL escalation) tracks the exact bitmap counts") {
    val exact = operators.GraphOps.g4TwoHop(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val approx = operators.GraphOps.g4TwoHopApprox(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (ck, n) =>
      val a = approx(ck)
      // rsd = 0.05; small neighborhoods sit in HLL++'s exact sparse
      // regime, so 3x the nominal deviation is a generous envelope.
      assert(math.abs(a - n) <= math.max(3, 0.15 * n),
        s"custkey $ck: exact=$n approx=$a")
    }
  }

  test("co-bucketed fact-fact join plans without exchanges") {
    val t = Tables(spark, dir)
    sources.Bucketing.writeBucketed(t.orders.select("o_orderkey", "o_totalprice"), "orders_b", "o_orderkey", buckets = 8)
    sources.Bucketing.writeBucketed(t.lineitem.select("l_orderkey", "l_quantity"), "lineitem_b", "l_orderkey", buckets = 8)
    val joined = sources.Bucketing.coLocatedJoin(spark, "lineitem_b", "orders_b", "l_orderkey", "o_orderkey")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SMJ in:\n$plan")
    assert(!plan.contains("Exchange"), s"expected no shuffle in:\n$plan")
    // FK join: every lineitem row survives
    assert(joined.count() === t.lineitem.count())
  }

  test("t16 seq-pack: no global-order window ever touches the document scan") {
    // The scale hazard of a global prefix sum is one SinglePartition
    // window over the corpus. The two-level construction must confine
    // SinglePartition stages to the tiny range-level aggregate: the
    // fact-side window is partitioned by range_id, and the doc scan
    // reaches its window through a hash exchange, never a SinglePartition
    // one.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    val df = functions.TextFuncs.t16SeqPack(spark, dir)
    val qe = df.queryExecution
    val windows = physical(df).collectWithSubqueries { case w: WindowExec => w }
    // Exactly two windows: the partition-less range-offset cumsum (over
    // the aggregated #ranges rows) and the range_id-partitioned
    // within-range cumsum that touches the docs. More than one
    // partition-less window would mean the corpus itself serializes.
    assert(windows.count(_.partitionSpec.isEmpty) === 1,
      s"global-window count (total windows ${windows.length}), plan:\n${qe.executedPlan}")
    assert(windows.count(_.partitionSpec.nonEmpty) === 1,
      s"partitioned-window count, plan:\n${qe.executedPlan}")
    // And the whole plan funnels through exactly one SinglePartition
    // exchange — the one feeding that range-level window; the fact side
    // reaches its window via hash partitioning.
    val planStr = qe.executedPlan.toString
    assert("Exchange SinglePartition".r.findAllIn(planStr).length === 1,
      s"plan:\n$planStr")
  }

  test("m5 phash plans as a shuffle-free projection (sort exchange only)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val plan = physical(multimodal.Media.m5Phash(spark, dir))
    val exchanges = plan.collectWithSubqueries { case e: ShuffleExchangeLike => e }
    assert(exchanges.length <= 1, s"expected at most the sort exchange, got:\n$plan")
    assert(plan.collectWithSubqueries { case p => p }.nonEmpty)
  }

  test("t12/e7 exact percentiles: ordered windows run over histograms, never fact rows") {
    // The scale hazard: `row_number() over (partition by lang|event_type
    // order by …)` sorts a whole low-cardinality stratum in ONE task. The
    // histogram construction must put a hash aggregate between the scan
    // and every window, so the window's input is per-value counts
    // (bounded by the value domain), not corpus rows.
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    for ((name, df) <- Seq(
        "t12" -> functions.TextFuncs.t12CorpusStats(spark, dir),
        "q17" -> operators.HistogramQuantiles.q17HistogramQuantiles(spark, dir),
        "t25" -> functions.TextFuncs.t25LmBuckets(spark, dir),
        "e7"  -> streaming.Events.e7Thresholds(Tables(spark, dir).events))) {
      val windows = physical(df).collectWithSubqueries { case w: WindowExec => w }
      assert(windows.nonEmpty, s"$name: expected the cumulative-rank window")
      windows.foreach { w =>
        assert(w.collectFirst { case a: BaseAggregateExec => a }.nonEmpty,
          s"$name: window consumes raw fact rows (no aggregate below it):\n$w")
      }
    }
  }

  test("rank<=k windows plan as WindowGroupLimit (per-task top-k, no full stratum sort)") {
    // t13/q4/s2/s3/s4 filter `row_number() <= k`; Spark 4's
    // WindowGroupLimit pushes that to a per-map-task top-k so no task
    // ever sorts a whole stratum. Lock the plan shape in so a refactor
    // (e.g. materializing the rank column before the filter) can't
    // silently reintroduce the full sort.
    for ((name, df) <- Seq(
        "q4_window_latest"      -> operators.Relational.q4WindowLatest(spark, dir),
        "t13_stratified_sample" -> functions.TextFuncs.t13StratifiedSample(spark, dir),
        "t23_cluster_balance"   -> similarity.Cluster.t23ClusterBalance(spark, dir),
        "s2_lsh_ann"            -> similarity.Ann.s2LshAnn(spark, dir),
        "s3_centroid_ivf"       -> similarity.Ann.s3CentroidIvf(spark, dir),
        "s4_knn_join"           -> similarity.Ann.s4KnnJoin(spark, dir),
        "t20_tfidf_terms"       -> functions.TextFuncs.t20TfidfTerms(spark, dir),
        "g13_node_similarity"   -> operators.GraphOps.g13NodeSimilarity(spark, dir),
        "e9_window_topk"        -> streaming.Events.e9WindowTopk(spark, dir))) {
      val plan = physical(df)
      val hasLimit = plan.collectWithSubqueries {
        case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => w
      }.nonEmpty
      assert(hasLimit, s"$name: expected WindowGroupLimitExec in:\n$plan")
    }
  }

  test("t24 drift top-k plans as TakeOrdered — the vocabulary is never globally sorted") {
    val plan = physical(functions.TextFuncs.t24DriftTerms(spark, dir))
    val take = plan.collectWithSubqueries {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }
    assert(take.nonEmpty, s"expected TakeOrderedAndProject in:\n$plan")
  }

  test("e7: the events fact side is scanned pruned and joined broadcast") {
    val plan = streaming.Events.e7ThresholdAnomaly(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"threshold table should broadcast back onto the fact scan:\n$plan")
    assert(!plan.contains("ReadSchema: struct<event_id:bigint,ts"),
      s"ts/user_id/props should be pruned from the events scan:\n$plan")
  }

  test("q15: plain multi count(distinct) plans roaring, not Expand (injected rule)") {
    val plan = physical(operators.Relational.q15AutoDistinct(spark, dir)).toString
    assert(!plan.contains("Expand"), s"optimizer rule should have fired:\n$plan")
    assert(plan.contains("graft_roaring_distinct"), s"expected roaring aggregates:\n$plan")
  }

  test("d13: the fuzzy join is a variant equijoin, never a cartesian/nested-loop") {
    val plan = physical(dedup.Dedup.d13FuzzyPairs(spark, dir)).toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"deletion blocking must keep the pair stage an equijoin:\n$plan")
  }

  test("h3: snapshot diff is ONE join over the two snapshot aggregates") {
    import org.apache.spark.sql.execution.joins.{SortMergeJoinExec, ShuffledHashJoinExec}
    val plan = physical(sources.Upsert.h3SnapshotDiff(spark, dir))
    val joins = plan.collectWithSubqueries {
      case j: SortMergeJoinExec => j
      case j: ShuffledHashJoinExec => j
    }
    // Exactly one co-partitioned join (the full outer); the change
    // classification is a projection, not a second pass.
    assert(joins.size === 1, s"expected exactly one shuffled join:\n$plan")
  }

  test("g19: crafted hub graph butterfly counts, exact and under centerCap") {
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1))
    // Crafted graph: centers 1..3 on suppliers {10,20}; hub center 4 on
    // {10,20,30}. Wedge (10,20) has w=4 shared centers -> C(4,2)=6
    // butterflies on each of 10 and 20; (10,30)/(20,30) have w=1 -> none.
    val ss = spark
    import ss.implicits._
    val edges = Seq(
      (1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L), (3L, 10L), (3L, 20L),
      (4L, 10L), (4L, 20L), (4L, 30L)).toDF("c", "s")
    val expected = Map(10L -> 6L, 20L -> 6L)
    assert(operators.GraphOps.butterflyCount(edges).collect().map(key).toMap === expected)
    // centerCap is the LOSSY lever (off on the keyed path): cap 2 drops
    // hub center 4 from wedge generation, so w(10,20)=3 -> 3 butterflies.
    val capped = operators.GraphOps.butterflyCount(edges, centerCap = Some(2))
      .collect().map(key).toMap
    assert(capped === Map(10L -> 3L, 20L -> 3L))
  }

  test("d15: forced band escalation still finds every crafted near-dup chunk pair") {
    // candFactor=0 forces the candidate-volume router to the widest band
    // shape (16 bands x 8 rows) regardless of measured volume; the
    // crafted ~0.9-Jaccard pairs must all survive — the escalation trades
    // a bounded recall sliver at the 0.8 threshold, not wholesale misses
    // of real near-dups.
    val ss = spark
    import ss.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-d15-band").toString
    def words(doc: Int) = (0 until 32).map(j => s"w${doc}q${j}xy").mkString(" ")
    def edited(doc: Int) =
      (0 until 32).map(j => if (j == 15) "zCHANGEDz" else s"w${doc}q${j}xy").mkString(" ")
    val docs = (0 until 4).flatMap { i =>
      Seq((i.toLong, words(i)), (i + 10L, edited(i)))
    } :+ (50L -> (0 until 32).map(j => s"uniq${j}solo").mkString(" "))
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val escalated = pairs(dedup.Dedup.d15ChunkNearDup(spark, tmp, candFactor = 0L))
    val expected = (0 until 4).map(i => (i.toLong, i + 10L)).toSet
    assert(escalated === expected)
    // And the default (probe passes, narrow bands) finds the same set.
    assert(pairs(dedup.Dedup.d15ChunkNearDup(spark, tmp)) === expected)
  }

  test("d3: forced band escalation still finds every crafted near-dup doc pair") {
    // The doc-level twin of the d15 band-escalation spec: candFactor=0
    // forces the shared candidate-volume router to the widest (16×8)
    // shape; the crafted ~0.97-Jaccard document pairs must all survive,
    // and the default probe (which passes on this corpus) must agree.
    val ss = spark
    import ss.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-d3-band").toString
    def words(doc: Int) = (0 until 64).map(j => s"w${doc}q${j}xy").mkString(" ")
    def edited(doc: Int) =
      (0 until 64).map(j => if (j == 31) "zCHANGEDz" else s"w${doc}q${j}xy").mkString(" ")
    val docs = (0 until 4).flatMap { i =>
      Seq((i.toLong, words(i)), (i + 10L, edited(i)))
    } :+ (50L -> (0 until 64).map(j => s"uniq${j}solo").mkString(" "))
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0 until 4).map(i => (i.toLong, i + 10L)).toSet
    val escalated = pairs(dedup.Dedup.d3MinHashLsh(spark, tmp, candFactor = 0L))
    assert(escalated === expected)
    assert(pairs(dedup.Dedup.d3MinHashLsh(spark, tmp)) === expected)
  }

  test("e10: the sliding-window explode stays below the one aggregate exchange") {
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val plan = physical(streaming.Events.slidingAgg(Tables(spark, dir).events))
    val exchanges = plan.collectWithSubqueries { case e: ShuffleExchangeExec => e }
    assert(exchanges.size === 1,
      s"expected exactly one exchange (the (win,type) aggregate):\n$plan")
    // The 4x window-membership Generate runs map-side, under the exchange.
    val gensBelow = exchanges.head.collectWithSubqueries { case g: GenerateExec => g }
    assert(gensBelow.nonEmpty, s"explode should sit below the exchange:\n$plan")
  }

  test("q23 probe routes the join strategy; both routes are row-identical") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    // Default threshold: the probe sees a few hundred filtered orders and must
    // pick the broadcast route — the fact side never shuffles.
    val fast = operators.Relational.q23RoutedJoin(spark, dir)
    val fastJoins = physical(fast).collectWithSubqueries {
      case j: BroadcastHashJoinExec => j
    }
    assert(fastJoins.nonEmpty,
      s"probe under the limit should broadcast:\n${physical(fast)}")
    // Forced escalation (broadcast threshold -1): the probe must route to
    // the explicit sort-merge plan — and the answer must not move by a
    // single row.
    val (slow, slowPlan) = TestConf.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val q = operators.Relational.q23RoutedJoin(spark, dir); (q, physical(q))
    }
    assert(slowPlan.collectWithSubqueries { case j: SortMergeJoinExec => j }.nonEmpty,
      s"threshold -1 should force the merge route:\n$slowPlan")
    assert(slowPlan.collectWithSubqueries { case j: BroadcastHashJoinExec => j }.isEmpty,
      s"threshold -1 must not broadcast:\n$slowPlan")
    assert(fast.collect().map(_.toSeq).toSeq === slow.collect().map(_.toSeq).toSeq)
    assert(fast.collect().nonEmpty)
  }

  test("h9 manifest pruning reads a strict subset of files and matches the full scan") {
    val t = Tables(spark, dir)
    val tmp = java.nio.file.Files.createTempDirectory("graft-manifest").toString
    val orders = t.orders
      .withColumn("ord_us", unix_micros(col("o_orderdate").cast("timestamp")))
    sources.Manifest.write(spark, orders, "ord_us", tmp)
    val allFiles = spark.read.parquet(s"$tmp/data").inputFiles.toSet
    assert(allFiles.size > 1, "layout must split into multiple files")
    val lo = java.sql.Timestamp.valueOf("1995-01-01 00:00:00").getTime * 1000L
    val hi = java.sql.Timestamp.valueOf("1996-01-01 00:00:00").getTime * 1000L - 1
    val pruned = sources.Manifest.scanRange(spark, tmp, "ord_us", lo, hi)
    // File-level pruning is the whole point: the scan's file list must be
    // a STRICT subset of the layout (range clustering makes envelopes
    // disjoint, so a one-year slice of a seven-year table drops files).
    val read = pruned.inputFiles.toSet
    assert(read.nonEmpty && read.subsetOf(allFiles) && read.size < allFiles.size,
      s"expected a strict file subset: ${read.size} of ${allFiles.size}")
    // Pruning decides files, never rows: identical to the raw filter.
    // Decimal sums: a raw double sum differs by fold order across the two
    // partitionings — exactly the drift the engine's decimal convention
    // exists to kill — so the agreement check uses the same convention.
    val want = orders.filter(col("ord_us") >= lo && col("ord_us") <= hi)
      .agg(count(lit(1)), sum(col("o_totalprice").cast("decimal(18,2)"))).collect().head
    val got = pruned.agg(count(lit(1)), sum(col("o_totalprice").cast("decimal(18,2)"))).collect().head
    assert(got === want)
    assert(got.getLong(0) > 0)
    // A range no envelope intersects (year ~2128+) reads nothing and
    // returns nothing.
    assert(sources.Manifest.scanRange(spark, tmp, "ord_us",
      5000000000000000L, 6000000000000000L).count() === 0L)
  }

  test("tiered manifest: the chunk cascade opens only matching chunks' entry files") {
    val t = Tables(spark, dir)
    val tmp = java.nio.file.Files.createTempDirectory("graft-manifest-tier").toString
    val orders = t.orders
      .withColumn("ord_us", unix_micros(col("o_orderdate").cast("timestamp")))
    // 16 data files in chunks of 4 → a 4-row manifest list; a narrow
    // range must survive in FEWER chunks than exist, and the per-file
    // intersection must open only those chunks' manifest partitions —
    // the many-file regime in miniature: the driver never reads the
    // full per-file manifest, only the summary plus matching chunks.
    sources.Manifest.write(spark, orders, "ord_us", tmp, nFiles = 16, chunkFiles = 4)
    val list = spark.read.parquet(s"$tmp/manifest_list").collect()
    assert(list.length === 4, s"expected 4 chunks, got ${list.length}")
    // min_v-ordered chunking keeps chunk envelopes ordered: sorting by
    // min_v must not interleave (each chunk's min >= previous chunk's).
    val byMin = list.sortBy(_.getAs[Long]("min_v")).map(_.getAs[Long]("chunk"))
    assert(byMin.length === byMin.distinct.length)
    val lo = java.sql.Timestamp.valueOf("1995-01-01 00:00:00").getTime * 1000L
    val hi = java.sql.Timestamp.valueOf("1995-07-01 00:00:00").getTime * 1000L - 1
    val matching = list.filter(r =>
      r.getAs[Long]("max_v") >= lo && r.getAs[Long]("min_v") <= hi).map(_.getAs[Long]("chunk"))
    assert(matching.nonEmpty && matching.length < list.length,
      s"narrow range should prune chunks: ${matching.length} of ${list.length}")
    // The chunk-filtered manifest read touches only matching partitions
    // — asserted on the EXECUTED scan's numFiles metric (inputFiles
    // reports the relation's full listing, pre-pruning).
    val entryRead = spark.read.parquet(s"$tmp/manifest")
      .filter(col("chunk").isin(matching.map(_.toInt).toIndexedSeq: _*))
    entryRead.collect()
    val scan = entryRead.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    val opened = scan.metrics("numFiles").value
    val allEntryFiles = spark.read.parquet(s"$tmp/manifest").inputFiles.length
    assert(opened > 0 && opened < allEntryFiles,
      s"chunk filter must partition-prune the manifest: $opened of $allEntryFiles")
    // And the cascade answers identically to the raw range filter.
    val pruned = sources.Manifest.scanRange(spark, tmp, "ord_us", lo, hi)
    val want = orders.filter(col("ord_us") >= lo && col("ord_us") <= hi).count()
    assert(pruned.count() === want && want > 0)
  }

  test("t28 export plan is one hash exchange on the shard id — never a global sort") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val plan = physical(functions.Export.t28ShuffleExport(spark, dir))
    val exchanges = plan.collectWithSubqueries { case e: ShuffleExchangeExec => e }
    assert(exchanges.size === 1, s"expected exactly one exchange:\n$plan")
    assert(exchanges.head.outputPartitioning.toString.contains("shard"),
      s"the one exchange must hash on the shard id:\n$plan")
    // Per-shard sorts are local by construction; a global (non-partition)
    // sort anywhere means the shuffle degenerated to ORDER BY random().
    val globalSorts = plan.collectWithSubqueries {
      case s: SortExec if s.global => s
    }
    assert(globalSorts.isEmpty, s"global sort in the export plan:\n$plan")
  }
}
