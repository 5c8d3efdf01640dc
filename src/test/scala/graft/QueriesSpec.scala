package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFuncs

class QueriesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.create("graft-test", master = "local[4]")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs and oracle coverage is complete") {
    val missing = SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)
    assert(missing.isEmpty, s"oracle without query: $missing")
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, dir)
      assert(df.columns.nonEmpty, s"$name has no columns")
      df.limit(1).collect() // forces analysis + execution
    }
  }

  test("q1 aggregates are consistent") {
    val rows = operators.Relational.q1PricingAgg(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val cnt = r.getAs[Long]("cnt")
      assert(cnt > 0)
      assert(r.getAs[Double]("avg_qty") === r.getAs[Double]("sum_qty") / cnt)
    }
  }

  test("g1 pairs are ordered and deduped") {
    val df = operators.GraphOps.g1SameGroupPairs(spark, dir)
    assert(df.filter(col("custkey1") >= col("custkey2")).count() === 0)
  }

  test("sameGroupPairs skew: AQE splits the hot group's join, pair set exact") {
    val ss = spark
    import ss.implicits._
    import org.apache.spark.sql.execution.SparkPlanInfo
    // One hot group of 600 ids next to 200 cold groups of 5 ids each.
    val hot = (1L to 600L).map(i => (0L, i))
    val cold = for (g <- 1L to 200L; j <- 0L until 5L) yield (g, 1000L * g + j)
    val rows = (hot ++ cold).toDF("grp", "id")
    def closedForm(ids: Seq[(Long, Long)]) = ids.groupBy(_._1).toSeq.flatMap { case (g, m) =>
      m.map(_._2).combinations(2).map(p => (g, p.min, p.max))
    }.toSet
    var got = Set.empty[(Long, Long, Long)]
    // Skew thresholds a few kB of shuffle cross, broadcast off, over 8
    // partitions that AQE does not coalesce: the hot group's partition
    // is skewed on both sides of the self-join.
    val plans = TestConf.spreadState(spark) {
      TestConf.withConf(spark,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2") {
        adaptivePlansDuring {
          got = operators.GraphOps.sameGroupPairs(rows).collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        }
      }
    }
    def nodes(p: SparkPlanInfo): Seq[SparkPlanInfo] = p +: p.children.flatMap(nodes)
    val splitKeys = plans.flatMap(nodes)
      .filter(_.nodeName == "SortMergeJoin(skew=true)")
      .flatMap(j => "\\[(\\w+)#".r.findFirstMatchIn(j.simpleString).map(_.group(1)))
      .toSet
    assert(splitKeys === Set("grp"), s"skew-split joins on $splitKeys over ${plans.size} adaptive plans")
    assert(got.size === 600 * 599 / 2 + 200 * 10)
    assert(got === closedForm(hot ++ cold))
  }

  test("within-group pairs have one formulation: no salted path or size knob in src/main/scala") {
    val gone = Seq("blockThreshold", "sameGroupPairsSkewSafe", "blockedSameGroupPairs", "derivedBlocks")
    val offenders = MainSources.lines.filter(l => gone.exists(l.text.contains))
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("g1b current pairs carry the till-now property shape") {
    val rows = operators.GraphOps.g1bCurrentPairs(spark, dir).collect()
    rows.foreach { r =>
      assert(r.getAs[String]("overlap_period") === "till now")
      assert(r.getAs[Long]("suppkey1") < r.getAs[Long]("suppkey2"))
      assert(Set("junior", "mid", "senior").contains(r.getAs[String]("position1")))
    }
  }

  test("g2b emits every same-group pair and annotates open intervals safely") {
    val rows = operators.GraphOps.g2bOpenOverlapPairs(spark, dir).collect()
    // Every same-nation pair gets an edge, complete intervals or not —
    // the SCHOOLMATES contract (an incomplete pair has at_same_time=0 and
    // no period, never a dropped row).
    val t = Tables(spark, dir)
    val allPairs = t.supplier.as("a")
      .join(t.supplier.as("b"),
        col("a.s_nationkey") === col("b.s_nationkey") && col("a.s_suppkey") < col("b.s_suppkey"))
      .count()
    assert(rows.length.toLong === allPairs)
    val periodRe = "^\\d{4}\\.\\d{2}-\\d{4}\\.\\d{2}$".r
    rows.foreach { r =>
      val ast = r.getAs[Int]("at_same_time")
      val period = r.getAs[String]("overlap_period")
      assert(ast === 0 || ast === 1)
      // A period implies claimed overlap; the reverse need not hold
      // (year-tie with a missing month nulls the period).
      if (period != null) {
        assert(ast === 1)
        assert(periodRe.findFirstIn(period).isDefined, s"bad period format: $period")
      }
    }
  }

  test("t10 extracted fields round-trip the constructed document") {
    val t5 = functions.TextFuncs.t5FieldExtract(spark, dir).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("prop_k")).toMap
    val rows = functions.TextFuncs.t10EntityExtract(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_targets") === 2L)
      assert(r.getAs[String]("target1") === r.getAs[String]("event"))
      assert(r.getAs[String]("person").startsWith("u"))
      assert(r.getAs[Long]("prop_k") === t5(r.getAs[Long]("event_id")))
    }
  }

  test("s2 multi-probe candidates are a superset of single-probe") {
    val single = similarity.Ann.s2LshAnn(spark, dir, k = Int.MaxValue).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val multi = similarity.Ann.s2LshAnn(spark, dir, k = Int.MaxValue, multiProbe = true).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(single.subsetOf(multi))
    // the hamming-1 probes must actually reach additional buckets
    assert(multi.size >= single.size)
  }

  test("g2 overlap intervals are valid") {
    // sf0.001 has only 10 suppliers over 25 nations, so pairs may be empty;
    // the invariant under test is interval validity, not cardinality.
    val df = operators.GraphOps.g2OverlapPairs(spark, dir)
    assert(df.filter(col("overlap_start") > col("overlap_end")).count() === 0)
  }

  test("g8 hierarchy reaches region roots at depth 2") {
    val df = operators.GraphOps.g8HierarchyPaths(spark, dir)
    val depths = df.groupBy("depth").count().collect().map(r => r.getInt(0)).sorted
    assert(depths.toSeq === Seq(1, 2))
    // every customer node must have a depth-2 ancestor (its region)
    val t = Tables(spark, dir)
    val nCust = t.customer.count()
    val custAtDepth2 = df.filter(col("node").startsWith("c_") && col("depth") === 2).count()
    assert(custAtDepth2 === nCust)
  }

  test("d2 jaccard pairs are above threshold") {
    val df = dedup.Dedup.d2NgramJaccard(spark, dir)
    assert(df.filter(col("jaccard_micro") < 800000).count() === 0)
  }

  test("s1 returns k ranked neighbors per query") {
    val rows = similarity.Ann.s1CosineTopK(spark, dir, k = 5).collect()
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.nonEmpty)
    byQuery.values.foreach { rs =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq === (1 to 5))
    }
  }

  test("e1 window counts cover all events") {
    val t = Tables(spark, dir)
    val total = streaming.Events.e1TumblingAgg(spark, dir)
      .agg(sum("cnt")).collect()(0).getLong(0)
    assert(total === t.events.count())
  }

  test("t2 predicts a language for every doc") {
    val df = functions.TextFuncs.t2LangId(spark, dir)
    assert(df.count() === Tables(spark, dir).documents.count())
  }

  test("g5 components agree with the structural region partition") {
    val df = operators.GraphIter.g5ConnectedComponents(spark, dir)
    // one label per region tree, and every member maps to the same label
    val nRegions = Tables(spark, dir).region.count()
    assert(df.select("component").distinct().count() === nRegions)
    // labels are component members (hash-min invariant)
    val members = df.select(col("node")).collect().map(_.getString(0)).toSet
    df.select("component").distinct().collect().foreach { r =>
      assert(members.contains(r.getString(0)))
    }
  }

  test("g6 pagerank conserves rank mass") {
    val rows = operators.GraphIter.g6PageRank(spark, dir).collect()
    val total = rows.map(_.getAs[Long]("rank_micro")).sum / 1e6
    // undirected graph, no dangling mass: sum(rank) ≈ n (floor divisions
    // leak at most deg/1e6 per node per step)
    assert(math.abs(total - rows.length) < 2e-2 * rows.length)
    assert(rows.forall(_.getAs[Long]("rank_micro") > 0))
  }

  test("g7 per-node triangle counts sum to 3x the triangle total") {
    // sf0.01: the sf0.001 co-purchase graph has no edges at all, which
    // would make this invariant vacuous (0 % 3 == 0).
    val df = operators.GraphIter.g7TriangleCount(spark, "/root/testdata/sf0.01")
    val total = df.agg(sum("n_triangles")).collect()(0).getLong(0)
    assert(total > 0, "degenerate gate: no triangles")
    assert(total % 3 === 0)
  }

  test("g18 clustering coefficient equals a driver-side set-based recount") {
    // Independent edge build: collect the (order, supplier, nation) rows
    // and form the same-nation co-purchase graph with Scala sets — none
    // of the wedge-join / semi-join machinery under test is reused.
    // sf0.01: the sf0.001 co-purchase graph is empty (0 edges), which
    // would make this gate vacuous.
    val sfDir = "/root/testdata/sf0.01"
    val t = Tables(spark, sfDir)
    val rows = t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .join(t.supplier, col("l_suppkey") === col("s_suppkey"))
      .select(col("l_orderkey").cast("long").as("okey"),
        col("l_suppkey").cast("long").as("s"), col("s_nationkey").cast("long").as("nat"))
      .distinct().collect()
      .map(r => (r.getAs[Long]("okey"), r.getAs[Long]("s"), r.getAs[Long]("nat")))
    val byOrder = rows.groupBy(_._1)
    val nbrs = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.Set[Long]]
    for ((_, ss) <- byOrder; x <- ss; y <- ss if x._2 < y._2 && x._3 == y._3) {
      nbrs.getOrElseUpdate(x._2, scala.collection.mutable.Set()) += y._2
      nbrs.getOrElseUpdate(y._2, scala.collection.mutable.Set()) += x._2
    }
    val allSupp = t.supplier.select("s_suppkey").collect().map(_.getLong(0))
    val expected = allSupp.map { v =>
      val n = nbrs.getOrElse(v, scala.collection.mutable.Set.empty[Long])
      val tri = n.toSeq.combinations(2).count { case Seq(a, b) =>
        nbrs(a).contains(b) || nbrs(b).contains(a)
      }.toLong
      val d = n.size.toLong
      val cc = if (d >= 2) (2L * tri * 1000000L) / (d * (d - 1)) else 0L
      (v, d, tri, cc)
    }.toSet
    assert(expected.exists(_._4 > 0), "degenerate gate: no node with cc > 0")
    val got = operators.GraphIter.g18ClusteringCoeff(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("suppkey"), r.getAs[Long]("deg"),
        r.getAs[Long]("n_triangles"), r.getAs[Long]("cc_micro"))).toSet
    assert(got === expected)
  }

  test("native minhash signature is bit-identical to the explode + min-agg formulation") {
    // The retired round-2 signature pipeline, kept here as the equivalence
    // reference: one murmur3 per character position, 128 Carter–Wegman
    // min-aggregates. The native expression must reproduce it exactly.
    val numHashes = 128
    val P = 2147483647L
    val rng = new scala.util.Random(42)
    val coefs = IndexedSeq.fill(numHashes)(
      (1L + rng.nextInt(Int.MaxValue - 1), rng.nextInt(Int.MaxValue).toLong))
    val minCols = coefs.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h0") * a + b, lit(P))).as(s"h$i")
    }
    // Multibyte rows exercise the char-vs-byte window arithmetic; the
    // corpus rows exercise realistic text.
    val ss = spark
    import ss.implicits._
    val extra = Seq(
      (100001L, "中央党校的同学们在一九九八年毕业了然后去了各地工作"),
      (100002L, "café déjà-vu naïve smörgåsbord ÅÄÖ åäö 😀😀😀 end"),
      (100003L, "short"),
      (100004L, "aaaaaaaaaaaaaaaaaaaa")).toDF("doc_id", "text")
    val docs = Tables(spark, dir).documents.select("doc_id", "text")
      .unionByName(extra)
      .filter(length(col("text")) >= 5)
    val agg = docs
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1), length(col("text")) - 4)).as("pos"))
      .select(col("doc_id"), hash(col("text").substr(col("pos"), lit(5))).cast("long").as("h0"))
      .groupBy("doc_id")
      .agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"), array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
    val native = docs.select(col("doc_id"),
      org.apache.spark.sql.graft.VectorExpressions.minhashSignature(col("text"), 5, numHashes).as("sig"))
    assert(native.count() === agg.count())
    val mismatched = agg.as("a").join(native.as("b"), Seq("doc_id"))
      .filter(col("a.sig") =!= col("b.sig"))
    assert(mismatched.count() === 0)
  }

  test("gram codes reproduce string-shingle cardinalities and intersections exactly") {
    val ss = spark
    import ss.implicits._
    // Multibyte rows force >7-byte grams through the hash fallback; the
    // cardinality equivalence must still hold (no within-document
    // collision), and ASCII rows must take the bijective packed path.
    val extra = Seq(
      (900001L, "中央党校的同学们在一九九八年毕业了然后去了各地工作"),
      (900002L, "café déjà-vu naïve smörgåsbord ÅÄÖ åäö 😀😀😀 end"),
      (900003L, "aaaaaaaaaaaaaaaaaaaa"),
      (900004L, "abcdeabcdeabcde")).toDF("doc_id", "text")
    val docs = Tables(spark, dir).documents.select("doc_id", "text")
      .unionByName(extra)
      .filter(length(col("text")) >= 5)
    val both = docs.select(
      col("doc_id"),
      sort_array(dedup.Dedup.shingles(col("text"))).as("sgrams"),
      dedup.Dedup.gramCodes(col("text")).as("codes"))
    // cardinality equivalence per document
    assert(both.filter(size(col("sgrams")) =!= size(col("codes"))).count() === 0)
    // intersection-count equivalence over a pair sample (adjacent doc ids)
    val a = both.select(col("doc_id").as("id1"), col("sgrams").as("s1"), col("codes").as("c1"))
    val b = both.select(col("doc_id").as("id2"), col("sgrams").as("s2"), col("codes").as("c2"))
    val paired = a.join(b, col("id2") === col("id1") + 1)
      .select(
        org.apache.spark.sql.graft.VectorExpressions
          .sortedIntersectCount(col("s1"), col("s2")).as("si"),
        org.apache.spark.sql.graft.VectorExpressions
          .sortedIntersectCountLong(col("c1"), col("c2")).as("ci"))
    assert(paired.filter(col("si") =!= col("ci")).count() === 0)
  }

  test("native simhash is bit-identical to the explode + vote-agg formulation") {
    val fast = dedup.Dedup.d4SimHash(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    val agg = dedup.Dedup.d4SimHashAgg(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(fast === agg)
  }

  test("d3 minhash-lsh verified pairs equal the exact d2 join") {
    val d2 = dedup.Dedup.d2NgramJaccard(spark, dir).collect().toSet
    val d3 = dedup.Dedup.d3MinHashLsh(spark, dir).collect().toSet
    assert(d2 === d3)
  }

  test("d6 dedup resolution keeps exactly one canonical per cluster") {
    val rows = dedup.Dedup.d6DedupResolve(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("canonical_id") <= r.getAs[Long]("doc_id"))
      assert((r.getAs[Int]("is_kept") == 1) === (r.getAs[Long]("canonical_id") == r.getAs[Long]("doc_id")))
    }
    val kept = rows.count(_.getAs[Int]("is_kept") == 1)
    val nCanon = rows.map(_.getAs[Long]("canonical_id")).distinct.length
    assert(kept === nCanon)
  }

  test("d11 report accounts for every document and agrees with d6") {
    val t = Tables(spark, dir)
    val report = dedup.Dedup.d11DedupReport(spark, dir).collect()
    assert(report.map(r => r.getAs[Long]("n_docs")).sum === t.documents.count())
    report.foreach { r =>
      assert(r.getAs[Long]("n_docs") ===
        r.getAs[Long]("cluster_size") * r.getAs[Long]("n_clusters"))
    }
    // Kept docs in d6 == total clusters in the report.
    val kept = dedup.Dedup.d6DedupResolve(spark, dir)
      .filter(col("is_kept") === 1).count()
    assert(report.map(_.getAs[Long]("n_clusters")).sum === kept)
  }

  test("d6/m7 label tail: broadcast on doc_id under the default threshold, none at -1, same rows") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    def docIdBroadcasts(df: DataFrame) = (df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).collectWithSubqueries {
      case j: BroadcastHashJoinExec if j.leftKeys.exists(_.references.exists(_.name == "doc_id")) => j
    }
    def rows(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val ops = Seq[(String, (SparkSession, String) => DataFrame)](
      "d6" -> ((s, d) => dedup.Dedup.d6DedupResolve(s, d)),
      "m7" -> ((s, d) => multimodal.Media.m7MediaResolve(s, d)))
    ops.foreach { case (name, op) =>
      val routed = op(spark, dir)
      assert(docIdBroadcasts(routed).nonEmpty, s"$name should broadcast its labels by default")
      val (shuffled, joins) = TestConf.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val q = op(spark, dir); (q, docIdBroadcasts(q))
      }
      assert(joins.isEmpty, s"$name must not broadcast its labels at threshold -1")
      assert(rows(shuffled) === rows(routed), s"$name: routing changed the rows")
      assert(rows(routed).exists(_._3 == 0), s"$name: no document was resolved away")
    }
  }

  test("d4 simhash bands decompose the fingerprint") {
    dedup.Dedup.d4SimHash(spark, dir).collect().foreach { r =>
      val fp = r.getAs[Long]("simhash")
      val recomposed = (0 until 4).map(j => r.getAs[Long](s"band$j") << (15 * j)).sum
      assert(recomposed === fp)
      assert(fp >= 0 && fp < (1L << 60))
    }
  }

  test("s2/s3 neighbors come from the query's own bucket/cell and rank densely") {
    Seq(
      similarity.Ann.s2LshAnn(spark, dir, k = 5),
      similarity.Ann.s3CentroidIvf(spark, dir, k = 5)
    ).foreach { df =>
      val rows = df.collect()
      rows.groupBy(_.getAs[Long]("query_id")).values.foreach { rs =>
        val ranks = rs.map(_.getAs[Int]("rank")).sorted.toSeq
        assert(ranks === (1 to ranks.length)) // dense from 1, no gaps
      }
    }
  }

  test("e4 funnel stages are monotone and depth-consistent") {
    val rows = streaming.Events.e4Funnel(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val tv = Option(r.getAs[java.lang.Long]("t_view")).map(_.longValue)
      val tc = Option(r.getAs[java.lang.Long]("t_click")).map(_.longValue)
      val tp = Option(r.getAs[java.lang.Long]("t_purchase")).map(_.longValue)
      val depth = r.getAs[Int]("funnel_depth")
      if (tc.isDefined) assert(tv.isDefined && tc.get > tv.get)
      if (tp.isDefined) assert(tc.isDefined && tp.get > tc.get)
      assert(depth === Seq(tv, tc, tp).takeWhile(_.isDefined).length)
    }
  }

  test("e2 sessions are disjoint and ordered per user") {
    val rows = streaming.Events.e2Sessionize(spark, dir).collect()
    rows.groupBy(_.getAs[Long]("user_id")).values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Long]("session_no"))
      sorted.foreach(r =>
        assert(r.getAs[Long]("session_start") <= r.getAs[Long]("session_end")))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          // next session starts strictly after the previous ends, by > gap
          assert(b.getAs[Long]("session_start") - a.getAs[Long]("session_end") > 30L * 60 * 1000000L)
        case _ =>
      }
    }
  }

  test("graft_cosine is callable from SQL via session extensions") {
    val one = spark.sql(
      "SELECT graft_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c")
      .collect()(0).getDouble(0)
    assert(math.abs(one - 1.0) < 1e-12)
  }

  test("graft_bitmap / graft_bitmap_or_count compose from SQL via session extensions") {
    val c = spark.sql(
      "SELECT graft_bitmap_or_count(bm) AS c FROM (" +
        "SELECT graft_bitmap(v) AS bm FROM VALUES (0L), (1L), (65L), (1L) AS t(v) GROUP BY v % 2)")
      .collect()(0).getLong(0)
    assert(c === 3L) // union of {0} and {1, 65}
  }

  test("native cosine expression is bit-identical to the HOF formulation") {
    val e = Tables(spark, dir).embeddings.limit(50)
    val a = e.select(col("vec_id").as("id1"), col("embedding").as("e1"))
    val b = e.select(col("vec_id").as("id2"), col("embedding").as("e2"))
    val both = a.crossJoin(b).select(
      similarity.Ann.cosine(col("e1"), col("e2")).as("native"),
      similarity.Ann.cosineHof(col("e1"), col("e2")).as("hof"))
    assert(both.count() > 0)
    assert(both.filter(col("native") =!= col("hof")).count() === 0)
  }

  test("m1 sniffs the synthesized magic bytes") {
    val rows = multimodal.Media.m1MediaMeta(spark, dir).collect()
    rows.foreach { r =>
      val expected = r.getAs[Long]("doc_id") % 3 match {
        case 0 => "image/png"
        case 1 => "image/jpeg"
        case _ => "audio/wav"
      }
      assert(r.getAs[String]("media_type") === expected)
    }
  }

  test("m3 resize runs the real 2-D box filter; corrupt payloads classified, not crashed") {
    val rows = multimodal.Media.m3Resize(spark, dir).collect()
    assert(rows.nonEmpty)
    var okSeen = false; var badSeen = false
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      if (id % 7 == 0 || id % 13 == 0) {
        badSeen = true
        assert(r.getAs[Long]("ok") === 0L && r.getAs[Long]("resized_bytes") === 0L,
          s"corrupt payload must classify, doc $id")
      } else {
        okSeen = true
        // 4×2 P6 pooled 2× → 2×1, 6 output bytes; the kernel really
        // shrank the raster (24 → 6 bytes, the f² reduction).
        assert(r.getAs[Long]("ok") === 1L)
        assert(r.getAs[Long]("width") === 4L && r.getAs[Long]("height") === 2L)
        assert(r.getAs[Long]("out_width") === 2L && r.getAs[Long]("out_height") === 1L)
        assert(r.getAs[Long]("resized_bytes") === 6L)
        assert(r.getAs[String]("resized_hash").length === 32)
      }
    }
    assert(okSeen && badSeen, "both verdict branches must be exercised")
    // Sorted compare: the keyed form no longer carries a terminal global
    // sort (Verify sorts dumps itself), so collect order is partition
    // order — the determinism contract is on CONTENT.
    val again = multimodal.Media.m3Resize(spark, dir).collect()
    assert(rows.map(_.toString).sorted.toSeq === again.map(_.toString).sorted.toSeq)
  }

  test("batch custom-state sessions agree with the window-based e2") {
    val ss = spark
    import ss.implicits._
    val events = Tables(spark, dir).events
      .select("event_id", "user_id", "event_type", "ts", "value")
      .as[streaming.RawEvent]
    val closed = streaming.EventsStream.sessionizeCustomState(events).collect()
    val e2 = streaming.Events.e2Sessionize(spark, dir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_start"),
        r.getAs[Long]("session_end"), r.getAs[Long]("n_events"))).toSet
    assert(closed.nonEmpty)
    closed.foreach { s =>
      assert(e2.contains((s.user_id, s.session_start, s.session_end, s.n_events)))
    }
  }

  test("typed loaders expose the star schema as Datasets") {
    val t = Tables(spark, dir)
    assert(t.typed.lineitem.count() === t.lineitem.count())
    assert(t.typed.customer.head().c_custkey >= 0)
    assert(t.typed.events.head().ts > 0L)
    assert(t.typed.embeddings.head().embedding.length === 64)
  }

  test("media feature extraction is deterministic and bounded") {
    val feats = multimodal.Media.extractFeatures(spark, dir).collect()
    assert(feats.length === Tables(spark, dir).documents.count())
    feats.foreach { f =>
      assert(f.n_bytes > 0)
      assert(f.mean_byte >= 0.0 && f.mean_byte <= 255.0)
      assert(f.std_byte >= 0.0)
    }
  }

  test("the decode seam runs a real codec: P6 PPM decodes, pools, and reports corruption") {
    val ss = spark
    import ss.implicits._
    def ppm(header: String, rgb: Array[Byte]): Array[Byte] =
      header.getBytes("US-ASCII") ++ rgb
    // 4x2 image, pixel (x,y) = (10x, 100+y, x+y): channel means are exact.
    val rgb = (for (y <- 0 until 2; x <- 0 until 4)
      yield Seq((10 * x).toByte, (100 + y).toByte, (x + y).toByte)).flatten.toArray
    val payloads = Seq(
      1L -> ppm("P6\n4 2\n255\n", rgb),
      2L -> ppm("P6 # crafted\n# full-line comment\n 4\t2 255\n", rgb), // whitespace/comment-tolerant header
      3L -> Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte),         // JPEG magic -> not ours
      4L -> ppm("P6\n4 2\n255\n", rgb.take(10)),                        // truncated raster
      5L -> ppm("P6\n4 2\n65535\n", rgb)                                // 16-bit maxval unsupported
    ).toDF("doc_id", "payload")
    val out = multimodal.Media.decodePpmImages(payloads)
      .collect().map(d => d.doc_id -> d).toMap
    for (id <- Seq(1L, 2L)) {
      val d = out(id)
      assert(d.ok && d.width === 4 && d.height === 2, s"doc $id: $d")
      assert(d.mean_r_milli === 15000L && d.mean_g_milli === 100500L && d.mean_b_milli === 2000L)
    }
    assert(!out(3L).ok && out(3L).reason === "bad_magic")
    assert(!out(4L).ok && out(4L).reason === "short_payload")
    assert(!out(5L).ok && out(5L).reason === "unsupported_maxval")
    // Real resize semantics: factor-2 box filter of the 4x2 image is 2x1
    // with each output pixel the integer mean of its 2x2 block.
    val pooled = multimodal.Media.ppmAveragePool(payloads.filter($"doc_id" === 1L), 2).head()
    assert(pooled.ok && pooled.out_width === 2 && pooled.out_height === 1)
    assert(pooled.pixels.map(_ & 0xff).toSeq === Seq(5, 100, 1, 25, 100, 3))
  }

  test("s8 BM25 top-k matches a single-machine integer recount") {
    val got = functions.Retrieval.s8Bm25TopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // Reference: replicate the exact fixed-point scoring on collected rows.
    val docs = Tables(spark, dir).documents
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).filter(_.length >= 5))
    val n = Tables(spark, dir).documents.count()
    val dl = docs.map { case (id, ts) => id -> ts.length.toLong }.toMap
    val tl = dl.values.sum
    val avgdlMilli = tl * 1000 / n
    val tf = docs.flatMap { case (id, ts) => ts.map(t => (t, id)) }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val byTok = tf.keys.toSeq.groupBy(_._1)
    val dfm = byTok.view.mapValues(_.size.toLong).toMap
    val cnt = byTok.view.mapValues(_.map(tf).sum).toMap
    val terms = cnt.toSeq.sortBy { case (t, c) => (-c, t) }.take(8).map(_._1)
    val expected = terms.zipWithIndex.groupBy(_._2 / 2).toSeq.flatMap { case (qid, qts) =>
      val perDoc = qts.map(_._1).flatMap { t =>
        byTok(t).map { case (_, d) =>
          val idf = (2 * (n - dfm(t)) + 1) * 1000 / (2 * dfm(t) + 1)
          val rM = dl(d) * 1000000 / avgdlMilli
          val tp = 22000000 * tf((t, d)) / (10000 * tf((t, d)) + 3000 + 9 * rM)
          d -> idf * tp / 1000
        }
      }.groupBy(_._1).view.mapValues(v => (v.map(_._2).sum, v.size.toLong)).toSeq
      perDoc.sortBy { case (d, (s, _)) => (-s, d) }.take(5).zipWithIndex.map {
        case ((d, (s, nt)), i) => (qid.toLong, d, s, nt, i + 1L)
      }
    }.sortBy(r => (r._1, r._5))
    assert(got.toSeq === expected)
  }

  test("s8 plans the retrieval shape: map-side top-k and broadcast query terms") {
    val plan = functions.Retrieval.s8Bm25TopK(spark, dir)
      .queryExecution.executedPlan.toString
    // Per-query top-k must run as WindowGroupLimit with a PARTIAL pass
    // before the qid shuffle — a term matching every document must never
    // materialize a full sorted partition on the reduce side.
    // The mode must be on the WindowGroupLimit node's OWN line — a bare
    // plan.contains("Partial") would also match partial HashAggregates
    // anywhere in the plan and pin nothing about this operator.
    assert(plan.linesIterator.exists(l =>
        l.contains("WindowGroupLimit") && l.contains("Partial")),
      s"expected a Partial-mode WindowGroupLimit node in:\n$plan")
    // The query-term table rides a broadcast into the postings join —
    // the corpus-sized side must never shuffle on the scoring join.
    assert(plan.contains("BroadcastExchange"),
      s"expected broadcast query terms in:\n$plan")
  }

  test("s11 persisted index answers row-identically to s8's recompute form") {
    val viaIndex = functions.TermIndex.s11Bm25Indexed(spark, dir)
      .collect().map(_.toSeq).toSeq
    val recompute = functions.Retrieval.s8Bm25TopK(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(viaIndex.nonEmpty && viaIndex === recompute)
  }

  test("s11 index: append-then-query equals rebuild-then-query; scan is bucket-pruned") {
    import functions.TermIndex
    val docs = Tables(spark, dir).documents.select(col("doc_id"), col("text"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-termidx").toString
    // Build on the even half, append the odd half — postings, doc
    // lengths, and corpus scalars must all end up equal to a one-shot
    // build, because df/cf are derived from postings at query time and
    // the scalars are additive.
    TermIndex.build(spark, docs.filter(col("doc_id") % 2 === 0), s"$tmp/inc")
    TermIndex.append(spark, docs.filter(col("doc_id") % 2 =!= 0), s"$tmp/inc")
    TermIndex.build(spark, docs, s"$tmp/full")
    val q = TermIndex.synthesizedQueries(spark, s"$tmp/full")
    val inc = TermIndex.query(spark, q, s"$tmp/inc").collect().map(_.toSeq).toSeq
    val full = TermIndex.query(spark, q, s"$tmp/full").collect().map(_.toSeq).toSeq
    assert(inc.nonEmpty && inc === full)
    // The bounded query-term set prunes BUCKETS at scan time: the
    // postings scan must read a strict subset of the layout.
    val plan = TermIndex.query(spark, q, s"$tmp/full")
      .queryExecution.executedPlan.toString
    val sel = """SelectedBucketsCount: (\d+) out of (\d+)""".r.findFirstMatchIn(plan)
    assert(sel.isDefined, s"expected a bucket-pruned postings scan in:\n$plan")
    assert(sel.get.group(1).toInt < sel.get.group(2).toInt,
      s"query terms should select a strict subset of buckets: ${sel.get.matched}")
    // Disjointness is ENFORCED: re-appending an already-indexed doc_id
    // would corrupt tf/df and duplicate doclens rows — it must fail
    // loudly, and the failed append must not have touched the index.
    val before = TermIndex.query(spark, q, s"$tmp/inc").collect().map(_.toSeq).toSeq
    val ex = intercept[IllegalArgumentException] {
      TermIndex.append(spark, docs.filter(col("doc_id") % 2 =!= 0), s"$tmp/inc")
    }
    assert(ex.getMessage.contains("already indexed"))
    assert(TermIndex.query(spark, q, s"$tmp/inc").collect().map(_.toSeq).toSeq === before)
  }

  test("t30 heavy hitters: MG guarantee at the boundary, forced fallback is bit-identical") {
    import functions.Frequent
    // Per-partition guarantee: any item with frequency > N/(m+1) must
    // survive the m-counter summary. Adversarial stream: heavy item
    // interleaved with a flood of singletons (the decrement pressure).
    val n = 1000
    val heavy = "HEAVY"
    val stream = (0 until n).map(i => if (i % 4 == 0) heavy else s"noise$i")
    val m = 8
    val summary = Frequent.misraGries(stream.iterator, m).toMap
    assert(summary.size <= m)
    assert(summary.contains(heavy), s"freq ${n / 4} > N/(m+1) = ${n / (m + 1)} must survive: $summary")
    // MG undercount is bounded by the decrement count: est >= true - N/(m+1).
    assert(summary(heavy) >= n / 4 - n / (m + 1))
    // An item at exactly the boundary may legally vanish; one decrement
    // per overflow means total decrements <= N/(m+1) — pin that no
    // SURVIVING counter ever exceeds its true count.
    val trueCounts = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    summary.foreach { case (t, c) => assert(c <= trueCounts(t), s"$t overcounted") }

    // End-to-end, route-pinned: at m=4096/k=10 the certificate HOLDS
    // (the sketch route answers); at m=2 it fails (2 counters cannot
    // cover 10 candidates — forced fallback). Both must equal the naive
    // exact aggregate, row for row.
    val toks = Tables(spark, dir).documents
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) >= 5)
    val naive = toks.groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc).limit(10)
      .collect().map(_.toSeq).toSeq
    assert(Frequent.certifiedTopK(toks, 10, m = 4096).isDefined, "certificate must hold at m=4096")
    assert(Frequent.certifiedTopK(toks, 10, m = 2).isEmpty, "m=2 must starve the certificate")
    val sketch = Frequent.topKFrequent(toks, 10).collect().map(_.toSeq).toSeq
    val fallback = Frequent.topKFrequent(toks, 10, m = 2).collect().map(_.toSeq).toSeq
    assert(sketch === naive && fallback === naive)
    assert(naive.nonEmpty)
  }

  test("the PPM decoder never throws: any byte soup yields a verdict row") {
    val rnd = new scala.util.Random(0xBEEF)
    // Adversarial corpus: random bytes, random-length truncations of a
    // VALID image, valid headers with mutated interiors — every shape a
    // 100 TB crawl will eventually feed a decoder.
    val valid = ("P6\n4 2\n255\n").getBytes("US-ASCII") ++ Array.fill(24)(rnd.nextInt.toByte)
    val payloads: Seq[Array[Byte]] =
      (1 to 200).map(_ => Array.fill(rnd.nextInt(64))(rnd.nextInt.toByte)) ++
      (0 until valid.length).map(n => valid.take(n)) ++
      (1 to 100).map { _ =>
        val b = valid.clone(); b(rnd.nextInt(b.length)) = rnd.nextInt.toByte; b
      }
    payloads.foreach { b =>
      multimodal.Media.decodePpm(b) match {
        case Right((w, h, rgb)) => assert(rgb.length === 3 * w * h && w > 0 && h > 0)
        case Left(reason) => assert(reason.nonEmpty)
      }
    }
  }

  test("m11 decodes every synthesized payload and classifies both corruption residues") {
    val rows = multimodal.Media.m11PpmDecode(spark, dir).collect()
    val docs = Tables(spark, dir).documents.count()
    assert(rows.length.toLong === docs, "one verdict row per document, corrupt or not")
    val byReason = rows.groupBy(_.getString(2)).view.mapValues(_.length).toMap
    assert(byReason.keySet === Set("ok", "short_payload", "bad_magic"))
    rows.foreach { r =>
      val id = r.getLong(0)
      val expected =
        if (id % 7 == 0) "short_payload" else if (id % 13 == 0) "bad_magic" else "ok"
      assert(r.getString(2) === expected, s"doc $id")
      if (expected == "ok") {
        // Hand recount of the arithmetic raster for this doc.
        def mean(ch: Int) =
          (0 until 24).filter(_ % 3 == ch).map(j => (id * 31 + j * 7) % 256).sum * 1000 / 8
        assert(r.getLong(5) === mean(0) && r.getLong(6) === mean(1) && r.getLong(7) === mean(2),
          s"doc $id channel means")
      } else {
        assert(r.getLong(1) === 0L && r.getLong(3) === 0L && r.getLong(5) === 0L)
      }
    }
  }

  test("m2 frame offsets follow the stride") {
    val rows = multimodal.Media.m2FrameSample(spark, dir).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("frame_offset") === r.getAs[Long]("frame_no") * 256)
      assert(r.getAs[String]("frame_hash").nonEmpty)
    }
  }

  test("g9 BFS distances on a crafted graph: hop counts, undirectedness, depth bound") {
    val ss = spark
    import ss.implicits._
    // Path 1-2-3-4-5 plus a branch 2-6; edge 5->1 stored reversed to
    // exercise symmetrization. Seed {1}, maxDepth 2.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (2L, 6L), (7L, 8L))
      .toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val got = operators.GraphIter.shortestPaths(edges, seeds, maxDepth = 2)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("dist")).toMap
    // 4, 5 are at depth 3/4 (beyond bound); 7/8 unreachable.
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 6L -> 2L))
    // Undirected: seeding from the sink end reaches back.
    val rev = operators.GraphIter.shortestPaths(edges, Seq(5L).toDF("node"), maxDepth = 6)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("dist")).toMap
    assert(rev === Map(5L -> 0L, 4L -> 1L, 3L -> 2L, 2L -> 3L, 1L -> 4L, 6L -> 4L))
  }

  test("g12 k-core peel: clique survives, tails peel off round by round") {
    val ss = spark
    import ss.implicits._
    def toMapND(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("deg")).toMap
    // 4-clique {1,2,3,4} with a tail 4-5-6: at k=3 the tail peels in
    // round 1, the clique is the fixed point.
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("src", "dst")
    assert(toMapND(operators.GraphIter.kCorePeel(edges, k = 3, rounds = 2)) ===
      Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // Bounded-round semantics: a chain at k=2 loses its endpoints in
    // round 1 (middle survives with residual degree 1, below k — the
    // documented not-yet-converged output) and everything in round 2.
    val chain = Seq((10L, 11L), (11L, 12L), (12L, 13L)).toDF("src", "dst")
    assert(toMapND(operators.GraphIter.kCorePeel(chain, k = 2, rounds = 1)) ===
      Map(11L -> 1L, 12L -> 1L))
    assert(operators.GraphIter.kCorePeel(chain, k = 2, rounds = 2).collect().isEmpty)
  }

  test("d12 containment is asymmetric: the quoted doc flags, its host does not") {
    val ss = spark
    import ss.implicits._
    // Doc 1 is verbatim inside doc 2; doc 2 has plenty of its own text;
    // doc 3 is unrelated. Every 5-gram of doc 1 appears in doc 2, so
    // containment(1→2) = 1.0; containment(2→1) is far below 0.8.
    val quoted = "the quick brown fox jumps over the lazy dog"
    val host = s"opening words before the quote $quoted and a long commentary tail follows here"
    val docs = Seq((1L, quoted), (2L, host), (3L, "completely different content zone"))
      .toDF("doc_id", "text")
    val got = dedup.Dedup.containmentPairs(docs, 800000L, 64L).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Long]("containment_micro")).toMap
    assert(got.keySet === Set((1L, 2L)))
    assert(got((1L, 2L)) === 1000000L)
    // Stop-gram cutoff: with dfCutoff = 1 every shared gram (df = 2) is
    // dropped, so no pair survives — the fan-out bound is real.
    assert(dedup.Dedup.containmentPairs(docs, 800000L, 1L).collect().isEmpty)
  }

  test("g13 node similarity: Jaccard values, symmetry, and the hub cutoff") {
    val ss = spark
    import ss.implicits._
    // s1~{c1,c2,c3}, s2~{c2,c3,c4}, s3~{c1}: J(s1,s2)=2/4, J(s1,s3)=1/3,
    // s2/s3 share nothing.
    val edges = Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 2L), (2L, 3L),
      (2L, 4L), (3L, 1L)).toDF("s", "c")
    val got = operators.GraphOps.nodeSimilarity(edges, k = 5, hubCutoff = 50)
      .collect()
      .map(r => (r.getAs[Long]("node"), r.getAs[Long]("neighbor")) ->
        (r.getAs[Long]("common"), r.getAs[Long]("jaccard_micro"))).toMap
    assert(got === Map(
      (1L, 2L) -> (2L, 500000L), (2L, 1L) -> (2L, 500000L),
      (1L, 3L) -> (1L, 333333L), (3L, 1L) -> (1L, 333333L)))
    // Hub cutoff: a customer shared by all three suppliers is dropped
    // from pair generation at cutoff 2 (its fan-out is 3), but still
    // counts in every degree denominator.
    val withHub = edges.union(Seq((1L, 9L), (2L, 9L), (3L, 9L)).toDF("s", "c"))
    val cut = operators.GraphOps.nodeSimilarity(withHub, k = 5, hubCutoff = 2)
      .collect()
      .map(r => (r.getAs[Long]("node"), r.getAs[Long]("neighbor")) ->
        (r.getAs[Long]("common"), r.getAs[Long]("jaccard_micro"))).toMap
    // Degrees grow by one (the hub edge) but common counts exclude c9:
    // J(s1,s2)=2/(4+4-2), J(s1,s3)=1/(4+2-1).
    assert(cut === Map(
      (1L, 2L) -> (2L, 333333L), (2L, 1L) -> (2L, 333333L),
      (1L, 3L) -> (1L, 200000L), (3L, 1L) -> (1L, 200000L)))
  }

  test("g20 link prediction: RA values, symmetry, and the bounded hub-cutoff trade") {
    val ss = spark
    import ss.implicits._
    // s1~{c1,c2,c3}, s2~{c2,c3,c4}, s3~{c1}. Customer degrees: c1→2,
    // c2→2, c3→2, c4→1. RA(s1,s2) = 1/2 + 1/2 over shared {c2,c3};
    // RA(s1,s3) = 1/2 over shared {c1}.
    val edges = Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 2L), (2L, 3L),
      (2L, 4L), (3L, 1L)).toDF("s", "c")
    val got = operators.GraphOps.linkPrediction(edges, k = 5, hubCutoff = 50)
      .collect()
      .map(r => (r.getAs[Long]("node"), r.getAs[Long]("neighbor")) ->
        (r.getAs[Long]("common"), r.getAs[Long]("ra_nano"))).toMap
    assert(got === Map(
      (1L, 2L) -> (2L, 1000000000L), (2L, 1L) -> (2L, 1000000000L),
      (1L, 3L) -> (1L, 500000000L), (3L, 1L) -> (1L, 500000000L)))
    // Hub cutoff: a customer shared by all three suppliers (degree 3 >
    // cutoff 2) is dropped from pair generation; surviving contributions
    // are unchanged (degrees of the remaining shared customers don't
    // move), and each DROPPED term was bounded by 1e9/(cutoff+1).
    val withHub = edges.union(Seq((1L, 9L), (2L, 9L), (3L, 9L)).toDF("s", "c"))
    val cut = operators.GraphOps.linkPrediction(withHub, k = 5, hubCutoff = 2)
      .collect()
      .map(r => (r.getAs[Long]("node"), r.getAs[Long]("neighbor")) ->
        (r.getAs[Long]("common"), r.getAs[Long]("ra_nano"))).toMap
    assert(cut === got, "non-hub contributions must be untouched by the cutoff")
    val full = operators.GraphOps.linkPrediction(withHub, k = 5, hubCutoff = 50)
      .collect()
      .map(r => (r.getAs[Long]("node"), r.getAs[Long]("neighbor")) ->
        r.getAs[Long]("ra_nano")).toMap
    // Uncut, the hub adds exactly 1e9 DIV 3 to every pair — and that per-
    // pair delta is <= 1e9/(cutoff+1), the documented bounded-error trade.
    full.foreach { case (pair, ra) =>
      val delta = ra - cut.get(pair).map(_._2).getOrElse(0L)
      assert(delta === 333333333L, s"pair $pair hub contribution")
      assert(delta <= 1000000000L / (2 + 1))
    }
  }

  test("g13/g20 pair stage: in-row generator ≡ self-equijoin formulation") {
    val ss = spark
    import ss.implicits._
    // The r16 sf10 A/B kept the self-equijoin formulation (the in-row
    // sorted-array generator measured ~1.8x slower despite emitting d-times
    // fewer rows — see nodeSimilarityPairs); this spec pins the production
    // join builders against that independent generator formulation on a
    // crafted bipartite graph whose customers span the whole degree range —
    // below, AT, and above the cutoff (the boundary case the cutoff
    // filter must keep) — so the equivalence survives whichever side of
    // the trade a future re-measurement takes.
    val edges = (for {
      c <- 0 until 40
      k <- 0 to (c % 9)
    } yield (((c * 3 + k * 5) % 30).toLong, c.toLong))
      .distinct.toDF("s", "c").localCheckpoint(true)
    val cdeg = edges.groupBy("c").agg(count(lit(1)).as("cd"))
    val degs = cdeg.select("cd").collect().map(_.getLong(0))
    val cutoff = degs.sorted.apply(degs.length / 2).toInt
    assert(degs.exists(_ == cutoff.toLong) && degs.exists(_ > cutoff),
      "crafted graph must exercise the at-cutoff and above-cutoff branches")
    // Reference: the in-row generator formulation — sorted member array,
    // upper-triangle expansion (within a customer the s values are
    // distinct, so this is exactly the s1 < s2 join output, once each).
    val pruned = edges.join(cdeg.filter(col("cd") <= cutoff), Seq("c"))
    val generatorPairs = pruned
      .groupBy("c", "cd").agg(sort_array(collect_list(col("s"))).as("ss"))
      .select(col("cd"), explode(expr(
        "flatten(transform(ss, (x, i) -> " +
          "transform(slice(ss, i + 2, size(ss)), y -> struct(x AS s1, y AS s2))))")).as("p"))
      .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
      .agg(sum(expr("CAST(1000000000 AS BIGINT) DIV cd")).as("ra_nano"),
        count(lit(1)).as("common"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val prodPairs = operators.GraphOps.linkPredictionPairs(edges, cutoff)
      .collect()
      .map(r => (r.getAs[Long]("s1"), r.getAs[Long]("s2")) ->
        (r.getAs[Long]("ra_nano"), r.getAs[Long]("common"))).toMap
    assert(prodPairs === generatorPairs)
    assert(prodPairs.nonEmpty)
    val simPairs = operators.GraphOps.nodeSimilarityPairs(edges, cutoff)
      .collect()
      .map(r => (r.getAs[Long]("s1"), r.getAs[Long]("s2")) ->
        r.getAs[Long]("common")).toMap
    assert(simPairs === generatorPairs.map { case (k, v) => k -> v._2 })
  }

  test("g13/g20 via the shared wedge substrate ≡ the standalone formulations") {
    // r17: g13 and g20 consume ONE memoized pair stage (wedgeSubstrate);
    // this spec pins both keys' full outputs against the pre-substrate
    // standalone pipelines (own pair stage, own degree pass) on real
    // parquet inputs, and checks the memo actually memoizes (same
    // instance on a second call) so the bench's setup-entry accounting
    // stays truthful.
    val sfDir = "/root/testdata/sf0.01"
    val edges = operators.GraphOps.purchaseEdges(spark, sfDir).localCheckpoint(true)
    val k = 5
    val cutoff = operators.GraphOps.defaultHubCutoff
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("node"), r.getAs[Long]("rank")) -> r.toSeq).toMap
    val g13Standalone = keyed(operators.GraphOps.nodeSimilarity(edges, k, cutoff))
    val g20Standalone = keyed(operators.GraphOps.linkPrediction(edges, k, cutoff))
    val g13Sub = keyed(operators.GraphOps.g13NodeSimilarity(spark, sfDir, k))
    val g20Sub = keyed(operators.GraphOps.g20LinkPrediction(spark, sfDir, k))
    assert(g13Sub.nonEmpty && g20Sub.nonEmpty)
    assert(g13Sub === g13Standalone)
    assert(g20Sub === g20Standalone)
    val (p1, d1) = operators.GraphOps.wedgeSubstrate(spark, sfDir)
    val (p2, d2) = operators.GraphOps.wedgeSubstrate(spark, sfDir)
    assert((p1 eq p2) && (d1 eq d2), "substrate must be memoized per (app, dir, cutoff)")
    edges.unpersist()
  }

  test("t27 attrition: every stage fires on a crafted corpus, counts hand-computed") {
    val ss = spark
    import ss.implicits._
    def passage(stem: String): String =
      "the and of " + (1 to 40).map(i => s"$stem$i").mkString(" ")
    val p = passage("alpha")
    val docs = Seq(
      1L -> p,                        // kept
      2L -> p,                        // exact duplicate of 1 → stage 2
      3L -> (p + " omega1 omega2"),   // ≥0.8 5-gram near-dup of 1 → stage 3
      4L -> "tiny",                   // fails the length gate → stage 1
      5L -> passage("beta"),          // kept
      6L -> passage("gamma"),         // byte-equal to the benchmark → stage 4
      97L -> passage("gamma")         // % 97 == 0: the held-out benchmark slice
    ).toDF("doc_id", "text")
    val got = functions.CurationPipeline.pipelineReport(docs).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === Map(
      (1L, "quality") -> 1L,        // doc 4
      (2L, "exact_dup") -> 1L,      // doc 2 (min-id 1 survives)
      (3L, "near_dup") -> 1L,       // doc 3 (similar to surviving doc 1)
      (4L, "contaminated") -> 1L,   // doc 6 (shares every 7-gram with doc 97)
      (5L, "kept") -> 2L))          // docs 1 and 5; doc 97 is not corpus
  }

  test("t29 split leakage: crafted pairs recounted by hand, same-split pairs excluded") {
    val ss = spark
    import ss.implicits._
    // 60 docs whose splits we read back rather than engineer: the spec
    // pins the REPORT (labeling joins, early/late canonicalization, the
    // distinct late-doc count), so the pair list is chosen from the
    // observed split map instead of hunting md5 preimages.
    val docs = (0L until 60L).map(i => (i, s"document body number $i")).toDF("doc_id", "text")
    val split = TextFuncs.hashSplitCore(docs).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val byS = split.groupBy(_._2).view.mapValues(_.keys.toSeq.sorted).toMap
    assert(Seq("train", "val", "test").forall(s => byS.get(s).exists(_.size >= 2)),
      s"crafted corpus must populate all three splits: ${byS.view.mapValues(_.size).toMap}")
    val (tr, va, te) = (byS("train"), byS("val"), byS("test"))
    val pairs = Seq(
      (tr(0), va(0)),  // train→val, train-side id first
      (va(1), tr(1)),  // train→val with the VAL doc as doc_id1 — rank canonicalization
      (tr(0), te(0)),  // train→test
      (te(0), tr(1)),  // second pair leaking onto the SAME test doc → distinct < pairs
      (va(0), te(1)),  // val→test
      (tr(0), tr(1))   // same-split: must not appear in the report
    ).toDF("doc_id1", "doc_id2")
    // A pinned pair frame (its row count bounds the second labeling join)
    // and a projected one (no known count: the planner routes it) agree.
    for (pairFrame <- Seq(Superstep.pin(pairs), pairs.select("doc_id1", "doc_id2"))) {
      val got = functions.CurationPipeline.splitLeakageReport(docs, pairFrame).collect()
        .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
      assert(got === Map(
        ("train", "val") -> (2L, 2L),
        ("train", "test") -> (2L, 1L),  // both pairs hit te(0): one leaked doc
        ("val", "test") -> (1L, 1L)))
    }
  }

  test("d18 winnowing: the w+k-1 guarantee holds, shorter overlaps stay sparse") {
    val ss = spark
    import ss.implicits._
    def words(stem: String, n: Int): Seq[String] = (1 to n).map(i => s"$stem$i")
    val shared11 = words("common", 11)   // == w + k - 1: MUST be caught
    val shared7 = words("run", 7)        // < k = 8: no shared gram at all
    val docs = Seq(
      (1L, (words("alpha", 20) ++ shared11 ++ words("beta", 20)).mkString(" ")),
      (2L, (words("gamma", 20) ++ shared11 ++ words("delta", 20)).mkString(" ")),
      (3L, (words("eps", 20) ++ shared7 ++ words("zeta", 20)).mkString(" ")),
      (4L, (words("eta", 20) ++ shared7 ++ words("theta", 20)).mkString(" "))
    ).toDF("doc_id", "text")
    val pairs = dedup.Dedup.winnowPairsOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.contains((1L, 2L)),
      s"an 11-token shared run must yield a shared fingerprint: $pairs")
    assert(!pairs.keySet.exists(p => p._1 >= 3L || p._2 >= 3L),
      s"a 7-token run shares no 8-gram, so no fingerprint can match: $pairs")
    // Density: the selected set is genuinely sparse vs the d14-style
    // every-gram index (expected ~2/(w+1) = 40% of positions).
    val fpCount = docs.select(col("doc_id"), split(col("text"), "\\s+").as("wd"))
      .select(expr(
        """size(array_distinct(transform(sequence(1, size(wd) - 10),
          |  j -> array_min(slice(transform(sequence(1, size(wd) - 7),
          |    i -> CAST(conv(substring(md5(array_join(slice(wd, i, 8), ' ')), 1, 15), 16, 10) AS BIGINT)),
          |  j, 4)))))""".stripMargin).as("n_fp"),
        (size(col("wd")) - 7).as("n_grams"))
      .agg(sum("n_fp"), sum("n_grams")).head()
    assert(fpCount.getLong(0) * 2 < fpCount.getLong(1),
      s"winnowed index must be <50% of the gram index: $fpCount")
  }

  test("g21 temporal reach: pre-arrival edges never relay, foremost arrival is the min path") {
    val ss = spark
    import ss.implicits._
    // Seed c1 (arrival 0). Supplier sA=100 first ships to c1 on day 10.
    // c2's only contact with sA was day 5 — BEFORE the taint reached sA —
    // so c2 must stay clean even though static reachability connects it.
    // c3 buys from sA on day 12 (reached at 12) AND from sB (tainted via
    // c1 at day 20) on day 25 — foremost keeps 12. c4's day-18 contact
    // with sA relays (18 >= 10).
    val edges = Seq(
      (1L, 100L, 10L), (2L, 100L, 5L), (3L, 100L, 12L), (4L, 100L, 18L),
      (1L, 200L, 20L), (3L, 200L, 25L)
    ).toDF("c", "s", "d")
    val seeds = Seq((1L, 0L)).toDF("c", "arr")
    val got = operators.GraphIter.temporalReachCore(edges, seeds).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === Map(
      ("customer", 1L) -> 0L,
      ("customer", 3L) -> 12L,
      ("customer", 4L) -> 18L,
      ("supplier", 100L) -> 10L,
      ("supplier", 200L) -> 20L))
    assert(!got.contains(("customer", 2L)),
      "a contact BEFORE the supplier's arrival must not relay the taint")
  }

  test("g22 weighted paths: min-cost routes around hop-shorter paths, rounds bound the walk") {
    val ss = spark
    import ss.implicits._
    // Direct 1→2 costs 10; the two-hop detour 1→3→2 costs 3. A chain
    // 1→4→5→6 (1 each) beats the direct w=100 edge. Node 7 is isolated.
    val edges = Seq(
      (1L, 2L, 10L), (1L, 3L, 1L), (3L, 2L, 2L),
      (1L, 4L, 1L), (4L, 5L, 1L), (5L, 6L, 1L), (1L, 6L, 100L)
    ).toDF("src", "dst", "w")
    val seeds = Seq(Tuple1(1L)).toDF("node")
    def run(rounds: Int): Map[Long, Long] =
      operators.GraphIter.weightedShortestPaths(edges, seeds, rounds).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = run(6)
    assert(full === Map(1L -> 0L, 2L -> 3L, 3L -> 1L, 4L -> 1L, 5L -> 2L, 6L -> 3L))
    assert(!full.contains(7L), "an unreachable node must be absent, not zero/∞")
    // Bounded-round semantics pinned: with 1 round only single edges
    // count (node 2 at its direct weight 10); with 2 the detour wins.
    assert(run(1) === Map(1L -> 0L, 2L -> 10L, 3L -> 1L, 4L -> 1L, 6L -> 100L))
    // Round 2: the detour to 2 lands (1→3→2 = 3); node 6 still only has
    // its direct w=100 edge (the 3-edge chain needs round 3).
    assert(run(2)(2L) === 3L && run(2)(5L) === 2L && run(2)(6L) === 100L)
  }

  test("g24 betweenness: hand-computed Brandes dependencies, integer fixed point pinned") {
    val ss = spark
    import ss.implicits._
    // Path with a detour: 1−2−3−4 plus 1−5−3. From pivot 1 (depth 3):
    // σ: 2→1, 5→1, 3→2, 4→2. δ(3) = σ3·1e6 DIV σ4 = 1e6;
    // δ(2) = δ(5) = 1·(1e6+δ3) DIV σ3 = 1e6. Node 4 (leaf) and the
    // pivot itself carry no dependency.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 5L), (5L, 3L)).toDF("src", "dst")
    val got = operators.GraphIter
      .betweennessCore(edges, Seq(Tuple1(1L)).toDF("lm"), maxDepth = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(2L -> 1000000L, 3L -> 1000000L, 5L -> 1000000L), s"got $got")
    // Truncation semantics pinned: three depth-1 branches converge on 9
    // (σ9 = 3), which alone reaches 10. δ(9) = 3·1e6 DIV 3 = 1e6; each
    // branch gets δ = 1·(1e6 + 1e6) DIV 3 = 666666 — the fixed-point
    // floor both engines must take identically.
    val tri = Seq((1L, 2L), (1L, 7L), (1L, 8L), (2L, 9L), (7L, 9L), (8L, 9L), (9L, 10L))
      .toDF("src", "dst")
    val got2 = operators.GraphIter
      .betweennessCore(tri, Seq(Tuple1(1L)).toDF("lm"), maxDepth = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 === Map(2L -> 666666L, 7L -> 666666L, 8L -> 666666L, 9L -> 1000000L),
      s"got $got2")
    // A frontier that dies before maxDepth: path 1−2−3 from pivot 1 keeps
    // layers {2} and {3}, and layer 3 is empty at maxDepth 3. δ(2) =
    // σ2·1e6 DIV σ3 = 1e6; the leaf 3 carries none.
    val short = operators.GraphIter
      .betweennessCore(Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"), Seq(Tuple1(1L)).toDF("lm"), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(short === Map(2L -> 1000000L), s"got $short")
    // No layer past depth 1 (a star's centre) or none past the pivot (a
    // pivot with no neighbours): no dependency anywhere.
    val star = Seq((1L, 2L), (1L, 3L)).toDF("src", "dst")
    assert(operators.GraphIter.betweennessCore(star, Seq(Tuple1(1L)).toDF("lm"), 3).isEmpty)
    val lone = operators.GraphIter.betweennessCore(edges, Seq(Tuple1(42L)).toDF("lm"), maxDepth = 3)
    assert(lone.columns.toSeq === Seq("node", "bc_micro"))
    assert(lone.isEmpty)
  }

  test("g25 random walks: hand-computed mixer choices, isolated seeds stop at step 0") {
    val ss = spark
    import ss.implicits._
    // Adjacency (dst-ordered): 1→[2,3,4] deg 3, 2→[1,3] deg 2,
    // 3→[1,2] deg 2, 4→[1] deg 1. mix(w,t,u) = w·31 + t·7 + u·13 (all
    // operands < 1048573 here, so the mod-reduction is the identity).
    // Walker 10 from node 1: t1 330%3=0→2, t2 350%2=0→1, t3 344%3=2→4.
    // Walker 11 from node 4: t1 400%1=0→1, t2 368%3=2→4, t3 414%1=0→1.
    // Walker 99 seeds an isolated node: step-0 row only, walk stops.
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L)).toDF("src", "dst")
    val seeds = Seq((10L, 1L), (11L, 4L), (99L, 99L)).toDF("walker", "node")
    val got = operators.GraphIter.randomWalks(edges, seeds, steps = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set(
      (10L, 0L, 1L), (10L, 1L, 2L), (10L, 2L, 1L), (10L, 3L, 4L),
      (11L, 0L, 4L), (11L, 1L, 1L), (11L, 2L, 4L), (11L, 3L, 1L),
      (99L, 0L, 99L)), s"got $got")
  }

  test("g26 biased walks: hand-computed p/q weighting, return penalty steers the pick") {
    val ss = spark
    import ss.implicits._
    // Triangle 1-2-3 plus pendant 2-4; weights (ret, common, far) =
    // (1, 4, 2). Walker 5 from 1: t1 v=1 prev=1, cands [2,3] both
    // common (4,4), r=175%8=7 → 3; t2 v=3 prev=1, cands [1(ret:1),
    // 2(common:4)], r=208%5=3 → 2. Walker 6 from 4: t1 → 2 (only
    // neighbor); t2 v=2 prev=4, cands [1(far:2), 3(far:2), 4(ret:1)],
    // r=226%5=1 → 1 (exploration beats the penalized return).
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 4L)).toDF("src", "dst")
    val seeds = Seq((5L, 1L), (6L, 4L)).toDF("walker", "node")
    val got = operators.GraphIter.biasedWalks(edges, seeds, steps = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set(
      (5L, 0L, 1L), (5L, 1L, 3L), (5L, 2L, 2L),
      (6L, 0L, 4L), (6L, 1L, 2L), (6L, 2L, 1L)), s"got $got")
    // The p-lever is live: making return nearly free (wReturn = 100)
    // flips walker 6's second hop back to 4 (cum window: 1→2, 3→4,
    // 4→104; r = 226 % 104 = 18 → the return candidate).
    val sticky = operators.GraphIter
      .biasedWalks(edges, seeds, steps = 2, wReturn = 100L, wCommon = 4L, wFar = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(sticky.contains((6L, 2L, 4L)), s"got $sticky")
  }

  test("relaxParts: reduce width derives from the measured edge count") {
    // The sf10 shape that OOMed at the 32-partition default: 117M
    // relaxation candidates → 112 reduce tasks (~1M rows each).
    assert(operators.GraphIter.relaxParts(117000000L, 32) === 112)
    // Small graphs keep the session default (zero overhead)...
    assert(operators.GraphIter.relaxParts(1000L, 32) === 32)
    assert(operators.GraphIter.relaxParts(0L, 32) === 32)
    // ...and the width is capped (task count, not per-task size, is the
    // limit past 4096).
    assert(operators.GraphIter.relaxParts(1L << 40, 32) === 4096)
    // The derived width never goes below a larger session default.
    assert(operators.GraphIter.relaxParts(1000L, 256) === 256)
  }

  test("t31 BPE training: pinned merge sequence, overlap-safe greedy, early stop") {
    val ss = spark
    import ss.implicits._
    // vocab {abab×2, aab×1}: r1 pairs (a,b)=5 (2 occurrences × freq 2
    // + 1), (b,a)=2, (a,a)=1 → merge (a,b); r2 (ab,ab)=2 beats
    // (a,ab)=1 → merge (ab,ab); r3 only (a,ab)=1. Round 4 has no
    // pairs left — the trainer stops at 3 rows.
    val vocab = Seq(("abab", 2L), ("aab", 1L)).toDF("word", "freq")
    val got = functions.Bpe.trainMerges(vocab, rounds = 4).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq === Seq(
      (1, "a", "b", 5L), (2, "ab", "ab", 2L), (3, "a", "ab", 1L)),
      s"merge table must match the hand-derived sequence: ${got.toSeq}")
    // Overlap greediness: "aaa" with best (a,a) — count 2 (overlapping
    // occurrences counted), but the merge is LEFT-TO-RIGHT non-overlap:
    // positions 1-2 merge, 3 survives → round 2 merges (aa, a).
    val tri = Seq(("aaa", 1L)).toDF("word", "freq")
    val got2 = functions.Bpe.trainMerges(tri, rounds = 3).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got2.toSeq === Seq((1, "a", "a", 2L), (2, "aa", "a", 1L)),
      s"overlap run must merge greedily left-to-right: ${got2.toSeq}")
  }

  test("g29 SCC: general directed graph — nested cycles, cross-SCC edges, DAG singletons") {
    val ss = spark
    import ss.implicits._
    // Two SCCs connected one-way ({1,2,3} → {10,11}), a node with TWO
    // out-edges inside its cycle plus an escape edge (4 ∈ {1,2,3}'s
    // SCC? no — 4 sits on a 2-cycle with 2 making {1,2,3,4} one SCC),
    // and DAG tails/sources as singletons. Hand truth:
    //   1→2, 2→3, 3→1 (ring); 2→4, 4→2 (sub-cycle) ⇒ SCC {1,2,3,4}
    //   3→10, 10→11, 11→10 ⇒ SCC {10,11} (reachable from the first,
    //   not back — stays separate)
    //   20→1 (source into the big SCC) ⇒ singleton {20}
    //   11→30 (sink off the second) ⇒ singleton {30}
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L), (2L, 4L), (4L, 2L),
      (3L, 10L), (10L, 11L), (11L, 10L),
      (20L, 1L), (11L, 30L)
    ).map { case (a, b) => (a.toString, b.toString) }.toDF("src", "dst")
    val got = operators.CycleAudit.stronglyConnected(edges).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val want = Map(
      "1" -> "1", "2" -> "1", "3" -> "1", "4" -> "1",
      "10" -> "10", "11" -> "10", "20" -> "20", "30" -> "30")
    assert(got === want, s"got $got")
    // An iteration budget too small for the condensation depth refuses
    // instead of emitting a partial labeling.
    val chain = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "d"), ("d", "c"))
      .toDF("src", "dst")
    val e = intercept[IllegalArgumentException] {
      operators.CycleAudit.stronglyConnected(chain, iterations = 1).collect()
    }
    assert(e.getMessage.contains("unsettled"))
  }

  test("g28 walk co-occurrence: hand-computed windowed pairs and exact integer lift") {
    val ss = spark
    import ss.implicits._
    // Walk 1: a b a c; walk 2: b c. Window 2 pairs — w1: (a,b) (a,a)
    // (b,a) (b,c) (a,c); w2: (b,c). Canonical counts: ab=2, aa=1, bc=2,
    // ac=1; N=6. Endpoint totals (each pair row feeds BOTH ends):
    // a=2+2+1=5, b=2+2=4, c=2+1=3. lift_micro = cnt·N·1e6/(ca·cb):
    // ab 12/20=600000, aa 6/25=240000, bc 12/12=1000000, ac 6/15=400000.
    val walks = Seq(
      (1L, 0L, "a"), (1L, 1L, "b"), (1L, 2L, "a"), (1L, 3L, "c"),
      (2L, 0L, "b"), (2L, 1L, "c")
    ).toDF("walker", "step", "node")
    val got = operators.GraphIter.walkCooccurrence(walks, window = 2).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got === Map(
      ("a", "b") -> ((2L, 600000L)),
      ("a", "a") -> ((1L, 240000L)),
      ("b", "c") -> ((2L, 1000000L)),
      ("a", "c") -> ((1L, 400000L))),
      s"windowed pairs + integer lift must match the hand computation: $got")
  }

  test("g27 cycle audit: rings found with min labels, tails and trees excluded; g8 refuses cycles") {
    val ss = spark
    import ss.implicits._
    // Ring {10,11,12}; a 2-deep tail 1→2→10 feeding it (peel must
    // remove it); a clean tree 20→21→22 (no output at all); a second
    // ring {30,31}.
    val edges = Seq(
      (10L, 11L), (11L, 12L), (12L, 10L),
      (1L, 2L), (2L, 10L),
      (20L, 21L), (21L, 22L),
      (30L, 31L), (31L, 30L)
    ).toDF("child", "parent")
    val got = operators.CycleAudit.cycleMembers(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 30L -> 30L, 31L -> 30L),
      s"exactly the ring members with ring-min labels, got $got")
    // Acyclic input: empty audit, and expandHierarchy still works.
    val acyclic = Seq((1L, 2L), (2L, 3L)).toDF("child", "parent")
    assert(operators.CycleAudit.cycleMembers(acyclic).isEmpty)
    // The closure expansion REFUSES cyclic input instead of spinning.
    val cyc = Seq(("a", "b"), ("b", "a")).toDF("child", "parent")
    val e = intercept[IllegalStateException] {
      operators.GraphOps.expandHierarchy(cyc, maxDepth = 8).collect()
    }
    assert(e.getMessage.contains("cyclic parent pointers"))
    // And acyclic expansion through the guard is unchanged.
    val ok = operators.GraphOps.expandHierarchy(
      Seq(("x", "y"), ("y", "z")).toDF("child", "parent"))
    assert(ok.count() === 3L)
  }

  test("decodePacked decodes the column it is given, not one named node") {
    val ss = spark
    import ss.implicits._
    val got = Seq((6L, 0L), (7L, 1L)).toDF("walker", "node")
      .select(operators.GraphIter.decodePacked(col("walker"))).as[String].collect().toSeq
    assert(got === Seq("c_3", "s_3"))
  }

  test("walks refuse a walker id seeded on two nodes (merged-window hazard)") {
    val ss = spark
    import ss.implicits._
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val badSeeds = Seq((7L, 1L), (7L, 3L)).toDF("walker", "node")
    val e1 = intercept[IllegalArgumentException] {
      operators.GraphIter.randomWalks(edges, badSeeds, steps = 1).collect()
    }
    assert(e1.getMessage.contains("exactly one node"))
    val e2 = intercept[IllegalArgumentException] {
      operators.GraphIter.biasedWalks(edges, badSeeds, steps = 1).collect()
    }
    assert(e2.getMessage.contains("exactly one node"))
  }

  test("g23 louvain: two triangles joined by a bridge split into the modularity communities") {
    val ss = spark
    import ss.implicits._
    // The canonical modularity fixture: triangles {1,2,3} and {4,5,6}
    // joined by one bridge 3–4. The modularity optimum is the two
    // triangles (merging across the bridge loses; singletons lose);
    // any community scheme that can't find it isn't doing modularity.
    val e0 = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
      .map { case (a, b) => (a, b, 1L) }
    val sym = (e0 ++ e0.map { case (a, b, w) => (b, a, w) }).toDF("src", "dst", "w")
    val got = operators.Louvain.louvain(sym).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 4L),
      s"expected the two-triangle split with min-member labels, got $got")
    // Modularity metric (integer micro-units) certifies the split IS the
    // optimum among the natural alternatives — hand-computed: the
    // two-triangle split scores 2·(6/14 − (7/14)²) = 0.357142; one
    // all-in community scores exactly 0; singletons score −Σd²/(2m)² =
    // −34/196 = −0.173469 (micro floors per community term).
    def q(lab: Map[Long, Long]): Long = operators.Louvain.modularityMicro(
      sym, lab.toSeq.toDF("node", "com"))
    val found = q(got)
    assert(found === 357142L, s"Q(two triangles) = $found")
    assert(q((1L to 6L).map(_ -> 1L).toMap) === 0L)
    assert(q((1L to 6L).map(n => n -> n).toMap) === -173468L)
  }

  test("community stats: conductance pinned on the fixture; Louvain's modularity tops CC and LPA") {
    val ss = spark
    import ss.implicits._
    val e0 = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
      .map { case (a, b) => (a, b, 1L) }
    val sym = (e0 ++ e0.map { case (a, b, w) => (b, a, w) }).toDF("src", "dst", "w")
    val louv = operators.Louvain.louvain(sym)
      .select(col("node"), col("community").as("com"))
    // Per-community stats, hand-computed: each triangle has 3 nodes,
    // volume 7 (the bridge endpoint carries degree 3+1), internal
    // symmetric weight 6, cut 1, conductance 1/min(7, 14−7) = 142857µ.
    val stats = operators.Louvain.communityStats(sym, louv).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(stats === Map(
      1L -> ((3L, 7L, 6L, 1L, 142857L)),
      4L -> ((3L, 7L, 6L, 1L, 142857L))), s"got $stats")
    // Certify the three community labelings comparably on the shared
    // fixture: CC sees ONE component (Q = 0), LPA's min-seeded labels
    // also cannot beat the modularity optimum — Louvain ≥ both.
    val edges = e0.map { case (a, b, _) => (a, b) }.toDF("src", "dst")
    val cc = operators.GraphIter.connectedComponents(edges)
      .select(col("node"), col("label").as("com"))
    val lpa = operators.GraphIter.labelPropagation(edges)
      .select(col("node"), col("label").as("com"))
    def q(lab: org.apache.spark.sql.DataFrame): Long =
      operators.Louvain.modularityMicro(sym, lab)
    val (qL, qC, qP) = (q(louv), q(cc), q(lpa))
    assert(qL === 357142L)
    assert(qL >= qC && qL >= qP,
      s"Louvain must not lose to CC/LPA on its own objective: $qL vs $qC / $qP")
    assert(qC === 0L, "one connected component scores exactly zero modularity")
  }

  test("louvainStats: the contraction-folded stats equal the from-scratch communityStats") {
    val ss = spark
    import ss.implicits._
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    // Two shapes: the canonical two-triangle fixture (two communities,
    // symmetric) and the star+triangle skew fixture (a mega community
    // plus a cold one, weights non-uniform) — the folded path must be
    // VALUE-identical to communityStats over louvain's labels on both,
    // because weight sums are associative over the contraction.
    val fixtures = Seq(
      Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 1L), (4L, 5L, 1L), (5L, 6L, 1L),
        (4L, 6L, 1L), (3L, 4L, 1L)),
      (2L to 31L).map(s => (1L, s, 1L + s % 3)) ++
        Seq((200L, 201L, 5L), (201L, 202L, 2L), (200L, 202L, 7L)))
    for (e0 <- fixtures) {
      val sym = (e0 ++ e0.map { case (a, b, w) => (b, a, w) }).toDF("src", "dst", "w")
      val folded = operators.Louvain.louvainStats(sym).collect().map(key).toSet
      val scratch = operators.Louvain.communityStats(
        sym, operators.Louvain.louvain(sym).select(col("node"), col("community").as("com")))
        .select(col("com"), col("n_nodes"), col("vol"), col("in_sym"),
          col("cut"), col("conductance_micro"))
        .collect().map(key).toSet
      assert(folded === scratch, s"folded stats diverged from from-scratch on $e0")
      assert(folded.nonEmpty)
    }
  }

  test("g23 louvain skew: AQE splits the hot community on both comdeg joins, labels unchanged") {
    val ss = spark
    import ss.implicits._
    import org.apache.spark.sql.execution.SparkPlanInfo
    // The skew shape Louvain converges TOWARD: a star (hub 1, 2000
    // spokes) consolidates into one mega community, whose id becomes the
    // hot key of both per-round comdeg joins; the triangle keeps a second
    // community alive so the joins have cold keys too.
    val e0 = (2L to 2001L).map(s => (1L, s, 1L)) ++
      Seq((3000L, 3001L, 1L), (3001L, 3002L, 1L), (3000L, 3002L, 1L))
    val sym = (e0 ++ e0.map { case (a, b, w) => (b, a, w) })
      .toDF("src", "dst", "w")
    def labels(): Map[Long, Long] =
      operators.Louvain.louvain(sym).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val plain = labels()
    // Skew thresholds a few kB of shuffle cross, over 8 partitions that
    // AQE does not coalesce: the hub community's partition is skewed.
    var split = Map.empty[Long, Long]
    val plans = TestConf.spreadState(spark) {
      TestConf.withConf(spark,
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2") {
        adaptivePlansDuring { split = labels() }
      }
    }
    def nodes(p: SparkPlanInfo): Seq[SparkPlanInfo] = p +: p.children.flatMap(nodes)
    // The join key of every skew-split sort-merge join that reads comdeg
    // (its `cd` column).
    val splitKeys = plans.flatMap(nodes)
      .filter(j => j.nodeName == "SortMergeJoin(skew=true)" &&
        nodes(j).exists(_.simpleString.contains("cd#")))
      .flatMap(j => "\\[(\\w+)#".r.findFirstMatchIn(j.simpleString).map(_.group(1)))
      .toSet
    assert(Set("c", "com").subsetOf(splitKeys),
      s"skew-split comdeg joins on $splitKeys over ${plans.size} adaptive plans")
    assert(split === plain, "the skew split must not change the labels")
    assert((2L to 2001L).forall(plain(_) == plain(1L)), "the hub's community holds the star")
    assert(plain(3000L) === plain(3001L) && plain(3001L) === plain(3002L) &&
      plain(3000L) != plain(1L), "triangle stays its own community")
  }

  test("minRelaxTraverse: per-hop edge predicates express a Cypher MATCH no fixed shape covers") {
    val ss = spark
    import ss.implicits._
    // MATCH (a)-[:A]->(x)-[:B]->(b): hop 1 may only cross label-A edges,
    // hop 2 only label-B — per-round refusal via a NULL relax. 1-[B]->4
    // must not be entered on hop 1 even though it exists; 2-[A]->5 must
    // not be entered on hop 2.
    val edges = Seq(
      (1L, 2L, "A"), (2L, 3L, "B"), (1L, 4L, "B"), (2L, 5L, "A")
    ).toDF("src", "dst", "lbl")
    val init = Seq((1L, 0L)).toDF("node", "state")
    val got = operators.GraphIter.minRelaxTraverse(edges, init, maxRounds = 2)(
      (s, r) => when(col("lbl") === (if (r == 1) "A" else "B"), s + 1))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 2L),
      s"per-hop predicates must gate each round's edge set, got $got")
  }

  test("q25 grouping sets: Expand fans out exactly the requested marginals") {
    val q25 = operators.Relational.q25GroupingSets(spark, dir)
    val expand = q25.queryExecution.optimizedPlan.collect {
      case e: org.apache.spark.sql.catalyst.plans.logical.Expand => e
    }
    assert(expand.length === 1, "grouping sets must plan as one Expand")
    assert(expand.head.projections.length === 3,
      s"3 requested sets -> 3 Expand projections, got ${expand.head.projections.length}")
    val cube = operators.Relational.q11Cube(spark, dir)
    val cubeExpand = cube.queryExecution.optimizedPlan.collect {
      case e: org.apache.spark.sql.catalyst.plans.logical.Expand => e
    }
    assert(cubeExpand.head.projections.length === 4,
      "CUBE over 2 columns pays 4 projections — the marginal q25 prunes")
    // The shared marginals agree with CUBE's.
    val gs = q25.collect().map(r => (r.getString(0), r.getString(1)) ->
      (r.getLong(2), r.getDouble(3))).toMap
    val cb = cube.collect().map(r => (r.getString(0), r.getString(1)) ->
      (r.getLong(2), r.getDouble(3))).toMap
    gs.foreach { case (k, v) => assert(cb(k) === v, s"marginal $k") }
    assert(cb.keySet.diff(gs.keySet).forall(_._1 == "ALL"),
      "cube's extra rows are exactly the (status)-only marginal q25 skipped")
  }

  test("m12 frame near-dup: shared stride-aligned frames pair, intra-media repeats don't") {
    val ss = spark
    import ss.implicits._
    val rnd = new scala.util.Random(7)
    def bytes(n: Int) = { val a = new Array[Byte](n); rnd.nextBytes(a); a }
    val shared = bytes(64)
    // media 1 carries the shared frame TWICE (offsets 0 and 256 — an
    // intra-media repeat that must NOT pair); media 2 carries it once at
    // the stride-aligned offset 512; media 3 is unrelated noise.
    val m1 = shared ++ bytes(192) ++ shared ++ bytes(192)
    val m2 = bytes(512) ++ shared ++ bytes(192)
    val m3 = bytes(768)
    val media = Seq((1L, m1), (2L, m2), (3L, m3)).toDF("doc_id", "payload")
    val got = multimodal.Media.frameNearDupOf(media).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    // Both of media 1's copies match media 2's frame 2 exactly; random
    // 64-byte frames sit ~30 bits apart, far outside the ≤6 verify.
    assert(got === Set((1L, 0L, 2L, 2L, 0L), (1L, 1L, 2L, 2L, 0L)),
      s"expected exactly the two cross-media shared-frame pairs: $got")
  }

  test("winnow kernel is bit-identical to the HOF reference formulation") {
    val ss = spark
    import ss.implicits._
    val corpus = Tables(spark, dir).documents.select("doc_id", "text")
      .unionByName(Seq(
        (9001L, ""),                             // empty
        (9002L, "   "),                          // whitespace only (edge tokens)
        (9003L, (1 to 10).map("w" + _).mkString(" ")),  // one token short of k+w-1
        (9004L, (1 to 11).map("w" + _).mkString(" ")),  // exactly the guarantee length
        (9005L, " leading and trailing space " + (1 to 12).mkString(" ") + " ")
      ).toDF("doc_id", "text"))
    val native = corpus.select(col("doc_id"),
      org.apache.spark.sql.graft.VectorExpressions.winnowCodes(col("text")).as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val hof = dedup.Dedup.winnowFingerprintsHof(corpus)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(native.keySet === hof.keySet)
    native.foreach { case (id, v) =>
      assert(v === hof(id), s"kernel/HOF divergence on doc $id")
    }
    assert(native(9003L).isEmpty && native(9004L).size === 1,
      "the k+w-1 boundary: 10 tokens select nothing, 11 exactly one window")
  }

  test("t14 repetition stats are internally consistent") {
    val rows = functions.TextFuncs.t14Repetition(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_words")
      val nd = r.getAs[Long]("n_distinct_words")
      val top = r.getAs[Long]("top_word_count")
      assert(n >= 1 && nd >= 1 && nd <= n)
      assert(top >= 1 && top <= n - nd + 1)
      assert(r.getAs[Long]("dup_word_ratio_micro") === (n - nd) * 1000000L / n)
      assert(r.getAs[Long]("top_share_micro") === top * 1000000L / n)
      val flag = r.getAs[Int]("repetition_flag")
      val expect = top * 1000000L / n >= 100000L || (n - nd) * 1000000L / n >= 600000L
      assert(flag === (if (expect) 1 else 0))
    }
  }

  test("t20 tfidf top-terms: scoring formula, ranking, and per-doc cap hold") {
    val nDocs = Tables(spark, dir).documents.count()
    val rows = functions.TextFuncs.t20TfidfTerms(spark, dir).collect()
    assert(rows.nonEmpty)
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    byDoc.values.foreach { docRows =>
      val sorted = docRows.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq == (1L to sorted.length).toSeq)
      assert(sorted.length <= 3)
      sorted.foreach { r =>
        val tf = r.getAs[Long]("tf"); val df = r.getAs[Long]("df")
        assert(tf >= 1 && df >= 1 && df <= nDocs)
        assert(r.getAs[Long]("score_micro") === tf * (nDocs * 1000000L / df))
      }
      // Rank order: score desc, term asc on ties.
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          val (sa, sb) = (a.getAs[Long]("score_micro"), b.getAs[Long]("score_micro"))
          assert(sa > sb ||
            (sa == sb && a.getAs[String]("term") < b.getAs[String]("term")))
        case _ =>
      }
    }
  }

  test("m5/m6: bands decompose the fingerprint; pairs share a band and verify hamming") {
    val fp = multimodal.Media.m5Phash(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("phash"), Seq(r.getAs[Long]("band0"), r.getAs[Long]("band1"),
          r.getAs[Long]("band2"), r.getAs[Long]("band3")))).toMap
    fp.values.foreach { case (h, bands) =>
      assert(h >= 0L && h < (1L << 60))
      bands.zipWithIndex.foreach { case (b, i) => assert(b === ((h >> (i * 15)) & 32767L)) }
    }
    val pairs = multimodal.Media.m6PhashPairs(spark, dir).collect()
    pairs.foreach { r =>
      val (h1, b1) = fp(r.getAs[Long]("doc_id1"))
      val (h2, b2) = fp(r.getAs[Long]("doc_id2"))
      assert(r.getAs[Long]("doc_id1") < r.getAs[Long]("doc_id2"))
      assert(b1.zip(b2).exists { case (x, y) => x == y })
      val ham = java.lang.Long.bitCount(h1 ^ h2).toLong
      assert(ham === r.getAs[Long]("hamming") && ham <= 15)
    }
    // Identical payloads are hamming-0 pairs by construction: every doc
    // shares its fingerprint with itself under any band — sanity via the
    // exhaustive check that no qualifying pair was missed (pigeonhole).
    val byBand = fp.toSeq.flatMap { case (id, (h, bands)) =>
      bands.zipWithIndex.map { case (b, i) => (i, b) -> id }
    }.groupBy(_._1).values.flatMap { grp =>
      val ids = grp.map(_._2).sorted
      for (i <- ids.indices; j <- i + 1 until ids.length) yield (ids(i), ids(j))
    }.toSet
    val expected = byBand.filter { case (a, b) =>
      java.lang.Long.bitCount(fp(a)._1 ^ fp(b)._1) <= 15
    }
    assert(pairs.map(r => (r.getAs[Long]("doc_id1"), r.getAs[Long]("doc_id2"))).toSet === expected)
  }

  test("e8 retention cohorts: hour-zero rows cover every user and bound later activity") {
    val t = Tables(spark, dir)
    val rows = streaming.Events.e8RetentionCohorts(spark, dir).collect()
      .map(r => (r.getAs[Long]("cohort_hour"), r.getAs[Long]("hours_since")) ->
        r.getAs[Long]("n_active")).toMap
    val nUsers = t.events.select("user_id").distinct().count()
    // Every user is active in their own cohort hour (hours_since = 0).
    val cohortSizes = rows.collect { case ((c, 0L), n) => c -> n }
    assert(cohortSizes.values.sum === nUsers)
    rows.foreach { case ((c, since), n) =>
      assert(since >= 0)
      assert(n <= rows((c, 0L)), s"cohort $c hour $since exceeds cohort size")
    }
  }

  test("q11 cube marginals are mutually consistent") {
    val rows = operators.Relational.q11Cube(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n_orders")).toMap
    val total = rows(("ALL", "ALL"))
    assert(total > 0)
    // .toSeq before mapping to counts: two marginals with EQUAL counts
    // must both contribute to the sum (a Set.map would dedup them).
    val segs = rows.keys.collect { case (s, "ALL") if s != "ALL" => s }.toSeq
    val stats = rows.keys.collect { case ("ALL", o) if o != "ALL" => o }.toSeq
    assert(segs.map(s => rows((s, "ALL"))).sum === total)
    assert(stats.map(o => rows(("ALL", o))).sum === total)
    // Cell counts roll up into both marginals.
    segs.foreach { s =>
      val cells = stats.toSeq.flatMap(o => rows.get((s, o)))
      assert(cells.sum === rows((s, "ALL")))
    }
  }

  test("t17 weighted sample is deterministic and flag-consistent") {
    val rows = functions.TextFuncs.t17WeightedSample(spark, dir).collect()
    rows.foreach { r =>
      val u = r.getAs[Long]("u_milli")
      val w = r.getAs[Long]("w_milli")
      assert(u >= 0 && u < 1000)
      assert(w >= 200 && w < 800)
      assert(r.getAs[Int]("kept") === (if (u < w) 1 else 0))
    }
    val kept = rows.count(_.getAs[Int]("kept") == 1)
    assert(kept > 0 && kept < rows.length)
    // Same sample on a re-run — the property that makes the mix a recipe.
    val again = functions.TextFuncs.t17WeightedSample(spark, dir).collect()
    assert(rows.map(_.toString).sorted.toSeq === again.map(_.toString).sorted.toSeq)
  }

  test("s4 kNN self-join restricted to s2's query set reproduces s2 exactly") {
    val s4 = similarity.Ann.s4KnnJoin(spark, dir).collect()
      .filter(_.getAs[Long]("query_id") < 10)
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id")))
      .toSet
    val s2 = similarity.Ann.s2LshAnn(spark, dir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id")))
      .toSet
    assert(s4 === s2)
    assert(s4.nonEmpty)
  }

  test("g10 label propagation separates two bridged triangles") {
    val ss = spark
    import ss.implicits._
    // Triangle {1,2,3} + triangle {4,5,6} + bridge 3-4: after 4 sync
    // supersteps (hand-traced) the triangles settle on labels 1 and 3.
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
      .toDF("src", "dst")
    val got = operators.GraphIter.labelPropagation(edges, iters = 4)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("label")).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 3L, 6L -> 3L))
  }

  test("t15 domain stats: dup-rate arithmetic and corpus coverage") {
    val t = Tables(spark, dir)
    val rows = functions.TextFuncs.t15DomainStats(spark, dir).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === t.documents.count())
    rows.foreach { r =>
      val n = r.getAs[Long]("n_docs")
      val uniq = r.getAs[Long]("n_unique_texts")
      assert(uniq >= 1 && uniq <= n)
      assert(r.getAs[Long]("n_langs") >= 1)
      assert(r.getAs[Long]("dup_ratio_micro") === (n - uniq) * 1000000L / n)
    }
  }

  test("t16 seq pack reproduces the sequential concat-then-chunk layout") {
    val rows = functions.TextFuncs.t16SeqPack(spark, dir).collect()
      .sortBy(_.getAs[Long]("doc_id"))
    assert(rows.nonEmpty)
    // Replay the stream serially: each doc must start where the previous
    // one ended — the two-level distributed prefix sum has to agree with
    // the single-threaded definition exactly.
    var cum = 0L
    rows.foreach { r =>
      val seqId = r.getAs[Long]("seq_id")
      val off = r.getAs[Long]("seq_offset")
      assert(off >= 0 && off < 2048)
      assert(seqId * 2048 + off === cum)
      cum += r.getAs[Long]("n_tokens")
    }
  }

  test("e7 anomalies exceed their type's exact p99 and stay near the 1% tail") {
    val rows = streaming.Events.e7ThresholdAnomaly(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Long]("value_milli") > r.getAs[Long]("p99_milli")))
    val perType = Tables(spark, dir).events.groupBy("event_type").count().collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("count")).toMap
    rows.groupBy(_.getAs[String]("event_type")).foreach { case (tpe, flagged) =>
      assert(flagged.length <= math.max(1, perType(tpe) / 50), s"$tpe flags too many")
    }
  }

  test("g11 news co-pairs: every item contributes its 3 mention pairs, ordered and typed") {
    val t = Tables(spark, dir)
    val rows = operators.GraphOps.g11NewsCopairs(spark, dir).collect()
    assert(rows.nonEmpty)
    // Each item mentions exactly 3 distinct persons (u-leader, a-accomp,
    // t-person-target; the org-typed target must be filtered out), so the
    // total pair mass is 3 × #items.
    val nEvents = t.events.count()
    assert(rows.map(_.getAs[Long]("n_items")).sum === 3 * nEvents)
    rows.foreach { r =>
      val (p1, p2) = (r.getAs[String]("person1"), r.getAs[String]("person2"))
      assert(p1 < p2, s"pair not ordered: $p1, $p2")
      Seq(p1, p2).foreach(p =>
        assert(p.startsWith("u") || p.startsWith("a") || p.startsWith("t"),
          s"unexpected mention (org leaked through the type filter?): $p"))
    }
  }

  test("t18 cost accounting: ledger arithmetic, monotone running totals, latched flag") {
    val rows = functions.TextFuncs.t18CostAccounting(spark, dir, costLimitMicro = 50000L).collect()
    assert(rows.nonEmpty)
    assert(Tables(spark, dir).events.count() ===
      rows.map(_.getAs[Long]("n_calls")).sum)
    rows.groupBy(_.getAs[String]("model")).foreach { case (_, days) =>
      val sorted = days.sortBy(_.getAs[Long]("day_idx"))
      var cum = 0L
      var flagged = false
      sorted.foreach { r =>
        cum += r.getAs[Long]("cost_micro")
        assert(r.getAs[Long]("cum_cost_micro") === cum, "running total drifts")
        val f = r.getAs[Int]("limit_reached") === 1
        assert(f === (cum >= 50000L))
        // once latched, never un-latched (the tracker's limit_reached)
        assert(!flagged || f, "flag un-latched")
        flagged = f
      }
      // per-day cost must equal the priced token classes re-derived from sums
      // only approximately (per-call floors), so just sanity-bound it:
      sorted.foreach { r =>
        val ub = (r.getAs[Long]("input_tokens") * 2500000L / 1000000L) +
          (r.getAs[Long]("cached_tokens") * 1250000L / 1000000L) +
          (r.getAs[Long]("output_tokens") * 10000000L / 1000000L)
        val cost = r.getAs[Long]("cost_micro")
        assert(cost <= ub && cost >= ub - 3L * r.getAs[Long]("n_calls"))
      }
    }
  }

  test("d10 semantic dedup assigns every vector a cell and canonicalizes downward") {
    val t = Tables(spark, dir)
    val rows = similarity.Ann.d10SemanticDedup(spark, dir).collect()
    assert(rows.length === t.embeddings.count())
    rows.foreach { r =>
      val cell = r.getAs[Long]("cell")
      assert(cell >= 0 && cell < 8)
      val dupOf = Option(r.getAs[java.lang.Long]("dup_of")).map(_.longValue())
      assert(r.getAs[Int]("is_dup") === (if (dupOf.isDefined) 1 else 0))
      dupOf.foreach(d => assert(d < r.getAs[Long]("vec_id")))
    }
    // Centroid vectors assign to their own cell (cos(v, v) = 1 is maximal).
    rows.filter(_.getAs[Long]("vec_id") < 8)
      .foreach(r => assert(r.getAs[Long]("cell") === r.getAs[Long]("vec_id")))
  }

  test("g14 personalized pagerank: mass stays near the seed and decays with distance") {
    val ss = spark; import ss.implicits._
    // Path graph 1-2-3-4-5, seeded at node 1. Node 6 is disconnected.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (6L, 7L)).toDF("src", "dst")
    val seeds = Seq(Tuple1(1L)).toDF("node")
    val r = operators.GraphIter.personalizedPageRankMicro(edges, seeds, iterations = 6)
      .collect().map(row => row.getAs[Long]("node") -> row.getAs[Long]("rank")).toMap
    // The disconnected component never acquires mass.
    assert(!r.contains(6L) && !r.contains(7L))
    // The seed dominates, and rank decays with distance within each
    // parity class (a path seeded at one end alternates injection
    // parity, so adjacent-node comparisons are not monotone at finite
    // iteration counts — same-parity ones are).
    val path = Seq(1L, 2L, 3L, 4L, 5L).map(r.getOrElse(_, 0L))
    assert(path.forall(path.head >= _))
    assert(path(0) > path(2) && path(2) > path(4)) // distance 0 > 2 > 4
    assert(path(1) > path(3))                      // distance 1 > 3
    // Seed keeps its restart mass: at least the 150000 base.
    assert(r(1L) >= 150000L)
  }

  test("h4 as-of dim join: carry-forward, same-time version, pre-history NULL") {
    val ss = spark; import ss.implicits._
    val dims = Seq((1L, 1996L, 10L), (1L, 1998L, 20L), (2L, 1997L, 30L))
      .toDF("k", "t", "attr")
    val facts = Seq((100L, 1L, 1995L), (101L, 1L, 1996L), (102L, 1L, 1997L),
      (103L, 1L, 1999L), (104L, 2L, 1996L), (105L, 2L, 1998L))
      .toDF("id", "k", "t")
    val r = sources.Upsert.scdAsofJoin(dims, facts, "k", "t", "attr").collect()
      .map(row => row.getAs[Long]("id") ->
        Option(row.getAs[java.lang.Long]("attr")).map(_.longValue())).toMap
    assert(r(100L).isEmpty)          // before the first version
    assert(r(101L).contains(10L))    // same-time version applies
    assert(r(102L).contains(10L))    // carried forward over a gap year
    assert(r(103L).contains(20L))    // superseded by the newer version
    assert(r(104L).isEmpty)          // other key's versions don't leak
    assert(r(105L).contains(30L))
  }

  // A 40-node string chain whose minimum id ("n00") sits at one end, so the
  // label must travel all 39 hops; plus a second component and a self-loop.
  private def stringChain(): org.apache.spark.sql.DataFrame = {
    val ss = spark; import ss.implicits._
    val chain = (0 until 39).map(i => (f"n${i + 1}%02d", f"n$i%02d"))
    (chain ++ Seq(("x3", "x2"), ("x2", "x1"), ("s", "s"))).toDF("src", "dst")
  }

  test("connectedComponents labels a string-id graph exactly") {
    val got = operators.GraphIter.connectedComponents(stringChain())
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val want = (0 until 40).map(i => f"n$i%02d" -> "n00").toMap ++
      Seq("x1", "x2", "x3").map(_ -> "x1") + ("s" -> "s")
    assert(got === want)
  }

  test("connectedComponents of an empty edge frame is empty") {
    val ss = spark; import ss.implicits._
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(operators.GraphIter.connectedComponents(edges).collect().isEmpty)
  }

  test("connectedComponents runs at most 2 jobs per superstep") {
    val edges = stringChain()
    val jobs = jobsDuring(operators.GraphIter.connectedComponents(edges))
    // 40 supersteps: the fused init plus 39 rounds (38 that move the
    // label one hop, one that sees no change).
    assert(jobs <= 2 * 40 + 4, s"$jobs jobs for 40 supersteps")
  }

  test("minRelaxTraverse runs at most 2 jobs per round") {
    val ss = spark; import ss.implicits._
    val chain = (0L until 30L).map(i => (i, i + 1)).toDF("src", "dst")
    var got = Map.empty[Long, Long]
    val jobs = jobsDuring {
      got = operators.GraphIter.minRelaxTraverse(chain, Seq((0L, 0L)).toDF("node", "state"),
          maxRounds = 64, requireConverged = true)((s, _) => s + 1)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(got === (0L to 30L).map(i => i -> i).toMap)
    // 31 rounds (30 that reach a node, one that sees no change), each one
    // exchange and its pin, plus the edge pin, the init pin (an exchange
    // and the pin) and the collect.
    assert(jobs <= 2 * 31 + 5, s"$jobs jobs for 31 rounds")
  }

  test("connectedComponents leaves a constant number of pins, not one per superstep") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    assert(operators.GraphIter.connectedComponents(stringChain()).count() === 44)
    val left = sc.getPersistentRDDs.keySet.toSet -- before
    // 40 supersteps; only the final state pin outlives the loop.
    assert(left.size <= 2, s"${left.size} pins left after 40 supersteps")
  }

  test("connectedComponents settles a one-partition state at its init pin: at most 4 jobs") {
    var got = Map.empty[String, String]
    val jobs = jobsDuring {
      got = operators.GraphIter.connectedComponents(stringChain())
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    }
    assert(got("n39") === "n00" && got("x3") === "x1" && got("s") === "s")
    // The init aggregate's stage, the init pin and the collect: the
    // 40-hop chain needs no superstep once its partition settles it.
    assert(jobs <= 4, s"$jobs jobs")
  }

  test("connectedComponents labels a string-id graph exactly with its state spread out") {
    TestConf.spreadState(spark) {
      val got = operators.GraphIter.connectedComponents(stringChain())
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val want = (0 until 40).map(i => f"n$i%02d" -> "n00").toMap ++
        Seq("x1", "x2", "x3").map(_ -> "x1") + ("s" -> "s")
      assert(got === want)
    }
  }

  test("connectedComponents runs at most 2 jobs per superstep with its state spread out") {
    TestConf.spreadState(spark) {
      val jobs = jobsDuring(operators.GraphIter.connectedComponents(stringChain()).collect())
      // At most the 40 supersteps of plain hash-min (the fused init plus
      // 39 rounds), each one exchange and its pin, plus the collect; more
      // than the init-only path's 4, so the supersteps ran.
      assert(jobs > 4, s"$jobs jobs: no superstep ran")
      assert(jobs <= 2 * 40 + 4, s"$jobs jobs for at most 40 supersteps")
    }
  }

  test("connectedComponents leaves a constant number of pins with its state spread out") {
    TestConf.spreadState(spark) {
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet.toSet
      assert(operators.GraphIter.connectedComponents(stringChain()).count() === 44)
      val left = sc.getPersistentRDDs.keySet.toSet -- before
      assert(left.size <= 2, s"${left.size} pins left after the supersteps")
    }
  }

  /** Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = SparkEvents.jobs(spark)(body)

  /** The plans of the adaptive re-plans posted while `body` runs. */
  private def adaptivePlansDuring(body: => Unit): Seq[org.apache.spark.sql.execution.SparkPlanInfo] =
    SparkEvents.during(spark) {
      case u: org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate => u.sparkPlanInfo
    }(body)

  test("shortestPaths reads each frontier's emptiness from its pin job") {
    val ss = spark; import ss.implicits._
    val chain = (0L until 30L).map(i => (i, i + 1)).toDF("src", "dst")
    var got = Map.empty[Long, Long]
    val jobs = jobsDuring {
      got = operators.GraphIter.shortestPaths(chain, Seq(0L).toDF("node"), maxDepth = 40)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(got === (0L to 30L).map(i => i -> i).toMap)
    // 31 frontier pins (30 that reach a node, one empty), each up to 5
    // jobs (AQE runs the pin's shuffle stages as jobs), plus the seed and
    // edge pins and the collect: 156 on local[4]. A separate emptiness
    // probe after each pin adds 31 more.
    assert(jobs <= 5 * 31 + 10, s"$jobs jobs for 31 BFS supersteps")
  }

  test("cycleMembers reads its peel counts and label certificate from pin jobs") {
    val ss = spark; import ss.implicits._
    // A 12-ring with an 11-edge tail: 11 peel rounds, then doublings.
    val ring = (0L until 12L).map(i => (i, (i + 1L) % 12L))
    val tail = (100L until 110L).map(i => (i, i + 1L)) :+ ((110L, 0L))
    val edges = (ring ++ tail).toDF("child", "parent")
    var got = Map.empty[Long, Long]
    val jobs = jobsDuring {
      got = operators.CycleAudit.cycleMembers(edges).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(got === (0L until 12L).map(i => i -> 0L).toMap)
    // 12 peel pins (11 that shrink, one that certifies) and 4 doubling
    // pins: 56 jobs on local[4]. A separate count per peel round and a
    // certificate join after a fixed 5 doublings take it to 86.
    assert(jobs <= 66, s"$jobs jobs")
  }

  test("g15 incremental CC is bit-identical to a full recompute") {
    val ss = spark; import ss.implicits._
    // Base: two components {1,2,3} and {10,11}; batch bridges 3-10 and
    // introduces a brand-new component {20,21} plus new node 4 joining 1.
    val base = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val batch = Seq((3L, 10L), (20L, 21L), (4L, 1L)).toDF("src", "dst")
    val inc = operators.GraphIter.incrementalCC(
      operators.GraphIter.connectedComponents(base), batch)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("label")).toMap
    val full = operators.GraphIter.connectedComponents(base.unionByName(batch))
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("label")).toMap
    assert(inc === full)
    assert(inc(11L) === 1L) // bridged through the batch edge
    assert(inc(21L) === 20L) // new component labels at its own min
    // An all-internal batch (no cross-component edges) is a no-op merge.
    val noop = operators.GraphIter.incrementalCC(
      operators.GraphIter.connectedComponents(base), Seq((1L, 3L)).toDF("src", "dst"))
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("label")).toMap
    assert(noop === operators.GraphIter.connectedComponents(base)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("label")).toMap)
  }

  test("h3 snapshot diff classifies insert/update/delete and drops unchanged") {
    val ss = spark; import ss.implicits._
    val a = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v")
    val b = Seq((2L, 20L), (3L, 31L), (4L, 40L)).toDF("k", "v")
    val d = sources.Upsert.snapshotDiff(a, b, Seq("k")).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("change")).toMap
    assert(d === Map(1L -> "delete", 3L -> "update", 4L -> "insert"))
    // Self-diff is empty — the feed is sized by churn, not the dimension.
    assert(sources.Upsert.snapshotDiff(a, a, Seq("k")).isEmpty)
    // Null-safe compare: null-vs-value is an update, null-vs-null is not.
    val an = Seq((1L, Option(9L)), (2L, Option.empty[Long])).toDF("k", "v")
    val bn = Seq((1L, Option.empty[Long]), (2L, Option.empty[Long])).toDF("k", "v")
    val dn = sources.Upsert.snapshotDiff(an, bn, Seq("k")).collect()
    assert(dn.map(_.getAs[Long]("k")).toSeq === Seq(1L))
    assert(dn.head.getAs[String]("change") === "update")
  }

  test("d13 fuzzy pairs: deletion blocking finds exactly the levenshtein<=1 pairs") {
    val ss = spark; import ss.implicits._
    // One of each edit type plus a distance-2 decoy.
    val names = Seq("gear", "gears", "fear", "ear", "bolt", "colt").toDF("name")
    val blocked = dedup.Dedup.fuzzyNamePairs(names)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val brute = names.as("a").crossJoin(names.as("b"))
      .filter(col("a.name") < col("b.name") &&
        levenshtein(col("a.name"), col("b.name")) <= 1)
      .select(col("a.name"), col("b.name"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(blocked === brute, "blocking must be lossless at distance 1")
    assert(blocked.contains(("fear", "gear")))  // substitution
    assert(blocked.contains(("gear", "gears"))) // insertion
    assert(blocked.contains(("ear", "gear")))   // deletion
    assert(blocked.contains(("bolt", "colt")))
    assert(!blocked.contains(("ear", "gears"))) // distance 2 stays out
  }

  test("d14 repeated spans equal a driver-side brute-force substring pass") {
    val k = 8
    val docs = Tables(spark, dir).documents
      .select("doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text").split(" ")))
    // Brute force: literal k-gram strings (no hashing), coverage bitmap
    // per doc, maximal runs — an independent formulation of the operator.
    val gramDocs = scala.collection.mutable.Map.empty[String, scala.collection.mutable.Set[Long]]
    for ((id, w) <- docs; p <- 0 to w.length - k)
      gramDocs.getOrElseUpdate(w.slice(p, p + k).mkString(" "), scala.collection.mutable.Set()) += id
    val expected = scala.collection.mutable.Set.empty[(Long, Long, Long)]
    for ((id, w) <- docs if w.length >= k) {
      val cov = new Array[Boolean](w.length)
      for (p <- 0 to w.length - k if gramDocs(w.slice(p, p + k).mkString(" ")).exists(_ != id))
        (p until p + k).foreach(cov(_) = true)
      var i = 0
      while (i < w.length) {
        if (cov(i)) {
          var j = i
          while (j + 1 < w.length && cov(j + 1)) j += 1
          expected += ((id, (i + 1).toLong, (j + 1).toLong))
          i = j + 1
        } else i += 1
      }
    }
    assert(expected.nonEmpty, "degenerate gate: corpus has no repeated spans")
    val got = dedup.Dedup.d14SubstringSpans(spark, dir, k).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"), r.getAs[Long]("span_end")))
      .toSet
    assert(got === expected)
  }

  test("d15 chunk near-dups equal a brute-force chunk-level jaccard pass") {
    val cw = 32
    val docs = Tables(spark, dir).documents
      .filter(length(col("text")) >= 5)
      .select("doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    // Brute force: literal char-5-gram sets per chunk, exact jaccard over
    // ALL cross-doc chunk pairs — no hashing, no banding.
    val chunks = docs.flatMap { case (id, text) =>
      text.split(" ").grouped(cw).zipWithIndex.map { case (ws, cn) =>
        (id, cn.toLong, ws.mkString(" "))
      }
    }.filter(_._3.length >= 5)
      .map { case (id, cn, ct) =>
        (id, cn, (0 to ct.length - 5).map(i => ct.substring(i, i + 5)).toSet)
      }
    val expected = (for {
      i <- chunks.indices; j <- chunks.indices
      if chunks(i)._1 < chunks(j)._1
      inter = chunks(i)._3.intersect(chunks(j)._3).size.toDouble
      jac = inter / (chunks(i)._3.size + chunks(j)._3.size - inter)
      if jac >= 0.8
    } yield (chunks(i)._1, chunks(i)._2, chunks(j)._1, chunks(j)._2,
      math.floor(jac * 1000000.0).toLong)).toSet
    assert(expected.nonEmpty, "degenerate gate: no near-dup chunks in the corpus")
    val got = dedup.Dedup.d15ChunkNearDup(spark, dir, cw).collect()
      .map(r => (r.getAs[Long]("doc_id1"), r.getAs[Long]("chunk1"),
        r.getAs[Long]("doc_id2"), r.getAs[Long]("chunk2"),
        r.getAs[Long]("jaccard_micro"))).toSet
    assert(got === expected)
  }

  test("d16 bloom-prefiltered classification is exact and the filter actually prunes") {
    val docs = Tables(spark, dir).documents
      .select("doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    // Independent classification: plain map lookup over the full corpus.
    val exMin = docs.groupBy(_._2).map { case (t, rs) => t -> rs.map(_._1).min }
    val incoming = docs.filter(_._1 % 3 == 0).map { case (id, t) => (id + 1000000L, t) } ++
      docs.filter(_._1 % 3 == 1).map { case (id, t) => (id + 2000000L, t + " v2") }
    val expected = incoming.map { case (id, t) =>
      (id, exMin.get(t).map(_ => "dup").getOrElse("new"), exMin.get(t))
    }.toSet
    assert(expected.exists(_._2 == "dup") && expected.exists(_._2 == "new"),
      "degenerate gate: need both dup and new rows")
    val got = dedup.Dedup.d16BloomPrefilter(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("status"),
        Option(r.getAs[java.lang.Long]("dup_of")).map(_.toLong))).toSet
    assert(got === expected)
    // The Bloom contract the operator's exactness rests on: no digest of
    // the existing corpus may probe false (false negatives impossible),
    // and genuinely-new digests mostly probe false (the prune is real).
    val bloom = Tables(spark, dir).documents
      .stat.bloomFilter(xxhash64(col("text")), docs.length.toLong, 0.01)
    def digest(t: String): Long = spark.range(1)
      .select(xxhash64(lit(t))).head().getLong(0)
    docs.foreach { case (_, t) =>
      assert(bloom.mightContainLong(digest(t)), "bloom false negative")
    }
    val newTexts = incoming.filter { case (_, t) => !exMin.contains(t) }
    val fp = newTexts.count { case (_, t) => bloom.mightContainLong(digest(t)) }
    assert(fp.toDouble <= math.max(2.0, 0.05 * newTexts.length),
      s"bloom prunes nothing: $fp false positives over ${newTexts.length} new docs")
  }

  test("d17 strip equals a driver-side coverage-bitmap strip of d14's spans") {
    val k = 8
    val docs = Tables(spark, dir).documents
      .select("doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text").split(" ")))
    val gramDocs = scala.collection.mutable.Map.empty[String, scala.collection.mutable.Set[Long]]
    for ((id, w) <- docs; p <- 0 to w.length - k)
      gramDocs.getOrElseUpdate(w.slice(p, p + k).mkString(" "), scala.collection.mutable.Set()) += id
    val expected = docs.map { case (id, w) =>
      val cov = new Array[Boolean](w.length)
      if (w.length >= k)
        for (p <- 0 to w.length - k if gramDocs(w.slice(p, p + k).mkString(" ")).exists(_ != id))
          (p until p + k).foreach(cov(_) = true)
      val kept = w.indices.filter(!cov(_)).map(w)
      (id, w.length.toLong, cov.count(identity).toLong, kept.mkString(" "))
    }.toSet
    assert(expected.exists(_._3 > 0), "degenerate gate: nothing stripped anywhere")
    assert(expected.exists(e => e._3 > 0 && e._3 < e._2),
      "degenerate gate: want a partially-stripped doc")
    val got = dedup.Dedup.d17StripSpans(spark, dir, k).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("removed_tokens"), r.getAs[String]("clean_text"))).toSet
    assert(got === expected)
  }

  test("g19 butterfly counts equal a supplier-side neighbor-intersection recount") {
    // Independent formulation: w(s1,s2) = |N(s1) ∩ N(s2)| off SUPPLIER
    // neighbor sets (the operator enumerates customer-centered wedges —
    // the transposed computation).
    val sfDir = "/root/testdata/sf0.01"
    val t = Tables(spark, sfDir)
    val edges = t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").cast("long").as("c"), col("l_suppkey").cast("long").as("s"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val bySupp = edges.groupBy(_._2).map { case (s, es) => s -> es.map(_._1).toSet }
    val supps = bySupp.keys.toSeq.sorted
    val perNode = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for (i <- supps.indices; j <- (i + 1) until supps.length) {
      val w = bySupp(supps(i)).intersect(bySupp(supps(j))).size.toLong
      if (w >= 2) {
        val bf = w * (w - 1) / 2
        perNode(supps(i)) += bf
        perNode(supps(j)) += bf
      }
    }
    val expected = t.supplier.select("s_suppkey").collect()
      .map(r => (r.getLong(0), perNode(r.getLong(0)))).toSet
    assert(expected.exists(_._2 > 0), "degenerate gate: no butterflies in the graph")
    val got = operators.GraphOps.g19ButterflyCount(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("suppkey"), r.getAs[Long]("n_butterflies"))).toSet
    assert(got === expected)
  }

  test("t26 mix plan equals a sequential water-filling recount and respects its invariants") {
    val docs = Tables(spark, dir).documents
      .select("source", "text").collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("text")))
    val avail = docs.groupBy(_._1).map { case (src, rows) =>
      (src, rows.map(_._2.split(" ").length.toLong).sum, (src.length % 3 + 1).toLong)
    }.toSeq
    val budget = avail.map(_._2).sum * 9 / 10
    // SEQUENTIAL water-filling (the closed form under test computes the
    // same allocation via prefix sums and one max-rank scalar): walk
    // sources by tokens-per-weight; a source below its share of what
    // remains is capped and removed, the rest split the residual.
    var remB = budget
    var remW = avail.map(_._3).sum
    val sorted = avail.sortBy { case (src, a, w) => (a.toDouble / w, src) }
    val takes = scala.collection.mutable.Map.empty[String, (Long, Long)]
    var i = 0
    var capping = true
    sorted.foreach { case (src, a, w) =>
      if (capping && a * remW <= remB * w) {
        takes(src) = (a, 1L); remB -= a; remW -= w
      } else {
        capping = false // sorted order: once uncapped, all later uncapped
        takes(src) = (remB * w / remW, 0L)
      }
      i += 1
    }
    val expected = avail.map { case (src, a, w) =>
      (src, a, w, takes(src)._1, takes(src)._2)
    }.toSet
    assert(expected.exists(_._5 == 1L) && expected.exists(_._5 == 0L),
      "degenerate gate: need both capped and uncapped sources")
    val got = TextFuncs.t26MixPlan(spark, dir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("avail_tokens"),
        r.getAs[Long]("weight"), r.getAs[Long]("take_tokens"), r.getAs[Long]("capped"))).toSet
    assert(got === expected)
    // Feasibility invariants: takes never exceed availability, the plan
    // never exceeds the budget, and flooring loses < 1 token per source.
    got.foreach { case (_, a, _, take, _) => assert(take <= a) }
    val takeSum = got.toSeq.map(_._4).sum
    assert(takeSum <= budget && budget - takeSum < got.size)
  }

  test("q19 delta fold is bit-identical to the one-pass aggregate for any split") {
    import org.apache.spark.sql.Row
    val full = operators.Relational.q1PricingAgg(spark, dir)
      .select("l_returnflag", "l_linestatus", "cnt", "sum_qty", "sum_price", "avg_qty")
      .collect().toSeq
    val folded = operators.Relational.q19DeltaAgg(spark, dir).collect().toSeq
    def key(r: Row) = (r.getString(0), r.getString(1))
    assert(folded.map(key) === full.map(key))
    // Decimal partials make the fold exact: every numeric column must be
    // BIT-identical to the unsplit aggregate, not merely close.
    folded.zip(full).foreach { case (f, o) =>
      assert(f.getLong(2) === o.getAs[Long]("cnt"))
      assert(f.getDouble(3) === o.getAs[Double]("sum_qty"))
      assert(f.getDouble(4) === o.getAs[Double]("sum_price"))
      assert(f.getDouble(5) === o.getAs[Double]("avg_qty"))
    }
    // Both sides of the split must actually carry rows, else fold ==
    // rebuild is vacuous.
    val t = Tables(spark, dir)
    assert(t.lineitem.filter(col("l_shipdate") < lit("1997-01-01")).limit(1).count() === 1)
    assert(t.lineitem.filter(col("l_shipdate") >= lit("1997-01-01")).limit(1).count() === 1)
  }

  test("e11 disorder probe equals a driver-side high-water-mark recount") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val evs = Tables(spark, dir).events
      .select("event_id", "event_type", "ts").collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[String]("event_type"), r.getAs[Long]("ts")))
    val batched = evs.map { case (id, et, ts) =>
      val u = java.lang.Long.parseLong(md5hex(id.toString).take(12), 16)
      ((id + u % 2001) / 1000, et, ts)
    }
    val batchMax = batched.groupBy(_._1).map { case (b, rs) => b -> rs.map(_._3).max }
    val bs = batchMax.keys.toSeq.sorted
    val prev = bs.zipWithIndex.map { case (b, i) =>
      b -> (if (i == 0) None else Some(bs.take(i).map(batchMax).max))
    }.toMap
    val expected = batched.groupBy(_._2).map { case (et, rs) =>
      val lates = rs.map { case (b, _, ts) =>
        prev(b) match { case Some(p) if p > ts => p - ts; case _ => 0L }
      }
      val nLate = lates.count(_ > 0).toLong
      et -> ((rs.length.toLong, nLate, nLate * 1000000L / rs.length, lates.max / 1000000L))
    }
    assert(expected.values.exists(_._2 > 0), "degenerate gate: no late events")
    val got = streaming.Events.e11DisorderProbe(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n_events"), r.getAs[Long]("n_late"),
          r.getAs[Long]("late_ppm"), r.getAs[Long]("max_late_ms")))).toMap
    assert(got === expected)
  }

  test("h6 FK audit orphan counts match an independent anti-join recount") {
    val t = Tables(spark, dir)
    val got = sources.Upsert.h6FkAudit(spark, dir).collect()
      .map(r => r.getAs[String]("relationship") ->
        ((r.getAs[Long]("n_child"), r.getAs[Long]("n_orphans"), r.getAs[Long]("n_orphan_keys"))))
      .toMap
    assert(got.size === 5)
    // Clean relationships audit clean; the simulated in-flight dimension
    // shows real orphans — both branches non-vacuous.
    assert(got("lineitem->orders")._2 === 0L)
    val oc = got("orders->customer")
    assert(oc._2 > 0L && oc._3 > 0L, "degenerate gate: no orphans on the in-flight dimension")
    // Independent recount via left_anti (a different join shape).
    val orphans = t.orders.select(col("o_custkey"))
      .join(t.customer.filter(pmod(col("c_custkey"), lit(50)) =!= 0)
        .select(col("c_custkey")), col("o_custkey") === col("c_custkey"), "left_anti")
    assert(oc._2 === orphans.count())
    assert(oc._3 === orphans.distinct().count())
    assert(oc._1 === t.orders.count())
  }

  test("m8 cross-modal resolve equals a brute-force dual-modality union-find") {
    def bands(fp: Long): Seq[Long] = (0 until 4).map(i => (fp >> (i * 15)) & 32767L)
    val media = multimodal.Media.m5Phash(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("phash")).toMap
    val text = dedup.Dedup.d4SimHash(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    val allIds = Tables(spark, dir).documents
      .select("doc_id").collect().map(_.getAs[Long]("doc_id")).sorted
    // Brute force over ALL pairs: candidate when either modality's bands
    // collide AND that modality verifies; kept when BOTH verify.
    val parent = scala.collection.mutable.Map(allIds.map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    var nEdges = 0
    for (i <- allIds.indices; j <- (i + 1) until allIds.length) {
      val (a, b) = (allIds(i), allIds(j))
      if (media.contains(a) && media.contains(b) && text.contains(a) && text.contains(b)) {
        val mh = java.lang.Long.bitCount(media(a) ^ media(b))
        val th = java.lang.Long.bitCount(text(a) ^ text(b))
        val mBand = bands(media(a)).zip(bands(media(b))).exists(p => p._1 == p._2)
        val tBand = bands(text(a)).zip(bands(text(b))).exists(p => p._1 == p._2)
        val cand = (mBand && mh <= 15) || (tBand && th <= 15)
        if (cand && mh <= 15 && th <= 15) {
          nEdges += 1
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
      }
    }
    assert(nEdges > 0, "degenerate gate: no cross-modal duplicate pairs in the corpus")
    val expected = allIds.map(id => (id, find(id), if (find(id) == id) 1 else 0)).toSet
    val got = multimodal.Media.m8CrossModalResolve(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("canonical_id"), r.getAs[Int]("is_kept")))
      .toSet
    assert(got === expected)
  }

  test("m9 incremental media dedup equals a brute-force asymmetric classify") {
    val media = multimodal.Media.m5Phash(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("phash")).toMap
    val texts = Tables(spark, dir).documents
      .select("doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"))).toMap
    def bands(fp: Long): Seq[Long] = (0 until 4).map(i => (fp >> (i * 15)) & 32767L)
    val (incoming, existing) = texts.keys.toSeq.sorted.partition(_ % 2 == 1)
    val expected = incoming.map { in =>
      // payload equality == (magic class, text) equality
      val exact = existing.filter(ex =>
        ex % 3 == in % 3 && texts(ex) == texts(in)).sorted.headOption
      val near = existing.filter { ex =>
        java.lang.Long.bitCount(media(in) ^ media(ex)) <= 15 &&
          bands(media(in)).zip(bands(media(ex))).exists(p => p._1 == p._2)
      }.sorted.headOption
      val status = if (exact.isDefined) "exact" else if (near.isDefined) "near" else "new"
      (in, status, exact.orElse(near))
    }.toSet
    assert(expected.exists(_._2 != "new"), "degenerate gate: no dups across the split")
    val got = multimodal.Media.m9IncrementalMediaDedup(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("status"),
        Option(r.getAs[java.lang.Long]("dup_of")).map(_.toLong))).toSet
    assert(got === expected)
  }

  test("q16 skew probe: bucket masses reconcile with the tables and bounds hold") {
    val t = Tables(spark, dir)
    val rows = operators.Relational.q16SkewProbe(spark, dir).collect()
      .map(r => (r.getAs[String]("relation"), r.getAs[String]("key"),
        r.getAs[Long]("bucket_log2"), r.getAs[Long]("n_groups"),
        r.getAs[Long]("n_rows"), r.getAs[Long]("max_group")))
    // Row mass per (relation, key) sums to the full table row count.
    val liCount = t.lineitem.count()
    val docCount = t.documents.count()
    for ((rel, key, expect) <- Seq(
        ("lineitem", "l_orderkey", liCount),
        ("lineitem", "l_suppkey", liCount),
        ("documents", "lang", docCount))) {
      val mass = rows.filter(x => x._1 == rel && x._2 == key).map(_._5).sum
      assert(mass === expect, s"$rel.$key row mass")
    }
    // Every bucket's max group sits inside [2^b, 2^(b+1)).
    rows.foreach { case (rel, key, b, ng, _, mx) =>
      assert(ng > 0)
      assert(mx >= (1L << b) && mx < (1L << (b + 1)), s"$rel.$key bucket $b max $mx")
    }
  }

  test("t22 verdict agrees with its constituent signal operators row by row") {
    val tf = functions.TextFuncs
    val verdict = tf.t22CurationVerdict(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("pred_lang"), r.getAs[Int]("quality_ok"),
          r.getAs[Int]("repetition_flag"), r.getAs[Int]("keep"),
          r.getAs[String]("reasons"))).toMap
    val lang = tf.t2LangId(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("pred_lang")).toMap
    val quality = tf.t3QualityScore(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("quality_ok")).toMap
    val rep = tf.t14Repetition(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("repetition_flag")).toMap
    assert(verdict.nonEmpty)
    verdict.foreach { case (id, (pl, q, rf, keep, reasons)) =>
      assert(pl === lang(id), s"doc $id lang")
      assert(q === quality(id), s"doc $id quality")
      assert(rf === rep.getOrElse(id, 0), s"doc $id repetition")
      assert(keep === (if (q == 1 && rf == 0 && pl != "und") 1 else 0), s"doc $id keep")
      val expectReasons = Seq(
        if (q == 0) Some("quality") else None,
        if (rf == 1) Some("repetition") else None,
        if (pl == "und") Some("lang") else None).flatten.mkString(",")
      assert(reasons === expectReasons, s"doc $id reasons")
    }
    assert(verdict.values.exists(_._4 == 1) && verdict.values.exists(_._4 == 0),
      "degenerate gate: verdict must mix keeps and drops")
  }

  test("e10 sliding agg agrees with Spark's native hopping window") {
    val ev = Tables(spark, dir).events
    val ours = streaming.Events.slidingAgg(ev)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val native = ev
      .withColumn("t", expr("timestamp_micros(ts DIV 1000)"))
      .groupBy(window(col("t"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(floor(col("value") * 1000).cast("long")).as("sum_value_milli"))
      .select(col("window.start").cast("long").as("win_start"),
        col("event_type"), col("cnt"), col("sum_value_milli"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(ours === native)
    // Each event lands in exactly width/hop = 4 windows.
    val total = ours.toSeq.map(_._3).sum
    assert(total === ev.count() * 4)
  }

  test("q14 column profile: counts, nulls, exact distincts; no Expand in the plan") {
    val ss = spark; import ss.implicits._
    val df = Seq(
      (Option(1L), Option("a")),
      (Option(1L), Option.empty[String]),
      (Option.empty[Long], Option("b"))).toDF("x", "y")
    val prof = operators.Relational.columnProfile(df).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(prof("x") === ((3L, 1L, 1L)))
    assert(prof("y") === ((3L, 1L, 2L)))
    val plan = operators.Relational.q14ColumnProfile(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"),
      s"profile must not use the count(distinct) Expand rewrite:\n$plan")
  }

  test("q17 quantiles satisfy the rank definition and the rollup is segmentation-invariant") {
    import org.apache.spark.sql.functions._
    val values = Tables(spark, dir).lineitem
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("v"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val got = operators.HistogramQuantiles.q17HistogramQuantiles(spark, dir)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    values.foreach { case (flag, xs) =>
      val n = xs.length
      Seq(25, 50, 75, 95).foreach { p =>
        val rank = (p.toLong * n + 99) / 100
        val v = got((flag, p))
        assert(xs.count(_ <= v) >= rank, s"$flag p$p: $v too small")
        assert(xs.count(_ < v) < rank, s"$flag p$p: $v not minimal")
        assert(v === xs((rank - 1).toInt), s"$flag p$p: not the rank-$rank element")
      }
    }
    // Mergeability: a completely different segmentation (by orderkey mod 7)
    // must roll up to identical quantiles — the state is lossless.
    val alt = Tables(spark, dir).lineitem
      .select(pmod(col("l_orderkey"), lit(7)).as("seg"), col("l_returnflag"),
        col("l_quantity").cast("long").as("v"))
      .groupBy("seg", "l_returnflag", "v")
      .agg(count(lit(1)).as("cnt"))
    val gotAlt = operators.HistogramQuantiles.quantilesOf(alt, Seq(25, 50, 75, 95))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(gotAlt === got)
  }

  test("t25 buckets partition each lang monotonically by score with tercile-sized heads") {
    val rows = TextFuncs.t25LmBuckets(spark, dir).collect()
      .map(r => (r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Long]), r.getString(3)))
    rows.groupBy(_._1).foreach { case (lang, rs) =>
      val byBucket = rs.groupBy(_._3).view
        .mapValues(_.flatMap(_._2)).toMap
      // Monotone partition: every head score beats every middle score,
      // every middle beats every non-null tail.
      for (h <- byBucket.get("head"); m <- byBucket.get("middle"))
        if (h.nonEmpty && m.nonEmpty) assert(h.min > m.max, s"$lang head/middle overlap")
      for (m <- byBucket.get("middle"); t <- byBucket.get("tail"))
        if (m.nonEmpty && t.nonEmpty) assert(m.min > t.max, s"$lang middle/tail overlap")
      // Null scores (no bigrams) are always 'tail'.
      rs.filter(_._2.isEmpty).foreach { case (_, _, b) => assert(b === "tail") }
      // Head is at most a tercile (boundary ties push docs DOWN, never up).
      val n = rs.count(_._2.nonEmpty)
      if (n >= 3) {
        val head = rs.count(_._3 == "head")
        assert(head <= n - (67 * n + 99) / 100 + 1, s"$lang head too large: $head of $n")
        assert(head > 0 || rs.flatMap(_._2).distinct.size <= 2,
          s"$lang: no head bucket despite score spread")
      }
    }
    assert(rows.map(_._3).toSet === Set("head", "middle", "tail"))
  }

  test("t24 drift matches a single-machine recount and flags the moved terms") {
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, dir).documents
      .select(col("source"), col("text")).collect()
    val counts = scala.collection.mutable.Map[String, (Long, Long)]().withDefaultValue((0L, 0L))
    docs.foreach { r =>
      val isA = r.getString(0).length == 4
      r.getString(1).split(" ").filter(_.nonEmpty).foreach { t =>
        val (a, b) = counts(t)
        counts(t) = if (isA) (a + 1, b) else (a, b + 1)
      }
    }
    val totA = counts.valuesIterator.map(_._1).sum
    val totB = counts.valuesIterator.map(_._2).sum
    val want = counts.toSeq
      .map { case (t, (a, b)) => (t, a, b, a * totB - b * totA) }
      .sortBy { case (t, _, _, d) => (-math.abs(d), t) }
      .take(20).toSet
    val got = TextFuncs.t24DriftTerms(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === want)
    assert(got.exists(_._4 != 0L), "degenerate: no drifted term in the top set")
    // The split-into-two-count-tables form (what the streaming monitor
    // closes over) is the same report as the one-scan conditional form.
    val docsDf = Tables(spark, dir).documents
    val viaCounts = TextFuncs.driftFromCounts(
      TextFuncs.termCountsOf(docsDf.filter(length(col("source")) === 4)),
      TextFuncs.termCountsOf(docsDf.filter(length(col("source")) =!= 4)))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(viaCounts === got)
  }

  test("q22 pivot equals the long-form conditional aggregation and stays one aggregate") {
    val t = Tables(spark, dir)
    val want = t.lineitem
      .select(col("l_suppkey"), col("l_returnflag"),
        col("l_quantity").cast("decimal(18,2)").as("qty"))
      .join(t.supplier.select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(t.nation.select(col("n_nationkey"), col("n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        coalesce(sum(when(col("l_returnflag") === "A", col("qty"))).cast("double"), lit(0.0)).as("a_qty"),
        coalesce(sum(when(col("l_returnflag") === "N", col("qty"))).cast("double"), lit(0.0)).as("n_qty"),
        coalesce(sum(when(col("l_returnflag") === "R", col("qty"))).cast("double"), lit(0.0)).as("r_qty"))
      .collect().map(_.toSeq).toSet
    val dfP = operators.Relational.q22Pivot(spark, dir)
    assert(dfP.collect().map(_.toSeq).toSet === want)
    assert(dfP.collect().nonEmpty)
    // The explicit value list must keep the reshape a single two-phase
    // aggregate: no DISTINCT discovery job, no Expand, no extra shuffle
    // beyond the one group-by exchange (plus the verification sort).
    val plan = dfP.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), s"pivot expanded rows:\n$plan")
  }

  test("e12 changelog compaction: tombstone/reinsert semantics, window-free plan, recount agreement") {
    val sp = spark
    import sp.implicits._
    // Crafted log: user 1 ends on a tombstone (must vanish), user 2 has a
    // tombstone FOLLOWED by a reinsert (must survive with the later row),
    // user 3 is a single plain upsert.
    val crafted = Seq(
      (1L, 10L, 1000L * 1000, "view", 1.0),
      (1L, 11L, 2000L * 1000, "error", 2.0),
      (2L, 20L, 1000L * 1000, "error", 3.0),
      (2L, 21L, 3000L * 1000, "click", 4.5),
      (3L, 30L, 1500L * 1000, "view", 7.25)
    ).toDF("user_id", "event_id", "ts", "event_type", "value")
    val got = streaming.Events.compactChangelog(crafted)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4))).toSet
    assert(got === Set(
      (2L, 21L, 3000L, "click", 4500L),
      (3L, 30L, 1500L, "view", 7250L)))
    // Full-table agreement with the window-latest formulation.
    val events = Tables(spark, dir).events
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(expr("ts DIV 1000").desc, col("event_id").desc)
    val want = events
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("event_type") =!= "error")
      .select(col("user_id"), col("event_id"), expr("ts DIV 1000"),
        col("event_type"), expr("CAST(floor(value * 1000) AS BIGINT)"))
      .collect().map(_.toSeq).toSet
    val full = streaming.Events.e12ChangelogCompact(spark, dir)
    assert(full.collect().map(_.toSeq).toSet === want)
    // The point of the aggregate form: compaction must never window-sort
    // the change history — argmax folds map-side instead.
    val plan = full.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"compaction plans a window sort:\n$plan")
    assert(plan.contains("partial_max") || plan.toLowerCase.contains("partial"),
      s"no map-side partial aggregation in:\n$plan")
  }

  test("s12 hybrid RRF equals a driver-side fusion of its two legs") {
    import graft.functions.{Hybrid, Retrieval}
    import graft.similarity.Ann
    val kLeg = 10
    val lex = Retrieval.s8Bm25TopK(spark, dir, nQueries = 4, k = kLeg)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("doc_id"), r.getAs[Long]("rnk")))
    // Semantic leg recount through the HOF cosine (spec-proven identical
    // to the native kernel) and a driver-side sort.
    val emb = Tables(spark, dir).embeddings
    val semScored = emb.select(col("vec_id").as("doc_id"), col("embedding").as("n_emb"))
      .crossJoin(broadcast(emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("qid"), col("embedding").as("q_emb"))))
      .withColumn("sim", Ann.cosineHof(col("q_emb"), col("n_emb")))
      .select("qid", "doc_id", "sim")
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("doc_id"), r.getAs[Double]("sim")))
    val sem = semScored.groupBy(_._1).toSeq.flatMap { case (q, rows) =>
      rows.sortBy(t => (-t._3, t._2)).take(kLeg).zipWithIndex
        .map { case ((_, d, _), i) => (q, d, (i + 1).toLong) }
    }
    val fused = (lex.toSeq ++ sem)
      .map { case (q, d, r) => ((q, d), 1000000L / (60L + r)) }
      .groupBy(_._1)
      .map { case ((q, d), cs) => (q, d, cs.map(_._2).sum, cs.size.toLong) }
    val want = fused.groupBy(_._1).toSeq.flatMap { case (q, rows) =>
      rows.toSeq.sortBy(t => (-t._3, t._2)).take(10).zipWithIndex
        .map { case ((_, d, s, n), i) => (q, d, s, n, (i + 1).toLong) }
    }.toSet
    val got = Hybrid.s12HybridRrf(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got === want)
    assert(got.nonEmpty)
    // Non-degenerate fusion: at least one doc must be carried by each leg
    // shape somewhere in the result (all-lexical or all-semantic output
    // would mean a leg silently dropped out).
    val lexSet = lex.map(t => (t._1, t._2)).toSet
    val semSet = sem.map(t => (t._1, t._2)).toSet
    assert(got.exists(t => lexSet.contains((t._1, t._2))), "no lexical doc survived fusion")
    assert(got.exists(t => semSet.contains((t._1, t._2))), "no semantic doc survived fusion")
  }

  test("e13 paths agree with the window formulation and never plan a per-user window sort") {
    val ev = Tables(spark, dir).events
      .select(col("user_id"), expr("ts DIV 1000").as("ts_us"),
        col("event_id"), col("event_type"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val maxLen = 8
    val want = ev
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= maxLen)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (_, rows) =>
        rows.sortBy(r => (r.getLong(1), r.getLong(2))).map(_.getString(3)).mkString(">")
      }
      .groupBy(identity).map { case (p, xs) => (p, xs.size.toLong) }
      .toSeq.sortBy(t => (-t._2, t._1)).take(20).toSet
    val df = streaming.Events.e13PathAnalysis(spark, dir)
    val got = df.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got === want)
    assert(got.nonEmpty)
    // Truncation is real: no path may exceed maxLen hops.
    assert(got.forall(_._1.split('>').length <= maxLen))
    // The collect+array_sort form exists to avoid shuffling and sorting
    // the full event history per user — a Window node means it regressed.
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("RunningWindowFunction") && !plan.contains("Window("),
      s"per-user window sort in the path plan:\n$plan")
  }

  test("t28 export is seed-deterministic, seed-sensitive, and shard-complete") {
    val a = functions.Export.t28ShuffleExport(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    val b = functions.Export.t28ShuffleExport(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(a.toSet === b.toSet, "same seed must reproduce the identical layout")
    // Every hex shard is populated (uniformity at 500 docs / 16 shards),
    // and in-shard positions are exactly 1..n — a writer can stream each
    // shard out with no gaps and no coordination.
    val byShard = a.groupBy(_._2)
    assert(byShard.keySet.size === 16, s"shards seen: ${byShard.keySet.toSeq.sorted}")
    byShard.foreach { case (s, rows) =>
      assert(rows.map(_._4).sorted.toSeq === (1L to rows.size).toSeq,
        s"shard $s positions not contiguous")
    }
    // A new seed is a new permutation: some document must change position.
    val c = functions.Export.t28ShuffleExport(spark, dir, seed = "epoch1")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3))).toSet
    assert(c !== a.map(r => (r._1, r._2, r._4)).toSet,
      "changing the seed must reshuffle")
  }

  test("minRelaxTraverse requireConverged: truncation refuses instead of returning a ≤R-walk answer") {
    val ss = spark
    import ss.implicits._
    // A 6-node directed path needs 5 rounds to converge from the head;
    // maxRounds=3 truncates. Without the flag: bounded-walk semantics
    // (documented); with it: loud refusal naming the lever.
    val path = (1L to 5L).map(i => (i, i + 1)).toDF("src", "dst")
    val init = Seq((1L, 0L)).toDF("node", "state")
    val truncated = operators.GraphIter.minRelaxTraverse(
      path, init, maxRounds = 3)((s, _) => s + 1)
    assert(truncated.count() === 4L, "bounded-walk semantics unchanged without the flag")
    val e = intercept[IllegalStateException] {
      operators.GraphIter.minRelaxTraverse(
        path, init, maxRounds = 3, requireConverged = true)((s, _) => s + 1)
    }
    assert(e.getMessage.contains("raise maxRounds"))
    // Converged runs pass the certificate and agree with the unbounded answer.
    val ok = operators.GraphIter.minRelaxTraverse(
      path, init, maxRounds = 16, requireConverged = true)((s, _) => s + 1)
    assert(ok.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      (1L to 6L).map(i => i -> (i - 1)).toMap)
  }

  test("g29 SCC refuses a coloring truncated at maxRounds (ring wider than the budget)") {
    val ss = spark
    import ss.implicits._
    // A 12-ring is ONE SCC of diameter 11: maxRounds=4 truncates the
    // color pass. The advice scenario — without the certificate this
    // returned 12 plausible singletons; now it refuses naming maxRounds.
    val ring = (0L until 12L).map(i => (i, (i + 1) % 12))
      .map { case (a, b) => (f"n$a%02d", f"n$b%02d") }.toDF("src", "dst")
    val e = intercept[IllegalStateException] {
      operators.CycleAudit.stronglyConnected(ring, maxRounds = 4).collect()
    }
    assert(e.getMessage.contains("raise `maxRounds`"))
    // With an adequate budget the ring is one SCC labeled by its min.
    val got = operators.CycleAudit.stronglyConnected(ring, maxRounds = 16).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got === (0L until 12L).map(i => f"n$i%02d" -> "n00").toMap)
  }

  test("cycleMembers fixpoint certificates: undersized peel/doubling levers refuse, not misreport") {
    val ss = spark
    import ss.implicits._
    // A 6-deep acyclic chain feeding a 2-ring: peelRounds=3 cannot peel
    // the chain — pre-certificate this reported chain nodes as ring
    // members; now it refuses naming peelRounds.
    val chain = (1L to 6L).map(i => (i, i + 1)) ++ Seq((7L, 8L), (8L, 7L))
    val eChain = chain.toDF("child", "parent")
    val e1 = intercept[IllegalArgumentException] {
      operators.CycleAudit.cycleMembers(eChain, peelRounds = 3).collect()
    }
    assert(e1.getMessage.contains("raise peelRounds"))
    // A 40-ring with doublings=3 (coverage 9 < 40) holds inconsistent
    // non-minimum labels — refused; doublings=6 (coverage 65) passes and
    // labels every member with the ring min.
    val ring = (0L until 40L).map(i => (i + 100L, (i + 1L) % 40L + 100L)).toDF("child", "parent")
    val e2 = intercept[IllegalArgumentException] {
      operators.CycleAudit.cycleMembers(ring, doublings = 3).collect()
    }
    assert(e2.getMessage.contains("raise doublings"))
    val got = operators.CycleAudit.cycleMembers(ring, doublings = 6).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (100L until 140L).map(i => i -> 100L).toMap)
    // Early peel exit: a converged peel stops before the budget (the
    // certificate round observes no shrink) — same answer, fewer rounds.
    val small = Seq((1L, 2L), (2L, 1L), (3L, 1L)).toDF("child", "parent")
    assert(operators.CycleAudit.cycleMembers(small, peelRounds = 64).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap === Map(1L -> 1L, 2L -> 1L))
  }

  test("g30 weighted Louvain: tie strength changes the communities and wins on weighted modularity") {
    val ss = spark
    import ss.implicits._
    // A 6-path with heavy pairs (w=9) linked by weak ties (w=1): the
    // weighted optimum is the three heavy pairs; unit weights see only
    // topology and group {1,2,3},{4,5,6}. This is exactly the reference's
    // tie-strength semantics — months of overlap should bind, degree
    // alone shouldn't.
    val e = Seq((1L, 2L, 9L), (2L, 3L, 1L), (3L, 4L, 9L), (4L, 5L, 1L), (5L, 6L, 9L))
      .toDF("src", "dst", "w")
    def symOf(d: org.apache.spark.sql.DataFrame) = d.unionByName(
      d.select(col("dst").as("src"), col("src").as("dst"), col("w")))
    val sym = symOf(e)
    val weighted = operators.Louvain.louvain(sym).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(weighted === Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 5L, 6L -> 5L),
      s"heavy pairs must bind: $weighted")
    val unit = operators.Louvain.louvain(symOf(e.withColumn("w", lit(1L)))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(unit === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 4L),
      s"unit weights see only topology: $unit")
    // Under WEIGHTED modularity the weighted labeling strictly wins
    // (measured 597502µ vs 189654µ) — the weights flowed through the
    // gain algebra, not just the fixture.
    def q(lab: Map[Long, Long]) = operators.Louvain.modularityMicro(
      sym, lab.toSeq.toDF("node", "com"))
    assert(q(weighted) > q(unit) + 300000L, s"${q(weighted)} vs ${q(unit)}")
    // Stats surface on the weighted labeling: per heavy pair n_nodes=2,
    // vol = 2·9 + the incident weak ties, in_sym = 18 (both directions),
    // cut = the weak ties, conductance = cut/min(vol, 2m−vol) in micro.
    val stats = operators.Louvain.communityStats(
      sym, weighted.toSeq.toDF("node", "com")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(stats === Map(
      1L -> ((2L, 19L, 18L, 1L, 52631L)),   // vol 9+9+1, cut 1, 1/19
      3L -> ((2L, 20L, 18L, 2L, 100000L)),  // vol 9+9+1+1, cut 2, 2/20
      5L -> ((2L, 19L, 18L, 1L, 52631L))), s"stats: $stats")
    // And the keyed g30 runs on the gate corpus with internally
    // consistent rows: vol ≥ in_sym, cut = vol − in_sym ≥ 0.
    val rows = operators.Louvain.g30WeightedLouvain(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) >= r.getLong(3) && r.getLong(4) === r.getLong(2) - r.getLong(3),
        s"inconsistent stats row: $r")
    }
  }

  test("t32 BPE encode: hand-checked piece counts under a pinned merge table") {
    val ss = spark
    import ss.implicits._
    // Merge table from the t31 pinned fixture: 1:(a,b) 2:(ab,ab) 3:(a,ab).
    val vocab = Seq(("abab", 2L), ("aab", 1L)).toDF("word", "freq")
    val merges = functions.Bpe.trainMerges(vocab, rounds = 3).collect()
      .sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges === Seq(("a", "b"), ("ab", "ab"), ("a", "ab")))
    // Hand encode: abab → [ab,ab] → [abab] (1); aab → [a,ab] → [aab] (1 —
    // the rank-3 merge only applies because rank order is respected);
    // ba → untouched (2); abc → [ab,c] (2).
    val words = Seq("abab", "aab", "ba", "abc").toDF("word")
    val got = functions.Bpe.encodeWords(words, merges).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("abab" -> 1L, "aab" -> 1L, "ba" -> 2L, "abc" -> 2L), s"got $got")
    // Gate-shape sanity on the corpus: every doc appears exactly once,
    // 1 ≤ pieces ≤ chars per word (n_words ≤ n_bpe_tokens), zero-word
    // docs report zeros rather than vanishing.
    val out = functions.Bpe.t32BpeEncode(spark, dir).collect()
    val nDocs = Tables(spark, dir).documents.count()
    assert(out.length.toLong === nDocs)
    out.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1), s"pieces < words on ${r.getLong(0)}")
    }
    assert(out.exists(_.getLong(2) > 0L))
  }

  test("encodeWords pins every pass: hand-checked piece counts") {
    val ss = spark
    import ss.implicits._
    // Every pass is pinned, so the chain is cut and restarted from a
    // LogicalRDD after each merge. Includes the l == r overlap case
    // ("aaaa" under (a,a)) so the islands idiom crosses a pin too.
    val merges = Seq(("a", "a"), ("aa", "b"), ("c", "d"), ("aab", "cd"), ("e", "f"))
    val words = Seq("aaaabcdef", "aabcd", "aaaa", "xyz", "ef", "aabcdaabcd").toDF("word")
    val got = functions.Bpe.encodeWords(words, merges)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // Hand-check one word end to end: aaaabcdef → (a,a) greedy L2R →
    // [aa,aa,b,c,d,e,f] → (aa,b): [aa,aab,c,d,e,f] → (c,d):
    // [aa,aab,cd,e,f] → (aab,cd): [aa,aabcd,e,f] → (e,f): [aa,aabcd,ef] = 3.
    assert(got("aaaabcdef") === 3L)
    // aaaa → (a,a) greedy L2R chooses positions 1 and 3 → [aa,aa]; no
    // (aa,aa) merge exists, so it stays 2 pieces.
    assert(got("aaaa") === 2L)
    assert(got("xyz") === 3L)
    // aabcd → (a,a): [aa,b,c,d] → (aa,b): [aab,c,d] → (c,d): [aab,cd]
    // → (aab,cd): [aabcd] = 1; twice over = 2; ef → (e,f) = 1.
    assert(got("aabcd") === 1L)
    assert(got("aabcdaabcd") === 2L)
    assert(got("ef") === 1L)
  }

  test("t32 piece-table routing: forced plain equijoin emits exactly the broadcast-route rows") {
    // A -1 broadcast threshold forces the plain shuffle equijoin on
    // `word`; the default at spec scale broadcasts. The probe-then-route
    // decision is a plan change, never a result change.
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val bcast = functions.Bpe.t32BpeEncode(spark, dir).collect().map(key).toSet
    val plain = TestConf.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      functions.Bpe.t32BpeEncode(spark, dir).collect().map(key).toSet
    }
    assert(plain === bcast)
    assert(bcast.nonEmpty)
  }

  test("t33/t34 bill by the TRAINED tokenizer's counts (t32), not the pre-tokenizer's") {
    val enc = functions.Bpe.t32BpeEncode(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    // t33: the packing offsets are exactly the doc_id-ordered prefix
    // sums of t32's n_bpe_tokens (budget 2048) — recomputed by hand.
    val packed = functions.Bpe.t33PackBpe(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(packed.length === enc.size)
    var run = 0L
    packed.foreach { case (docId, n, seqId, off) =>
      assert(n === enc(docId), s"t33 billed $n but t32 counted ${enc(docId)} for doc $docId")
      assert(seqId === run / 2048 && off === run % 2048, s"offset drift at doc $docId")
      run += n
    }
    // t34: per-source availability is the sum of t32 counts; takes obey
    // the water-fill contract (take ≤ avail, Σtake ≤ 9/10·Σavail,
    // capped ⇔ the source contributes everything).
    val ss = spark
    import ss.implicits._
    val srcOf = Tables(spark, dir).documents.select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val availExp = enc.toSeq.groupBy { case (d, _) => srcOf(d) }
      .map { case (s, xs) => s -> xs.map(_._2).sum }
    val mix = functions.Bpe.t34MixBpe(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3), r.getLong(4)))
    assert(mix.map(_._1).toSet === availExp.keySet)
    mix.foreach { case (s, avail, take, capped) =>
      assert(avail === availExp(s), s"t34 avail for $s is $avail, t32 sums to ${availExp(s)}")
      assert(take <= avail && take >= 0L)
      if (capped == 1L) assert(take === avail, s"capped source $s must contribute everything")
    }
    val budget = availExp.values.sum * 9 / 10
    assert(mix.map(_._3).sum <= budget)
  }

  test("t35 fertility: slice sums cross-check t32 and a local re-tokenization; ratios are the integer micros") {
    // Local re-derivation of the word-class stats (the trainer's domain:
    // lowercase alpha runs of 2–12 chars) — independent of the Spark
    // regexp/explode path.
    val docs = Tables(spark, dir).documents
      .select("doc_id", "text", "lang", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    val re = "[a-z]+".r
    val localWC = docs.map { case (id, text, _, _) =>
      val ws = re.findAllIn(text.toLowerCase).filter(w => w.length >= 2 && w.length <= 12).toSeq
      id -> ((ws.size.toLong, ws.map(_.length.toLong).sum))
    }.toMap
    val enc = functions.Bpe.t32BpeEncode(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // Shared-substrate sanity: t32's word counts ARE the local word
    // counts (same word class, same corpus).
    docs.foreach { case (id, _, _, _) =>
      assert(enc(id)._1 === localWC(id)._1, s"t32 word count drift on doc $id")
    }
    val expected = docs.groupBy { case (_, _, lang, source) => (lang, source) }
      .map { case (k, ds) =>
        val w = ds.map(d => localWC(d._1)._1).sum
        val c = ds.map(d => localWC(d._1)._2).sum
        val t = ds.map(d => enc(d._1)._2).sum
        k -> ((ds.length.toLong, w, c, t,
          if (w > 0) t * 1000000L / w else 0L,
          if (t > 0) c * 1000000L / t else 0L))
      }
    val got = functions.Bpe.t35TokenizerFertility(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))))
      .toMap
    assert(got === expected, s"t35 slices drifted: got $got expected $expected")
    // The gate corpus exercises the ratio paths for real: at least one
    // slice has words (fertility ≥ 1.0 in micro — a piece never splits
    // below one per word).
    assert(got.values.exists(_._5 >= 1000000L))
    // Forced routing: a -1 broadcast threshold forces the plain
    // word-keyed equijoin through the shared substrate — a plan change,
    // never a value change (the same contract t32 pins).
    val plain = TestConf.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      functions.Bpe.t35TokenizerFertility(spark, dir)
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))))
        .toMap
    }
    assert(plain === got)
  }

  test("walkEmbed: ALS over the walk-cooccurrence lift matrix separates the communities") {
    val ss = spark
    import ss.implicits._
    // Crafted two-community walk corpus (the SGNS semantic on its
    // smallest instance): pair-walks cover every within-community pair
    // UNIFORMLY and often (positive PPMI), while a thin set of bridge
    // walks makes each cross pair OBSERVED at sub-1 lift — clipped to a
    // zero rating, the negative evidence that pins the two communities'
    // subspaces apart. A rank-2 factorization must then place
    // within-community nodes closer (cosine) than cross-community ones
    // — the property DeepWalk/node2vec pipelines train FOR (Levy &
    // Goldberg 2014: SGNS factorizes this matrix's shifted PMI).
    // Lift is cnt·N/(c_a·c_b): with only two communities, uniform
    // within-block co-occurrence sits at chance (lift → 1, PMI → 0), so
    // a third background community inflates N without touching A/B
    // marginals — within-block lift rises above chance and the signal
    // is real, exactly as in a many-community corpus.
    val a = Seq("a1", "a2", "a3", "a4")
    val b = Seq("b1", "b2", "b3", "b4")
    val c = Seq("c1", "c2", "c3", "c4")
    def pairWalks(ns: Seq[String], base: Long): Seq[(Long, Long, String)] = {
      val pairs = for (i <- ns.indices; j <- ns.indices; if i < j) yield (ns(i), ns(j))
      pairs.zipWithIndex.flatMap { case ((x, y), p) =>
        (0 until 4).flatMap { rep =>
          val w = base + p * 4 + rep
          Seq((w, 0L, x), (w, 1L, y))
        }
      }
    }
    val bridges = (for (x <- a; y <- b) yield (x, y)).zipWithIndex.flatMap {
      case ((x, y), i) => Seq((1000L + i, 0L, x), (1000L + i, 1L, y))
    }
    val walks = (pairWalks(a, 0L) ++ pairWalks(b, 100L) ++ pairWalks(c, 200L) ++ bridges)
      .toDF("walker", "step", "node")
    val cooc = operators.GraphIter.walkCooccurrence(walks, window = 2)
    // Rank 2 on a block-diagonal PPMI matrix: the factorization has no
    // better use for its two directions than one per community, so the
    // separation signal is maximal and the assertion tight.
    val emb = operators.WalkEmbed.factorizeCooc(cooc, rank = 2, iters = 10)
      .collect().map(r => r.getString(0) -> r.getSeq[Float](1).toArray).toMap
    assert(emb.keySet === (a ++ b ++ c).toSet)
    assert(emb.values.forall(_.length === 2))
    def cos(x: Array[Float], y: Array[Float]): Double = {
      val d = x.zip(y).map { case (p, q) => p.toDouble * q }.sum
      val nx = math.sqrt(x.map(p => p.toDouble * p).sum)
      val ny = math.sqrt(y.map(p => p.toDouble * p).sum)
      d / (nx * ny + 1e-12)
    }
    def meanCos(xs: Seq[String], ys: Seq[String]): Double = {
      val ps = for (x <- xs; y <- ys; if x < y) yield cos(emb(x), emb(y))
      ps.sum / ps.size
    }
    val within = (meanCos(a, a) + meanCos(b, b)) / 2
    val cross = {
      val ps = for (x <- a; y <- b) yield cos(emb(x), emb(y))
      ps.sum / ps.size
    }
    assert(within > cross + 0.3,
      s"embedding must separate the communities: within $within vs cross $cross")
    // Seeded determinism: the factorization is engine-reproducible.
    val emb2 = operators.WalkEmbed.factorizeCooc(cooc, rank = 2, iters = 10)
      .collect().map(r => r.getString(0) -> r.getSeq[Float](1).toArray).toMap
    (a ++ b).foreach { n =>
      emb(n).zip(emb2(n)).foreach { case (p, q) =>
        assert(math.abs(p - q) < 1e-6f, s"non-deterministic factor for $n")
      }
    }
  }

  test("expandHierarchy distinguishes deep-tree refusal from cycle refusal") {
    val ss = spark
    import ss.implicits._
    val deep = (1L to 12L).map(i => (s"n$i", s"n${i + 1}")).toDF("child", "parent")
    val e = intercept[IllegalStateException] {
      operators.GraphOps.expandHierarchy(deep, maxDepth = 4).collect()
    }
    assert(e.getMessage.contains("raise maxDepth"), e.getMessage)
  }

  test("expandHierarchy expands a chain exactly maxDepth deep and refuses one level deeper") {
    val ss = spark
    import ss.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // A k-edge chain n1 → n2 → ... → n(k+1): node ni has k + 1 − i
    // ancestors, k(k+1)/2 closure rows in all, and level k + 1 is empty.
    val k = 5
    val chain = (1 to k).map(i => (s"n$i", s"n${i + 1}")).toDF("child", "parent")
    val full = operators.GraphOps.expandHierarchy(chain, maxDepth = k)
    assert(full.count() === k * (k + 1) / 2L)
    assert(full.agg(max("depth")).head().getInt(0) === k)
    Superstep.release(full)
    val e = intercept[IllegalStateException] {
      operators.GraphOps.expandHierarchy(chain, maxDepth = k - 1)
    }
    assert(e.getMessage.contains("raise maxDepth"), e.getMessage)
    // The refusal released every level it had pinned.
    assert(spark.sparkContext.getPersistentRDDs.keySet === before)
  }
}
