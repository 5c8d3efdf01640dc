package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.similarity.Ann

/** Recall specs for the TRAINED ANN variants — the production half the
  * oracle can't check (quantizer quality has no exact SQL ground truth;
  * the measure is recall against the brute-force ranking).
  */
class AnnSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.create("graft-ann-test", master = "local[4]")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** query_id -> top-k neighbor set. */
  private def topkSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rows) => q -> rows.map(_.getAs[Long]("neighbor_id")).toSet }

  private def recallAt10(got: Map[Long, Set[Long]], truth: Map[Long, Set[Long]]): Double = {
    val per = truth.map { case (q, t) =>
      got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
    }
    per.sum / per.size
  }

  private lazy val truth = topkSets(Ann.s1CosineTopK(spark, dir))

  test("s5 range search equals the brute-force radius set and its gate is non-empty") {
    import org.apache.spark.sql.functions._
    val emb = Tables(spark, dir).embeddings
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    // Independent formulation: HOF cosine (spec-proven bit-identical to
    // the native expression) over the same cross product.
    val scored = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"))
      .crossJoin(broadcast(queries))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", Ann.cosineHof(col("q_emb"), col("n_emb")))
      .select("query_id", "neighbor_id", "sim")
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"), r.getAs[Double]("sim")))
    // Threshold = median similarity of the actual data: the expected set is
    // guaranteed non-empty AND a strict subset, so a predicate that drops
    // everything, keeps everything, or compares the wrong columns all fail.
    val sims = scored.map(_._3).sorted
    val threshold = sims(sims.length / 2)
    val expected = scored.collect { case (q, n, s) if s >= threshold => (q, n) }.toSet
    assert(expected.nonEmpty, "degenerate spec: empty radius set")
    assert(expected.size < scored.length, "degenerate spec: radius set is all pairs")
    val got = Ann.s5RangeSearch(spark, dir, threshold).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(got === expected)
    // s1 consistency: every top-k neighbor at or above the radius must be
    // in the radius set (top-k answers "closest k"; radius answers "all
    // within" — they agree on the intersection).
    val s1InRadius = Ann.s1CosineTopK(spark, dir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .filter { case (q, n) => scored.exists(t => t._1 == q && t._2 == n && t._3 >= threshold) }
    s1InRadius.foreach(p => assert(got.contains(p), s"s1 neighbor $p missing from s5 radius set"))
  }

  test("trained random-hyperplane LSH (multi-probe) reaches recall@10 >= 0.7 vs brute force") {
    val got = topkSets(Ann.s2LshAnnTrained(spark, dir))
    val r = recallAt10(got, truth)
    assert(r >= 0.7, f"s2 trained recall@10 = $r%.3f")
  }

  test("trained k-means IVF (nProbe=2) reaches recall@10 >= 0.7 vs brute force") {
    val got = topkSets(Ann.s3CentroidIvfTrained(spark, dir))
    val r = recallAt10(got, truth)
    assert(r >= 0.7, f"s3 trained recall@10 = $r%.3f")
  }

  test("s9 probe routes under the scan limit to the exact tier: answer == brute force") {
    val got = Ann.s9AnnAuto(spark, dir).collect().map(_.toSeq).toSeq
    val exact = Ann.s1CosineTopK(spark, dir).collect().map(_.toSeq).toSeq
    assert(got === exact)
  }

  test("s9 forced escalation (limit 0) takes the trained-IVF tier and holds the recall floor") {
    val escalated = Ann.s9AnnAuto(spark, dir, exactScanLimit = 0L)
    val r = recallAt10(topkSets(escalated), truth)
    assert(r >= 0.7, f"s9 escalated recall@10 = $r%.3f")
    // And it genuinely routed: row-identical to the s3 trained path, not a
    // silently-exact answer wearing the escalation flag.
    assert(escalated.collect().map(_.toSeq).toSeq ===
      Ann.s3CentroidIvfTrained(spark, dir).collect().map(_.toSeq).toSeq)
  }

  test("k-means training is deterministic: identical centroids across runs") {
    def snap() = Ann.trainedCentroids(spark, dir)
      .collect()
      .map(r => (r.getAs[Long]("cent_id"), r.getSeq[Float](1)))
      .sortBy(_._1)
      .toSeq
    assert(snap() === snap())
  }

  test("persisted vector index: query matches an unbucketed replay, recall holds, probe is exchange-free") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft-vecidx").toString
    val emb = Tables(spark, dir).embeddings
    similarity.VectorIndex.build(spark, emb, s"$tmp/idx")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))

    val got = similarity.VectorIndex.query(spark, queries, s"$tmp/idx")

    // 1. Layout independence: the same ranking recomputed from the stored
    // artifacts read as PLAIN parquet (no bucketed table, no layout) must
    // be row-identical — the bucketing changes the plan, never the answer.
    val cdf = spark.read.parquet(s"$tmp/idx/centroids")
    val cells = spark.read.parquet(s"$tmp/idx/cells")
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("c_sim").desc, col("cent_id").asc)
    val probes = queries.crossJoin(broadcast(cdf))
      .withColumn("c_sim", Ann.cosine(col("q_emb"), col("c_emb")))
      .withColumn("prn", row_number().over(wProbe)).filter(col("prn") <= 2)
      .select(col("query_id"), col("q_emb"), col("cent_id").as("cell"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id").asc)
    val replay = cells.select(col("vec_id").as("neighbor_id"), col("emb").as("n_emb"), col("cell"))
      .join(probes, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", Ann.cosine(col("q_emb"), col("n_emb")))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 10)
      .select("query_id", "rank", "neighbor_id").orderBy("query_id", "rank")
    assert(got.collect().map(_.toString).toSeq === replay.collect().map(_.toString).toSeq)

    // 2. Quality: the persisted index must search as well as the
    // train-per-run variant it replaces.
    val r = recallAt10(topkSets(got), truth)
    assert(r >= 0.7, f"vector-index recall@10 = $r%.3f")

    // 2b. Append: new vectors land in their argmax cell of the STORED
    // quantizer and become findable; a copy of an indexed vector must
    // probe to rank 1 against its original (cos = 1 is maximal).
    val probeVec = emb.filter(col("vec_id") === 11).head().getSeq[Float](1)
    val ss = spark
    import ss.implicits._
    val extra = Seq((1000000L, probeVec)).toDF("vec_id", "embedding")
    similarity.VectorIndex.append(spark, extra, s"$tmp/idx")
    val found = similarity.VectorIndex.query(
      spark, extra.select(col("vec_id").as("query_id"), col("embedding").as("q_emb")),
      s"$tmp/idx", k = 1)
      .head()
    assert(found.getAs[Long]("neighbor_id") === 11L)

    // 3. Scale shape: the innermost join above the bucketed cell scan has
    // no exchange on that side (with broadcast off, so the shuffle-join
    // path is what's audited — at batch scale that IS the plan).
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    TestConf.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val plan = similarity.VectorIndex.query(spark, queries, s"$tmp/idx")
        .queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
      val joins = plan.collectWithSubqueries {
        case j: SortMergeJoinExec => j
        case j: ShuffledHashJoinExec => j
      }
      val indexSides = joins.flatMap(_.children.filter { c =>
        val scan = c.collectFirst { case f: FileSourceScanExec if f.bucketedScan => f }.isDefined
        val nested = c.collectFirst {
          case j: SortMergeJoinExec => j
          case j: ShuffledHashJoinExec => j
        }.isDefined
        scan && !nested
      })
      assert(indexSides.nonEmpty, s"no join side reads the bucketed cell layout:\n$plan")
      indexSides.foreach(side =>
        assert(side.collectFirst { case e: ShuffleExchangeLike => e }.isEmpty,
          s"index side of the probe join shuffles:\n$side"))
    }
  }

  test("vector index lifecycle: guarded-disjoint append folds == rebuild, compaction is content-identical") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft-vecidx-life").toString
    val emb = Tables(spark, dir).embeddings
    val b1 = emb.filter(col("vec_id") % 2 === 0)
    val b2 = emb.filter(col("vec_id") % 2 === 1)
    similarity.VectorIndex.build(spark, b1, s"$tmp/idx")
    similarity.VectorIndex.append(spark, b2, s"$tmp/idx")
    def cellsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = df
      .select(col("vec_id"), col("cell").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Fold == rebuild under the FIXED quantizer: the incrementally-built
    // cell table must equal assigning the whole corpus against the stored
    // centroids in one shot (the SignatureIndex append==rebuild contract).
    val expected = cellsOf(similarity.VectorIndex.assignCells(
      emb, similarity.VectorIndex.centroids(spark, s"$tmp/idx")))
    assert(cellsOf(similarity.VectorIndex.cellTable(spark, s"$tmp/idx")) === expected)
    // Re-appending an indexed vec_id must fail LOUDLY (a silent duplicate
    // cell row would double-rank that vector in every probe).
    val e = intercept[IllegalArgumentException] {
      similarity.VectorIndex.append(spark, b2.limit(1), s"$tmp/idx")
    }
    assert(e.getMessage.contains("disjoint"))
    // Compaction: strictly fewer files (one per bucket), identical cell
    // content, identical query answers — layout maintenance, never a
    // semantic change.
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val preQ = similarity.VectorIndex.query(spark, queries, s"$tmp/idx")
      .collect().map(_.toString).toSeq
    val (nBefore, nAfter) = similarity.VectorIndex.compact(spark, s"$tmp/idx")
    assert(nAfter <= 8 && nAfter < nBefore,
      s"compaction must collapse to ≤1 file per bucket: $nBefore -> $nAfter")
    assert(cellsOf(similarity.VectorIndex.cellTable(spark, s"$tmp/idx")) === expected)
    val postQ = similarity.VectorIndex.query(spark, queries, s"$tmp/idx")
      .collect().map(_.toString).toSeq
    assert(postQ === preQ, "compaction changed query answers")
  }

  test("vector index seeds nCells cells from a frame without ids 0..nCells-1") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft-vecidx-high").toString
    val emb = Tables(spark, dir).embeddings.filter(col("vec_id") >= 100)
    similarity.VectorIndex.build(spark, emb, s"$tmp/idx", nCells = 8)
    // The seed is the frame's first 8 ids in vec_id order, one cell each.
    val seed = emb.orderBy("vec_id").limit(8).collect().map(_.getLong(0)).toSeq
    val cents = similarity.VectorIndex.centroids(spark, s"$tmp/idx")
      .collect().map(_.getAs[Long]("cent_id")).sorted.toSeq
    assert(cents === seed)
    val queries = emb.filter(col("vec_id") < 110)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val got = similarity.VectorIndex.query(spark, queries, s"$tmp/idx").collect()
    assert(got.nonEmpty)
    assert(got.map(_.getAs[Long]("query_id")).toSet === (100L until 110L).toSet)
  }

  test("exact k-means seeds k cells from a frame without ids 0..k-1") {
    import org.apache.spark.sql.functions._
    val emb = Tables(spark, dir).embeddings.filter(col("vec_id") >= 100)
    val cents = similarity.Cluster.trainExact(emb, k = 8)
    // The seed is the frame's first 8 ids in vec_id order, one cell each.
    assert(cents.map(_._1) === (100L until 108L))
    val clusters = similarity.Cluster.assignFrozen(emb, cents)
      .groupBy("cluster").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!clusters.contains(-1L), s"vectors with no cell: ${clusters.get(-1L)}")
    assert(clusters.values.sum === emb.count())
  }

  test("each similarity search step is written in one member of src/main/scala") {
    // The ranking tie-break, the cosine cell window, the 512-grid
    // quantizer, the Lloyd (cell, dimension) update and the hyperplane
    // signature bit each have one definition the keys call.
    val steps = Seq(
      "per-query top-k tie-break" -> "col(\"neighbor_id\").asc",
      "cosine cell window" -> "col(\"c_sim\").desc",
      "512-grid quantizer" -> "lit(512.0)",
      "Lloyd update" -> "groupBy(\"cell\", \"pos\")",
      "hyperplane signature" -> "shiftleft(CAST(1 AS BIGINT)")
    steps.foreach { case (step, text) =>
      val members = MainSources.lines.filter(l => l.isCode && l.text.contains(text))
        .map(l => l.fileName -> l.member).distinct
      assert(members.size === 1, s"$step ($text) in ${members.mkString(", ")}")
    }
  }

  test("filtered query inside the IVF tier: pre-filter under the cell probe, post-filter starves") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft-vecidx-filt").toString
    val emb = Tables(spark, dir).embeddings
    similarity.VectorIndex.build(spark, emb, s"$tmp/idx")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val allowed = Tables(spark, dir).documents.filter(col("lang") === "en")
      .select(col("doc_id").as("neighbor_id"))
    val allowedIds = allowed.collect().map(_.getLong(0)).toSet

    val filtered = similarity.VectorIndex
      .queryFiltered(spark, queries, s"$tmp/idx", allowed).collect()
    // Every neighbor passes the predicate, and every query fills k.
    assert(filtered.nonEmpty)
    assert(filtered.forall(r => allowedIds.contains(r.getAs[Long]("neighbor_id"))))
    val perQ = filtered.groupBy(_.getAs[Long]("query_id")).view.mapValues(_.length).toMap
    assert(perQ.values.forall(_ === 10), s"pre-filter must fill k inside probed cells: $perQ")

    // The trap the composition exists to avoid: post-filtering the
    // UNFILTERED index top-k starves for at least one query.
    val unfiltered = similarity.VectorIndex.query(spark, queries, s"$tmp/idx").collect()
    val postPerQ = unfiltered.filter(r => allowedIds.contains(r.getAs[Long]("neighbor_id")))
      .groupBy(_.getAs[Long]("query_id")).view.mapValues(_.length).toMap
    assert(perQ.keys.exists(q => postPerQ.getOrElse(q, 0) < 10),
      s"expected post-filter starvation for some query: $postPerQ")
    // And the filtered top-k contains every post-filter survivor.
    val survivors = unfiltered.filter(r => allowedIds.contains(r.getAs[Long]("neighbor_id")))
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val filteredSet = filtered
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(survivors.subsetOf(filteredSet))

    // Exhaustive-k agreement: with k unbounded both forms rank the same
    // probed-cell candidates, so filtered == post-filtered, row for row.
    val fAll = similarity.VectorIndex
      .queryFiltered(spark, queries, s"$tmp/idx", allowed, k = Int.MaxValue)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val uAll = similarity.VectorIndex
      .query(spark, queries, s"$tmp/idx", k = Int.MaxValue)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .filter(p => allowedIds.contains(p._2)).toSet
    assert(fAll === uAll)

    // Plan: the allowed-id semi-join must sit UNDER the ranking window —
    // the scoring projection never sees a disallowed row.
    val plan = similarity.VectorIndex.queryFiltered(spark, queries, s"$tmp/idx", allowed)
      .queryExecution.optimizedPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, s"expected a ranking window:\n$plan")
    val semiUnderWindow = windows.exists(_.collectFirst {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
    }.isDefined)
    assert(semiUnderWindow, s"allowed-id semi-join must land under the ranking window:\n$plan")
  }

  test("s6 exact k-means matches a single-machine integer reference and shuffles only for the output sort") {
    import org.apache.spark.sql.functions._
    val k = 8; val iters = 2
    // Single-machine reference: the same exact-arithmetic recipe in plain
    // Scala over the collected corpus — INCLUDING the deterministic
    // bounded training sample (md5('ktrain:'||id) order, TrainCap rows),
    // re-derived here with java MessageDigest so the engine's sampled
    // Lloyd loop is pinned against a fully independent implementation.
    val vecs: Seq[(Long, Array[Long])] = Tables(spark, dir).embeddings
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 512.0 + 0.5).toLong).toArray))
      .toSeq.sortBy(_._1)
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val trainIds: Set[Long] = vecs.map(_._1)
      .sortBy(id => (md5hex(s"ktrain:$id"), id))
      .take(similarity.Cluster.TrainCap).toSet
    // The sample must be a strict subset here, else the gate is vacuous.
    assert(trainIds.size < vecs.size,
      s"corpus ${vecs.size} must exceed TrainCap ${similarity.Cluster.TrainCap}")
    val train = vecs.filter(v => trainIds.contains(v._1))
    var cents: Seq[(Long, Array[Long], Long)] =
      vecs.take(k).map { case (id, q) => (id, q, 1L) }
    def assignOf(rows: Seq[(Long, Array[Long])]): Map[Long, Long] = rows.map { case (id, q) =>
      val best = cents.minBy { case (cell, s, n) =>
        var d = 0L
        var i = 0
        while (i < q.length) { val t = n * q(i) - s(i); d += t * t; i += 1 }
        (d.toDouble / (n * n).toDouble, cell)
      }
      id -> best._1
    }.toMap
    for (_ <- 1 to iters) {
      val byCell = assignOf(train).toSeq.groupBy(_._2)
      cents = cents.map { case (cell, s0, n0) =>
        byCell.get(cell) match {
          case Some(members) =>
            val s = new Array[Long](s0.length)
            val byId = vecs.toMap
            members.foreach { case (id, _) =>
              val q = byId(id)
              var i = 0; while (i < q.length) { s(i) += q(i); i += 1 }
            }
            (cell, s, members.size.toLong)
          case None => (cell, s0, n0)
        }
      }
    }
    val want = assignOf(vecs)
    val got = similarity.Cluster.s6KmeansCluster(spark, dir, k, iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
    assert(got.values.toSet.size > 1, "degenerate clustering: all vectors in one cell")
    // Assignment is a pure projection: the only exchange in the whole
    // query is the range partitioning for the deterministic output sort.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val plan = similarity.Cluster.s6KmeansCluster(spark, dir, k, iters)
      .queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
    val exchanges = plan.collectWithSubqueries { case e: ShuffleExchangeLike => e }
    assert(exchanges.size <= 1, s"assignment stage shuffles:\n$plan")
  }

  test("native k-means assignment kernel is bit-identical to the HOF reference formulation") {
    import org.apache.spark.sql.functions._
    val ss = spark
    import ss.implicits._
    val rng = new scala.util.Random(11)
    val dim = 16
    val emb = (0L until 200L).map { id =>
      (id, Seq.fill(dim)((rng.nextDouble() * 2 - 1).toFloat))
    }.toDF("vec_id", "embedding")
    // Random but valid centroid states: integer sums of plausible members.
    val cents: Seq[(Long, Seq[Long], Long)] = (0L until 6L).map { c =>
      val n = 1L + rng.nextInt(40)
      (c, Seq.fill(dim)((rng.nextGaussian() * 200 * n).toLong), n)
    }
    val native = similarity.Cluster.assignFrozen(emb, cents)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hof = similarity.Cluster.assignHof(similarity.Cluster.quantized(emb), cents)
      .select(col("vec_id"), col("cell"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native === hof)
    assert(native.values.toSet.size > 1)
  }

  test("t23 cluster balance caps every cluster at the cap and is a subset of the s6 assignment") {
    val cap = 5
    val assigned = similarity.Cluster.s6KmeansCluster(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sizes = assigned.groupBy(_._2).view.mapValues(_.size).toMap
    val sampled = similarity.Cluster.t23ClusterBalance(spark, dir, cap = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    sampled.foreach { case (cluster, id) =>
      assert(assigned(id) === cluster, s"vec $id sampled into foreign cluster $cluster")
    }
    val got = sampled.groupBy(_._1).view.mapValues(_.size).toMap
    sizes.foreach { case (cluster, n) =>
      assert(got.getOrElse(cluster, 0) === math.min(cap, n),
        s"cluster $cluster: expected ${math.min(cap, n)} sampled, got ${got.getOrElse(cluster, 0)}")
    }
  }

  test("s7 PQ: exact refine distances verified driver-side, results within the ADC shortlist") {
    import graft.similarity.Pq
    val emb = Tables(spark, dir).embeddings
    val books = Pq.trainCodebooks(emb)
    val bookMaps: Seq[Map[Long, Seq[Long]]] = books.map(_.toMap)
    val codes = Pq.encode(emb, books).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    codes.values.foreach(cs =>
      assert(cs.size == Pq.M && cs.forall(c => c >= 0 && c < Pq.K), s"codes out of range: $cs"))
    // Independent quantization (plain Scala over the collected floats),
    // reconstruction, and shortlist: none of the LUT/element_at/zip_with
    // plumbing under test is reused here.
    val qv: Map[Long, Array[Long]] = emb.collect().map { r =>
      r.getLong(0) -> r.getSeq[Float](1).map(x => math.floor(x.toDouble * 512.0 + 0.5).toLong).toArray
    }.toMap
    def adc(q: Long, n: Long): Long = (0 until Pq.M).map { sub =>
      val qs = qv(q).slice(sub * Pq.SubDim, (sub + 1) * Pq.SubDim)
      val c = bookMaps(sub)(codes(n)(sub))
      qs.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum
    }.sum
    val shortlists: Map[Long, Set[Long]] = qv.keys.filter(_ < 10).map { q =>
      q -> qv.keys.filter(_ != q).toSeq
        .map(n => (adc(q, n), n)).sorted.take(Pq.Shortlist).map(_._2).toSet
    }.toMap
    val out = Pq.s7PqSearch(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (q, n, d) = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"), r.getAs[Long]("dist"))
      val expect = qv(q).zip(qv(n)).map { case (x, y) => (x - y) * (x - y) }.sum
      assert(d === expect, s"exact dist mismatch for ($q,$n)")
      assert(shortlists(q).contains(n), s"neighbor $n of query $q not in the ADC shortlist")
    }
  }

  test("s7 PQ+refine reaches recall@10 >= 0.85 vs brute force (unit-norm corpus: L2 rank == cosine rank)") {
    val got = topkSets(similarity.Pq.s7PqSearch(spark, dir))
    val r = recallAt10(got, truth)
    assert(r >= 0.85, f"s7 PQ recall@10 = $r%.3f")
  }

  test("s10 probing ALL cells degenerates exactly to s7: the IVF tier only prunes") {
    // With nProbe = kCells no cell is skipped, so the candidate set is the
    // full code table and the ADC ranking, shortlist, and refine must be
    // row-identical to the pure-PQ path — pinning that the composition
    // changes WHICH rows are scanned, never how they are scored.
    val all = similarity.IvfPq.s10IvfPq(spark, dir, nProbe = 8, kCells = 8)
      .collect().map(_.toSeq).toSeq
    val s7 = similarity.Pq.s7PqSearch(spark, dir).collect().map(_.toSeq).toSeq
    assert(all === s7)
  }

  test("s10 serving plan: cell-pruned broadcast equijoin, no cartesian anywhere") {
    val plan = similarity.IvfPq.s10IvfPq(spark, dir)
      .queryExecution.executedPlan.toString
    // The probe set rides a broadcast into the cell equijoin — the
    // corpus-sized code table must never shuffle for the probe join, and
    // nothing in the serving path may degenerate to an all-pairs scan.
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast probe-cell equijoin in:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"unexpected all-pairs join in the s10 serving plan:\n$plan")
  }

  test("s10 IVF+PQ at nProbe=2 holds a recall floor and exact refine distances") {
    val out = similarity.IvfPq.s10IvfPq(spark, dir).collect()
    assert(out.nonEmpty)
    // Refine distances are the exact integer L2 on the quantized grid.
    val qv: Map[Long, Array[Long]] = Tables(spark, dir).embeddings.collect().map { r =>
      r.getLong(0) -> r.getSeq[Float](1).map(x => math.floor(x.toDouble * 512.0 + 0.5).toLong).toArray
    }.toMap
    out.foreach { r =>
      val (q, n, d) = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"), r.getAs[Long]("dist"))
      val expect = qv(q).zip(qv(n)).map { case (x, y) => (x - y) * (x - y) }.sum
      assert(d === expect, s"exact dist mismatch for ($q,$n)")
    }
    val got = out.groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val r = recallAt10(got, truth)
    assert(r >= 0.6, f"s10 IVF+PQ recall@10 = $r%.3f")
  }

  test("s14 filtered ANN: pre-filtering keeps k results where post-filtering starves") {
    import org.apache.spark.sql.functions._
    val sfDir = "/root/testdata/sf0.01"
    val pre = graft.similarity.Ann.s14FilteredAnn(spark, sfDir).collect()
    val byQ = pre.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(byQ.values.forall(_ === 10), s"pre-filter must fill k for every query: $byQ")
    // Every returned neighbor really passes the predicate.
    val en = Tables(spark, sfDir).documents.filter(col("lang") === "en")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(pre.forall(r => en.contains(r.getLong(2))))
    // Post-filtering the UNFILTERED top-10 keeps only its en members —
    // strictly fewer than k wherever a non-en vector ranked in the
    // top-10 (lang='en' is ~44% of the corpus, so this starves).
    val post = graft.similarity.Ann.s1CosineTopK(spark, sfDir).collect()
      .filter(r => en.contains(r.getLong(2)))
      .groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(post.values.exists(_ < 10),
      s"expected at least one starved query under post-filtering: $post")
    // And on the shared prefix the two agree: pre-filter ranking is the
    // filtered corpus' true order, not a re-scored approximation.
    val preSets = pre.groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(2)).toSet).toMap
    val postSets = graft.similarity.Ann.s1CosineTopK(spark, sfDir).collect()
      .filter(r => en.contains(r.getLong(2)))
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    postSets.foreach { case (q, s) =>
      assert(s.subsetOf(preSets(q)), s"query $q: surviving post-filter results must appear in pre-filter top-k")
    }
  }

  test("s16 SQ8: integer shortlist + exact refine holds recall@10 >= 0.9; kernel matches the HOF recount") {
    import org.apache.spark.sql.functions._
    val ss = spark
    import ss.implicits._
    // 8-bit-per-dim quantization over 64 dims is far finer than PQ's
    // 8 codes per subspace — with a 4k shortlist cushion and exact
    // refine, recall sits near 1.0; the floor guards regressions.
    val got = topkSets(similarity.Sq.s16Sq8Search(spark, dir))
    val r = recallAt10(got, truth)
    assert(r >= 0.9, f"s16 SQ8 recall@10 = $r%.3f")
    // The codegen'd integer L2 kernel is bit-identical to a Scala
    // recount (including the length-mismatch null contract).
    val rows = Seq(
      (Seq(0, 255, 128, 7), Seq(255, 0, 128, 9)),
      (Seq(1, 2, 3), Seq(1, 2, 3)),
      (Seq(0), Seq(255))).toDF("a", "b")
    val kern = rows.select(
      org.apache.spark.sql.graft.VectorExpressions.intSqDistNative(col("a"), col("b")))
      .collect().map(_.getLong(0))
    val ref = Seq(
      Seq(0, 255, 128, 7).zip(Seq(255, 0, 128, 9)).map { case (x, y) => (x - y).toLong * (x - y) }.sum,
      0L, 255L * 255L)
    assert(kern.toSeq === ref)
    val mism = Seq((Seq(1, 2), Seq(1, 2, 3))).toDF("a", "b").select(
      org.apache.spark.sql.graft.VectorExpressions.intSqDistNative(col("a"), col("b")))
      .collect()
    assert(mism.head.isNullAt(0), "length mismatch must be null, not a truncated sum")
  }

  test("s17 BQ: hamming shortlist + exact refine holds a recall floor; packed XOR+popcount is rank-identical") {
    import org.apache.spark.sql.functions._
    val ss = spark
    import ss.implicits._
    // 1 bit/dim over 64 dims: crude codes with heavy Hamming ties on
    // this 200-vector corpus — the tier lives on its OVER-FETCH
    // multiplier (10× k here, exactly what production BQ stacks do
    // before the exact rerank). The floor guards the tier staying a
    // useful first-pass filter, not matching SQ8's 0.9.
    val got = topkSets(similarity.Bq.s17BinarySearch(spark, dir))
    val r = recallAt10(got, truth)
    assert(r >= 0.65, f"s17 BQ recall@10 = $r%.3f")
    // The packed fast path (one long per 64 dims, bit_count(xor)) ranks
    // every corpus pair identically to the array-code integer kernel —
    // the scan tier and the oracle tier are the same ordering.
    val t = Tables(spark, dir)
    val mid = similarity.Bq.midrange(t.embeddings)
    val midA = typedlit(mid)
    val codes = t.embeddings.limit(40)
      .select(col("vec_id"),
        transform(col("embedding"), (v, i) =>
          when(v.cast("double") > element_at(midA, i + 1), lit(1)).otherwise(lit(0)))
          .as("codes"))
      .withColumn("packed", similarity.Bq.packCodes(col("codes")))
    val pairs = codes.select(col("vec_id").as("a"), col("codes").as("ca"), col("packed").as("pa"))
      .crossJoin(codes.select(col("vec_id").as("b"), col("codes").as("cb"), col("packed").as("pb")))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        org.apache.spark.sql.graft.VectorExpressions.intSqDistNative(col("ca"), col("cb")).as("arr"),
        similarity.Bq.hammingPacked(col("pa"), col("pb")).as("pk"))
      .collect()
    assert(pairs.nonEmpty)
    pairs.foreach(row =>
      assert(row.getLong(2) === row.getLong(3),
        s"packed hamming diverged for (${row.getLong(0)}, ${row.getLong(1)})"))
    // Past 64 dims the packing must CHUNK (one long per 64 dims) — a
    // single-long fold shifts the leading bits out and undercounts.
    // 130 dims = 2 full words + a 2-bit tail; codes differ in the first
    // word (bit 0), the second (bit 70) and the tail (bit 129).
    val ca130 = (0 until 130).map(i => if (Set(0, 70).contains(i)) 1 else 0)
    val cb130 = (0 until 130).map(i => if (i == 129) 1 else 0)
    val wide = Seq((ca130, cb130)).toDF("ca", "cb")
      .select(
        similarity.Bq.hammingPacked(
          similarity.Bq.packCodes(col("ca")),
          similarity.Bq.packCodes(col("cb"))).as("pk"),
        size(similarity.Bq.packCodes(col("ca"))).as("words"))
      .head()
    assert(wide.getInt(1) === 3, "130 dims -> 3 packed words")
    assert(wide.getLong(0) === 3L,
      s"wide-dim packed hamming must count all three differing bits, got ${wide.getLong(0)}")
  }

  test("s13 MMR greedy: diversity beats redundant relevance, ties break on id") {
    import graft.similarity.Mmr
    def c(id: Long, emb: Array[Float], q: Array[Float]) =
      Mmr.Cand(1L, id, Mmr.cosineD(q, emb), emb)
    val q = Array(1f, 0f)
    // A tight cluster ~30° from the query (top relevance, mutually ~1.0
    // similar) and one vector at −60° — orthogonal to the cluster, half
    // the relevance. Plain top-2 returns two cluster members; for MMR the
    // cluster's marginal is 0.5·0.866 − 0.5·~1.0 < 0 while the diverse
    // vector scores 0.5·0.5 − 0.5·~0 = 0.25.
    val a1 = Array(0.8660f, 0.5000f); val a2 = Array(0.8662f, 0.4997f)
    val a3 = Array(0.8658f, 0.5003f)
    val b = Array(0.5f, -0.866f)
    val cands = Seq(c(10, a1, q), c(11, a2, q), c(12, a3, q), c(20, b, q))
    val picks = Mmr.mmrSelect(cands, 2).map(_._3)
    assert(picks.head >= 10L && picks.head <= 12L, s"first pick is max-rel: $picks")
    assert(picks(1) === 20L, s"second pick must be the diverse vector: $picks")
    // Exact-tie candidates (identical embeddings): lower id wins each round.
    val t1 = Array(1f, 0f); val tie = Seq(c(5, t1, q), c(3, t1, q), c(9, t1, q))
    assert(Mmr.mmrSelect(tie, 3).map(_._3) === Seq(3L, 5L, 9L))
  }
}
