package graft

import org.apache.spark.sql.DataFrame

/** Benchmark main: times the headline queries at SPARK_GRAFT_SF_DIR and
  * prints one JSON line with per-query wall seconds.
  */
object Bench {

  /** Documented exact-baseline queries excluded from the headline: d2 is
    * the all-pairs exact-Jaccard reference that d3's LSH path is verified
    * against — O(n²) by definition (25M candidate pairs at sf0.1), never
    * the production path, and benching it would only measure the known
    * quadratic.
    */
  private val exactBaselines = Set("d2_ngram_jaccard")

  /** Every SparkEntry query (minus the documented exact baselines), so a
    * per-query regression anywhere in the inventory is visible in the
    * round-over-round JSON — not just in a hand-picked subset.
    */
  private def headline: Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted.filterNot(exactBaselines)

  private def run(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** (steal, total) jiffies from the aggregate cpu line of /proc/stat.
    * Captured before/after the sweep so a steal-contaminated run (hypervisor
    * taking CPU from the guest — the r8 d7/g14 forensics) self-identifies in
    * the artifact instead of needing a quiet-rerun investigation.
    */
  private def cpuJiffies(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.sum)
      } finally src.close()
    } catch { case _: Exception => (0L, 0L) }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val sf    = sfDir.split("/").last.stripPrefix("sf")
    // Optional subset (comma-separated keys): lets a session-effect be
    // isolated — the same query benched alone vs inside the full sweep —
    // without touching the default full-coverage run.
    val only = sys.env.get("SPARK_GRAFT_BENCH_KEYS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // A typo'd key would otherwise silently shrink the sweep and still
    // emit a normal-looking JSON line — fail fast instead.
    only.foreach { s =>
      SparkEntry.requireKnown(s, "SPARK_GRAFT_BENCH_KEYS")
      require(s.exists(headline.contains),
        "SPARK_GRAFT_BENCH_KEYS selects no headline query (only excluded exact baselines?)")
    }
    val selected = only.fold(headline)(s => headline.filter(s))
    val spark = GraftSession.create("graft-bench")

    // Warm-up (untimed): run one representative of each heavy code-path
    // family on the SMALLEST scale factor available, so the timed numbers
    // measure the engine's steady state rather than first-touch JIT and
    // codegen of the kernels (bitmap aggregates, minhash/simhash loops,
    // iterative supersteps, window/stream shapes). Falls back to the
    // bench SF when no smaller sibling exists.
    val warmDir = {
      val sib = sfDir.replaceAll("sf[0-9.]+/?$", "sf0.001")
      if (sib != sfDir && new java.io.File(sib).isDirectory) sib else sfDir
    }
    Seq("q1_pricing_agg", "q2_join_agg", "d3_minhash_lsh", "d4_simhash",
      "g4_two_hop", "g6_pagerank", "g7_triangle_count", "g8_hierarchy_paths",
      "e2_sessionize", "e4_funnel", "s1_cosine_topk", "m2_frame_sample",
      "t9_ngram_freq", "t10_entity_extract")
      .foreach { k =>
        run(SparkEntry.queries(k)(spark, warmDir))
        GraftSession.releaseCaches(spark)
      }
    // Bucketed ingest is a write-time cost paid once per warehouse, not a
    // per-query cost: perform it untimed so the q2b measurement is the
    // exchange-free join itself — the thing the layout exists to buy.
    // Only when q2b is actually selected: the ingest is minutes of wall at
    // sf10 and a subset run that never touches the bucketed table should
    // not pay it (full sweeps always include q2b, so committed artifacts
    // are produced exactly as before).
    if (selected.contains("q2b_bucketed")) operators.Relational.q2bIngest(spark, sfDir)

    val (steal0, total0) = cpuJiffies()
    // Shared memoized products are timed as NAMED SETUP entries, not
    // charged to whichever consumer alphabetically touches the memo
    // first (r11: d11 billed 14.5 s at sf1 for building the d3/d6
    // verified-pairs memo that d3/d6/t29 then rode). The setup cost
    // still counts toward the sweep total — it is real work — but
    // per-key times are own-cost and comparable round over round.
    val memoConsumers = Set(
      "d3_minhash_lsh", "d6_dedup_resolve", "d11_dedup_report", "t29_split_leakage")
    // The setup build runs under the same fault-isolation discipline as
    // the per-key loop below: a failure in the d3/d6 verified-pairs
    // pipeline must report one red entry, not abort the sweep and lose
    // the whole artifact (its consumers then fail or pay the build
    // themselves — either way their own entries tell the story).
    // The g13/g20 shared wedge substrate follows the same discipline
    // (r17): one pair stage serves both keys, billed here by name.
    val wedgeConsumers = Set("g13_node_similarity", "g20_link_prediction")
    val setups: Seq[(String, Set[String], () => Unit)] = Seq(
      ("setup:neardup_pairs_memo", memoConsumers,
        () => { dedup.Dedup.nearDupPairs(spark, sfDir).count(); () }),
      ("setup:g13g20_wedge_memo", wedgeConsumers,
        // retainCheckpoint is eager — touching the substrate builds it.
        () => { operators.GraphOps.wedgeSubstrate(spark, sfDir); () }))
    val setupResults = setups.collect {
      case (name, consumers, build) if selected.exists(consumers) =>
        spark.sparkContext.setJobDescription(s"bench:$name")
        val t0 = System.nanoTime()
        val r = try { build(); Left(name -> (System.nanoTime() - t0) / 1e9) }
          catch { case e: Exception =>
            Right(name -> (e.getClass.getSimpleName + ": " + e.getMessage)) }
        spark.sparkContext.setJobDescription(null)
        r
    }
    val (setupTimes, setupErrors): (Seq[(String, Double)], Seq[(String, String)]) =
      (setupResults.collect { case Left(x) => x },
        setupResults.collect { case Right(x) => x })
    // Fault isolation: one throwing query must not take down the whole
    // sweep's artifact (a bench with 77 greens and 1 red should still
    // report the 77). Failures surface as a separate "errors" map — a
    // missing key can't be mistaken for a fast one.
    val results = selected.map { name =>
      // Label every job of the key (guide §1.5): a profiling pass over the
      // event log / UI attributes stages to queries instead of guessing
      // from stage ids. Thread-local, cleared with the key.
      spark.sparkContext.setJobDescription(s"bench:$name")
      val t0 = System.nanoTime()
      val err = try { run(SparkEntry.queries(name)(spark, sfDir)); None }
        catch { case e: Exception => Some(e.getClass.getSimpleName + ": " + e.getMessage) }
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.setJobDescription(null)
      // Per-query storage isolation: iterative queries checkpoint their
      // final result; release it once consumed so query N+1 never pays
      // query N's storage/GC pressure (the round-2 t3/e1/g8 regressions).
      // Outside the key's time, so summed into "release_s" on its own.
      val r0 = System.nanoTime()
      GraftSession.releaseCaches(spark)
      (name, dt, err, (System.nanoTime() - r0) / 1e9)
    }
    val releaseS = results.map(_._4).sum
    val (steal1, total1) = cpuJiffies()
    val times = results.collect { case (n, dt, None, _) => n -> dt }
    val errors = setupErrors ++ results.collect { case (n, _, Some(e), _) => n -> e }
    errors.foreach { case (n, e) => System.err.println(s"BENCH FAIL $n: $e") }
    val total = times.map(_._2).sum + setupTimes.map(_._2).sum
    val stealPct =
      if (total1 > total0) 100.0 * (steal1 - steal0) / (total1 - total0) else 0.0
    // Environment stamps (r16 verdict item 1): the g30 sf10 adjudication
    // was blocked because two contradictory artifacts could not say which
    // HEAP/COLLECTOR arm produced them — heap size and GC name travel in
    // the JSON line so a run is self-identifying, like steal already is.
    // Core count likewise (item 2): the driver re-runs the bench at a low
    // core count; an artifact must say which arm it is.
    val heapMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    val gcName = scala.jdk.CollectionConverters.ListHasAsScala(
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans)
      .asScala.map(_.getName).mkString("+")
    val cpus = spark.sparkContext.master match {
      case m if m.startsWith("local[") => m.stripPrefix("local[").stripSuffix("]")
      case m => m
    }
    val envJson =
      s""""heap_mb":$heapMb,"gc":"$gcName","cpus":"$cpus""""
    val qJson = times.map { case (n, s) => f""""$n":$s%.3f""" }.mkString(",")
    val sJson = setupTimes.map { case (n, s) => f""""$n":$s%.3f""" }.mkString(",")
    val eJson = errors.map { case (n, e) =>
      s""""$n":"${e.take(160).replaceAll("[\"\\\\\n\r\t]", " ")}"""" }.mkString(",")
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":{$qJson},"setup":{$sJson},"errors":{$eJson},"release_s":$releaseS%.3f,"steal_jiffies":${steal1 - steal0},"steal_pct":$stealPct%.2f,$envJson,"sf":"$sf"}"""
    // Print the JSON line BEFORE shutdown (so it exists even if stop()
    // hangs) and persist it to a file so the scored artifact survives
    // truncation of the captured stdout (the r7 lost-d-group failure mode).
    println(line)
    System.out.flush()
    // Artifact naming (r16 verdict items 2/8):
    //  - full sweeps at a non-default core count get their own file so the
    //    driver's low-core scaling rerun can never clobber the main
    //    artifact for the same SF;
    //  - subset runs (SPARK_GRAFT_BENCH_KEYS) embed the KEY COUNT so the
    //    standing 12-key sf10 subset and an ad-hoc 1-key adjudication run
    //    land in different files (the r16 822.4 s standing artifact was
    //    overwritten by a g30 solo run because both were "_subset");
    //  - SPARK_GRAFT_BENCH_OUT overrides outright for named experiments.
    val defaultName =
      if (only.nonEmpty) s"bench_${sf}_subset_${selected.size}keys.json"
      else if (cpus == GraftSession.DefaultCpus.toString) s"bench_$sf.json"
      else s"bench_${sf}_c$cpus.json"
    val benchName = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultName)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(benchName), line.getBytes("UTF-8"))
    spark.stop()
    // The very LAST stdout line is a COMPACT summary (<300 bytes, no
    // per-query map): the full line above is ~4.5 KB at 170 keys, which
    // overflows a capture that keeps only a 2 KB tail — three rounds of
    // the scored artifact failing to parse, and the r16 PERF per-query
    // comparison came back empty for the same reason. 170 keys can NEVER
    // fit in a 2 KB tail, so the complete per-query map is delivered by
    // POINTER: "bench_file" names the artifact file (written above, in
    // the repo cwd) that holds the full line verbatim.
    val compact =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","sf":"$sf","n_queries":${times.size},"n_errors":${errors.size},"steal_pct":$stealPct%.2f,$envJson,"bench_file":"$benchName"}"""
    println(compact)
    System.out.flush()
  }
}
