package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Route, Superstep, Tables}

/** Deduplication family for the training-data pipeline.
  *
  * Reference analog: the skip-already-fetched bookkeeping
  * (processor/data_processor.py:91-143, utils/db_utils.py:91) is an exact
  * dedup on a content key; here generalized to the operators an LLM data
  * pipeline needs at 100 TB.
  */
object Dedup {

  /** Distinct character n-gram shingle set of a text column (codegen'd
    * higher-order functions; empty set for texts shorter than n chars).
    *
    * n = 5 by default: unrelated English texts already share ~48% of their
    * character 3-grams (common trigrams like "the", " th") but only ~19%
    * of 5-grams — the larger shingle keeps near-dup pairs ≥0.8 while
    * pushing the background similarity low enough that LSH banding (d3)
    * actually separates candidates from noise.
    */
  def shingles(c: Column, n: Int = 5): Column =
    when(length(c) < n, array().cast("array<string>"))
      .otherwise(array_distinct(
        transform(sequence(lit(1), length(c) - (n - 1)), i => c.substr(i, lit(n)))))

  /** Sorted distinct gram CODES — the production form of the shingle set
    * (see [[org.apache.spark.sql.graft.SortedGramCodes]]): one fused
    * codegen'd pass per document, packed-long output. Codes are a
    * bijection of the grams for ≤7-byte grams (all ASCII 5-grams), so
    * every set cardinality the verify math uses is exactly the string-set
    * value; [[shingles]] stays as the executable reference formulation
    * (the spec asserts cardinality and intersection equivalence).
    */
  def gramCodes(c: Column, n: Int = 5): Column =
    org.apache.spark.sql.graft.VectorExpressions.sortedGramCodes(c, n)

  /** d1: exact dedup — hash-aggregate on md5(text), keep the smallest id.
    * No sort, map-side partial agg; at 100 TB this is one shuffle keyed by
    * the 128-bit digest.
    */
  def d1ExactDedup(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_cnt"))

  /** d2: n-gram Jaccard near-dup pairs — the exact O(n²) baseline that the
    * MinHash-LSH path (d3) approximates at scale. Shingle sets are computed
    * once per side before the join; the Jaccard score is exact integer
    * fixed-point so it hashes identically everywhere.
    */
  def d2NgramJaccard(spark: SparkSession, dir: String, threshold: Double = 0.8): DataFrame = {
    // length>=5 pre-filter: texts with no 5-gram have an empty shingle set,
    // whose 0/0 Jaccard is engine-dependent (NaN vs error) — exclude on
    // BOTH sides (same filter in the oracle) so parity is by construction.
    val docs = Tables(spark, dir).documents
      .filter(length(col("text")) >= 5)
      .select(col("doc_id"), gramCodes(col("text")).as("grams"))
    // Spread the streamed side of the nested-loop join across the cores: a
    // small parquet file arrives as one input split, which would serialize
    // the O(n²) pair scan into a single task.
    val nPart = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val a = docs.repartition(nPart).select(col("doc_id").as("doc_id1"), col("grams").as("g1"))
    val b = docs.select(col("doc_id").as("doc_id2"), col("grams").as("g2"))
    // |A∪B| = |A|+|B|−|A∩B|: one merge pass per pair instead of two set
    // builds. The size-ratio guard runs before the intersect — jac ≤
    // min/max, so pairs failing it can't reach the threshold and skip the
    // merge entirely.
    val n1 = size(col("g1")).cast("double")
    val n2 = size(col("g2")).cast("double")
    val inter = org.apache.spark.sql.graft.VectorExpressions
      .sortedIntersectCountLong(col("g1"), col("g2")).cast("double")
    // The prune uses the SAME division as the final predicate (jac ≤
    // min/max, so min/max < t ⇒ jac < t with identical rounding); the
    // multiplicative form `min >= max * t` is not equivalent at the
    // threshold boundary — 0.8d is slightly above 4/5, so a subset pair
    // with sizes 40/50 fails `40 >= 50*0.8d` yet passes `jac >= 0.8d`.
    a.crossJoin(b)
      .filter(col("doc_id1") < col("doc_id2"))
      .filter(least(n1, n2) / greatest(n1, n2) >= threshold)
      .withColumn("jac", inter / (n1 + n2 - inter))
      .filter(col("jac") >= threshold)
      .select(
        col("doc_id1"), col("doc_id2"),
        floor(col("jac") * 1000000.0).cast("long").as("jaccard_micro"))
  }

  /** d3: MinHash + LSH banding — the scale path for near-dup detection.
    *
    * 128 min-hashes per document (hash family = Carter–Wegman
    * multiply-mod-prime over a murmur3 base hash, all codegen'd), banded
    * 32×4: documents agreeing on any full band land in the same bucket, so
    * the O(n²) similarity join becomes an equijoin on (band_id, band_hash)
    * with bucket-bounded pair explosion. Candidates are then verified with
    * the exact Jaccard, so output precision is 1.0 and recall at the 0.8
    * threshold is 1 − (1 − 0.8⁴)³² ≈ 1 − 5e-8 — which is why the exact-join
    * oracle (same SQL as d2) is a sound check.
    */
  def d3MinHashLsh(
      spark: SparkSession,
      dir: String,
      threshold: Double = 0.8,
      numHashes: Int = 128,
      bands: Int = 32,
      blockThreshold: Int = 100000,
      nBlocks: Int = 0,
      autoBand: Boolean = true,
      candFactor: Long = 20L): DataFrame =
    verifiedPairs(spark, dir, threshold, numHashes, bands, blockThreshold, nBlocks,
        autoBand, candFactor)

  /** Public face of the memoized pair set for downstream consumers that
    * want the default detection product without d3's terminal verify
    * ordering (e.g. the t29 split-leakage audit, which aggregates the
    * pairs immediately).
    */
  def nearDupPairs(spark: SparkSession, dir: String): DataFrame =
    verifiedPairs(spark, dir, 0.8, 128, 32)

  /** Memoized verified near-dup pairs — the shared detection product of
    * d3 (which orders and returns it) and d6 (which clusters it). One
    * session memo entry ([[graft.GraftSession.memo]]) per (dir,
    * threshold, hashes, bands, ...), retained across
    * [[graft.GraftSession.releaseCaches]] as a tiny eager checkpoint
    * (pairs are orders of magnitude smaller than the corpus), so a
    * session that runs detection AND resolution pays the signature /
    * banding / verify pipeline once — the round-3 d6 bench cost was
    * d3-run-twice, not clustering.
    */
  private def verifiedPairs(
      spark: SparkSession,
      dir: String,
      threshold: Double,
      numHashes: Int,
      bands: Int,
      blockThreshold: Int = 100000,
      nBlocks: Int = 0,
      autoBand: Boolean = true,
      candFactor: Long = 20L): DataFrame =
    graft.GraftSession.memo(spark, ("verifiedPairs", dir, threshold, numHashes, bands,
        blockThreshold, nBlocks, autoBand, candFactor))(graft.GraftSession.retainCheckpoint(
      verifiedPairsOf(Tables(spark, dir).documents, threshold, numHashes, bands,
        blockThreshold, nBlocks, autoBand, candFactor)))

  /** The d3 detection pipeline parametrized by its corpus: banded-LSH
    * verified near-dup pairs over an ARBITRARY (doc_id, text, ...) frame,
    * so staged consumers (e.g. the curation pipeline's survivor set, t27)
    * run the exact same machinery on an intermediate population instead
    * of the raw table. Unordered output; not memoized (frame identity is
    * not a cache key — the dir-keyed [[verifiedPairs]] wrapper caches).
    */
  def verifiedPairsOf(
      source: DataFrame,
      threshold: Double = 0.8,
      numHashes: Int = 128,
      bands: Int = 32,
      blockThreshold: Int = 100000,
      nBlocks: Int = 0,
      autoBand: Boolean = true,
      candFactor: Long = 20L): DataFrame = {
    val spark = source.sparkSession
    val nPart = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // One small shuffle spreads the corpus across the cores BEFORE the
    // heavy kernel projections: a single parquet file arrives as ONE
    // input split, which would serialize the signature and gram-code
    // computation into a single task (identical subtrees below both
    // projections, so the exchange is planned once and reused).
    val base = source
      .filter(length(col("text")) >= 5)
      .select(col("doc_id"), col("text"))
      .repartition(nPart)
    val docs = base
      .select(col("doc_id"), gramCodes(col("text")).as("grams"))
    // Signatures via the native one-pass expression
    // ([[org.apache.spark.sql.graft.MinHashSignature]]): all 128
    // Carter–Wegman minima (murmur3 base, h_i = (a_i·x + b_i) mod 2^31−1)
    // computed in one fused loop per document. Bit-identical to the
    // previous explode-per-position + 128-column min-aggregate (same hash
    // family, same Random(42) coefficient stream — the spec asserts
    // equality) but shuffle-free: the signature stage went from
    // re-shuffling one row per corpus character to a map-only projection,
    // which at 100 TB is the difference between the dedup pass being
    // scan-bound and shuffle-bound. Duplicate grams don't matter (min is
    // idempotent); only the verification join needs distinct shingle sets.
    val sigs0 = base
      .select(
        col("doc_id"),
        org.apache.spark.sql.graft.VectorExpressions
          .minhashSignature(col("text"), 5, numHashes).as("sig"))
    // When the candidate-volume router is armed, the signatures are
    // checkpointed so a re-band is a projection over stored integers —
    // never a second run of the MinHash kernel over the corpus text
    // (the d15 discipline applied to the doc tier).
    val sigs = if (autoBand) sigs0.localCheckpoint(true) else sigs0
    def bandedAt(b: Int): DataFrame = {
      val rowsPerBand = numHashes / b
      sigs
        .select(col("doc_id"), explode(sequence(lit(0), lit(b - 1))).as("band_id"), col("sig"))
        .select(
          col("doc_id"), col("band_id"),
          hash(col("band_id"), slice(col("sig"), col("band_id") * rowsPerBand + 1, lit(rowsPerBand)))
            .as("band_hash"))
    }
    // The candidate table is tiny (two longs per row) so AQE coalesces its
    // shuffle to one partition — but each candidate then pays an
    // array_intersect over the gram sets, which AQE's size-based coalescing
    // can't see. The explicit key repartition restores compute parallelism
    // for the verification stage (profiled: the whole verify ran in ONE
    // task without it).
    // Size-triggered skew routing, same armed knob as d9/m6/g1: a band
    // bucket at or above blockThreshold (a near-duplicated corpus slice
    // all hashing to one band value) spreads over the salted blocked
    // formulation instead of one reducer. grp is the EXACT
    // (band_id, band_hash) struct, so candidate semantics are unchanged.
    // The keyed table is materialized ONCE at its chosen band width: the
    // routing consumes it in several plan branches (probe, small, big),
    // and without the checkpoint each branch would re-run the banding
    // over the corpus. 16 bytes/row of block storage vs k re-scans.
    // grp packs the exact (band_id, band_hash) pair into one long —
    // single-word join keys, identical candidate semantics.
    def keyedAt(b: Int): DataFrame = bandedAt(b).select(
      (col("band_id").cast("long").multiply(lit(4294967296L))
        .plus(col("band_hash").cast("long").bitwiseAND(lit(0xFFFFFFFFL)))).as("grp"),
      col("doc_id").as("id"))
    // Band shape chosen by the measured candidate volume (the shared
    // [[autoWidenBands]] router): on this corpus the default 32×4 passes
    // the probe; an adversarial low-vocabulary corpus auto-widens toward
    // 16×8 before the candidate join can go quadratic.
    val keyed =
      if (autoBand) autoWidenBands(keyedAt, bands, candFactor, numHashes)
      else keyedAt(bands).localCheckpoint(true)
    val candidates = graft.operators.GraphOps
      .sameGroupPairsSkewSafe(keyed, blockThreshold, nBlocks)
      .select(col("id1").as("doc_id1"), col("id2").as("doc_id2"))
      .distinct()
      .repartition(nPart, col("doc_id1"), col("doc_id2"))
    val g1 = docs.select(col("doc_id").as("doc_id1"), col("grams").as("g1"))
    val g2 = docs.select(col("doc_id").as("doc_id2"), col("grams").as("g2"))
    // Same verify math as d2: single intersect (union via sizes) behind a
    // free size-ratio prune — most LSH false positives are background-
    // similarity pairs that fail jac ≤ min/max and never build a set.
    val n1 = size(col("g1")).cast("double")
    val n2 = size(col("g2")).cast("double")
    val inter = org.apache.spark.sql.graft.VectorExpressions
      .sortedIntersectCountLong(col("g1"), col("g2")).cast("double")
    candidates
      .join(g1, Seq("doc_id1"))
      .join(g2, Seq("doc_id2"))
      // Division form for the same reason as in d2: identical rounding to
      // the final predicate, so the prune is never stricter than jac >= t.
      .filter(least(n1, n2) / greatest(n1, n2) >= threshold)
      .withColumn("jac", inter / (n1 + n2 - inter))
      .filter(col("jac") >= threshold)
      .select(
        col("doc_id1"), col("doc_id2"),
        floor(col("jac") * 1000000.0).cast("long").as("jaccard_micro"))
  }

  /** d6: dedup RESOLUTION — the step after pair detection that decides
    * which document survives: the verified near-dup pairs of the
    * MinHash-LSH path (d3) through the shared [[resolveKeepMin]] tail.
    * This is the full production shape: detect (LSH) → cluster (CC) →
    * resolve (keep-min), all as one composable DataFrame plan.
    */
  def d6DedupResolve(spark: SparkSession, dir: String, threshold: Double = 0.8): DataFrame =
    // Consumes the memoized verified-pairs checkpoint, NOT a fresh d3
    // run: in a detect-then-resolve session the LSH pipeline executes
    // once and d6 is clustering-cost only.
    resolveKeepMin(Tables(spark, dir).documents, verifiedPairs(spark, dir, threshold, 128, 32))

  /** The resolve tail d6, m7 and m8 share: near-dup pairs `(doc_id1,
    * doc_id2)` form an undirected graph, hash-min connected components
    * ([[graft.operators.GraphIter.connectedComponents]]) cluster
    * transitively-linked documents, and each cluster keeps its minimum
    * doc_id. Every row of `docs` gets `(doc_id, canonical_id, is_kept)`;
    * a document in no pair is its own canonical. The label table holds
    * one row per paired document, so nothing bounds it: it is broadcast
    * only when [[graft.Route]] fits its node count, read on the CC init
    * pin's job, in the session's `autoBroadcastJoinThreshold`.
    */
  private[graft] def resolveKeepMin(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val (labels, nodes) = graft.operators.GraphIter.countedComponents(
      pairs.select(col("doc_id1").as("src"), col("doc_id2").as("dst")))
    val comps = labels.select(col("node").as("doc_id"), col("label").as("canonical"))
    val canonical = coalesce(col("canonical"), col("doc_id"))
    docs.select(col("doc_id"))
      .join(Route.small(comps, nodes), Seq("doc_id"), "left")
      .select(col("doc_id"), canonical.as("canonical_id"),
        (col("doc_id") === canonical).cast("int").as("is_kept"))
  }

  /** d7: INCREMENTAL dedup — deduplicate a new batch against an existing
    * corpus without rescanning or re-pairing the corpus with itself.
    *
    * Reference analog: the pipeline's skip-already-fetched pass
    * (processor/data_processor.py:91-143 `filter_existing`,
    * utils/db_utils.py:91 `check_html_exists`) — each crawl batch is
    * checked against the accumulated store, not against itself plus all
    * history. Here the corpus splits deterministically (even doc_id =
    * existing, odd = incoming) so the oracle can derive the same split,
    * and each incoming document is classified:
    *
    *  - `exact` — md5(text) matches an existing document (equijoin on the
    *    128-bit digest; `dup_of` = smallest matching existing id);
    *  - `near`  — ≥ threshold Jaccard with an existing document (MinHash
    *    bands of the incoming batch equijoined against the EXISTING side's
    *    bands only — never existing×existing — then exact-verified, same
    *    prune/verify math as d3; `dup_of` = smallest verified existing id;
    *    exact precedence wins when both hold);
    *  - `new`   — neither (`dup_of` null).
    *
    * At 100 TB the existing side's digests and band hashes are a persisted
    * index maintained at ingest (they are exactly what [[d1ExactDedup]]
    * and the d3 signature stage emit), so the per-batch cost is
    * |incoming| signatures + two index equijoins — independent of corpus
    * history except through index size, which is the property that makes
    * per-crawl dedup sustainable.
    */
  /** d11: dedup RESOLUTION REPORT — the dashboard tier over d6: how many
    * clusters exist at each size, how many documents they hold, and how
    * many survive keep-one. cluster_size 1 = unique documents. This is
    * the number a curation run publishes ("38% of the crawl was
    * near-duplicate; the largest mirror cluster held N copies") and the
    * regression signal between crawls. Two tiny aggregates over d6's
    * per-doc output — which itself consumes the memoized verified-pairs
    * checkpoint, so a detect→resolve→report session runs the LSH
    * pipeline exactly once.
    */
  def d11DedupReport(spark: SparkSession, dir: String, threshold: Double = 0.8): DataFrame =
    d6DedupResolve(spark, dir, threshold)
      .groupBy(col("canonical_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(
        count(lit(1)).as("n_clusters"),
        (count(lit(1)) * col("cluster_size")).as("n_docs"))
      .select(col("cluster_size"), col("n_clusters"), col("n_docs"))
      .orderBy("cluster_size")

  def d7IncrementalDedup(
      spark: SparkSession,
      dir: String,
      threshold: Double = 0.8,
      numHashes: Int = 128,
      bands: Int = 32): DataFrame = {
    val rowsPerBand = numHashes / bands
    val nPart = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // Same single-input-split consideration as the d3 pipeline: spread
    // each side across the cores before the signature/gram projections.
    val docs = Tables(spark, dir).documents.select(col("doc_id"), col("text"))
    val incoming = docs.filter(pmod(col("doc_id"), lit(2)) === 1).repartition(nPart)
    val existing = docs.filter(pmod(col("doc_id"), lit(2)) === 0).repartition(nPart)
    val exact = incoming.select(col("doc_id"), md5(col("text")).as("h"))
      .join(existing.select(md5(col("text")).as("h"), col("doc_id").as("ex_id")), Seq("h"))
      .groupBy("doc_id")
      .agg(min(col("ex_id")).as("exact_dup_of"))
    def banded(df: DataFrame, idAs: String): DataFrame = df
      .filter(length(col("text")) >= 5)
      .select(col("doc_id").as(idAs),
        org.apache.spark.sql.graft.VectorExpressions
          .minhashSignature(col("text"), 5, numHashes).as("sig"))
      .select(col(idAs), explode(sequence(lit(0), lit(bands - 1))).as("band_id"), col("sig"))
      .select(col(idAs), col("band_id"),
        hash(col("band_id"), slice(col("sig"), col("band_id") * rowsPerBand + 1, lit(rowsPerBand)))
          .as("band_hash"))
    // Asymmetric candidate join: incoming bands probe existing bands —
    // the pair space is |incoming| × bucket overlap, with no
    // existing-side self-pairs by construction.
    val candidates = banded(incoming, "in_id")
      .join(banded(existing, "ex_id"), Seq("band_id", "band_hash"))
      .select("in_id", "ex_id")
      .distinct()
      .repartition(nPart, col("in_id"), col("ex_id"))
    def grams(df: DataFrame, idAs: String, gAs: String): DataFrame = df
      .filter(length(col("text")) >= 5)
      .select(col("doc_id").as(idAs), gramCodes(col("text")).as(gAs))
    val n1 = size(col("g1")).cast("double")
    val n2 = size(col("g2")).cast("double")
    val inter = org.apache.spark.sql.graft.VectorExpressions
      .sortedIntersectCountLong(col("g1"), col("g2")).cast("double")
    val near = candidates
      .join(grams(incoming, "in_id", "g1"), Seq("in_id"))
      .join(grams(existing, "ex_id", "g2"), Seq("ex_id"))
      // Same division-form prune + verify as d3: identical rounding to
      // the final predicate, so the prune can't drop a qualifying pair.
      .filter(least(n1, n2) / greatest(n1, n2) >= threshold)
      .filter(inter / (n1 + n2 - inter) >= threshold)
      .groupBy("in_id")
      .agg(min(col("ex_id")).as("near_dup_of"))
      .withColumnRenamed("in_id", "doc_id")
    incoming.select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        when(col("exact_dup_of").isNotNull, lit("exact"))
          .when(col("near_dup_of").isNotNull, lit("near"))
          .otherwise(lit("new")).as("status"),
        coalesce(col("exact_dup_of"), col("near_dup_of")).as("dup_of"))
  }

  /** d8: DECONTAMINATION — flag training documents that overlap a
    * held-out evaluation set, the pipeline step that keeps benchmark
    * text out of a training corpus (the GPT-3-style n-gram collision
    * scan, done here with character 7-grams: exactly packable in the
    * 7-byte gram codes, so the collision join runs on longs).
    *
    * The corpus splits deterministically (doc_id % 97 == 0 = the
    * stand-in eval set, the rest = training, so the oracle derives the
    * same split). The eval side collapses to its DISTINCT gram-code set
    * — small by construction (eval sets are thousands of documents, not
    * billions) — and each training document counts its distinct grams
    * colliding with it via one equijoin on the gram code; a document is
    * contaminated when the shared fraction reaches `ratioMicro` (exact
    * integer fixed-point — raw background sharing of common English
    * 7-grams sits well below it, near-copies of eval text well above).
    * At 100 TB: eval grams are a broadcast-or-bucketed index built once;
    * the training side is a map-side explode + one aggregation keyed by
    * doc — no pairwise anything.
    */
  def d8Decontaminate(
      spark: SparkSession,
      dir: String,
      n: Int = 7,
      ratioMicro: Long = 500000L): DataFrame = {
    val nPart = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val docs = Tables(spark, dir).documents
      .select(col("doc_id"), col("text"))
      .filter(length(col("text")) >= n)
    val evalGrams = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
      .select(explode(gramCodes(col("text"), n)).as("g"))
      .distinct()
    val train = docs.filter(pmod(col("doc_id"), lit(97)) =!= 0).repartition(nPart)
    val trainGrams = train
      .select(col("doc_id"), gramCodes(col("text"), n).as("gs"))
      .select(col("doc_id"), explode(col("gs")).as("g"))
    val shared = trainGrams
      .join(evalGrams, Seq("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("shared"))
    train
      .select(col("doc_id"), size(gramCodes(col("text"), n)).cast("long").as("n_grams"))
      .join(shared, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_grams"),
        coalesce(col("shared"), lit(0L)).as("n_shared_grams"),
        expr("coalesce(shared, 0) * 1000000 DIV n_grams").as("share_ratio_micro"))
      .withColumn("is_contaminated", (col("share_ratio_micro") >= ratioMicro).cast("int"))
  }

  /** d4: 60-bit SimHash fingerprints with 4×15-bit hamming bands.
    *
    * Per-gram hashes come from md5 (first 15 hex chars parsed as an
    * integer) so the oracle can reproduce them exactly in DuckDB; the bit
    * votes are folded with codegen'd `aggregate` over the gram array — the
    * whole operator is one shuffle-free projection, which is what makes it
    * viable as a 100 TB pre-pass. Documents within hamming distance 3 are
    * guaranteed to share at least one of the 4 bands (pigeonhole: 4
    * differing bits could hit all 4 bands, 3 cannot); pairs at hamming
    * 4–15 are caught only when their differing bits happen to leave a
    * band untouched — so the bands are a high-recall (not exhaustive)
    * LSH bucketing key for near-dup candidate generation.
    */
  def d4SimHash(spark: SparkSession, dir: String): DataFrame =
    // One-pass native fingerprint ([[org.apache.spark.sql.graft.SimHash60]]):
    // same md5-top-60-bits gram hash and ±1 votes as the aggregate
    // formulation below (the spec asserts bit-identity), but with the
    // explode + 60-column vote aggregate fused into a per-row loop the
    // whole operator is ONE shuffle-free codegen'd projection — the shape
    // that makes fingerprint-first viable as a 100 TB pre-pass.
    Tables(spark, dir).documents
      .filter(length(col("text")) >= 5)
      .select(col("doc_id"),
        org.apache.spark.sql.graft.VectorExpressions.simhash60(col("text")).as("simhash"))
      .select(
        col("doc_id"), col("simhash"),
        shiftright(col("simhash"), 0).bitwiseAND(lit(32767L)).as("band0"),
        shiftright(col("simhash"), 15).bitwiseAND(lit(32767L)).as("band1"),
        shiftright(col("simhash"), 30).bitwiseAND(lit(32767L)).as("band2"),
        shiftright(col("simhash"), 45).bitwiseAND(lit(32767L)).as("band3"))

  /** d9: SimHash near-dup PAIRS — the pairing stage d4's fingerprints
    * exist for. Candidates come from the 4×15-bit band equijoin (by
    * pigeonhole, recall is exactly 1 at Hamming ≤ 3; pairs at hamming
    * 4–15 are returned only when a band happens to stay untouched —
    * widen to more/narrower bands if full ≤15 recall is required), then
    * the exact Hamming distance (`bit_count(xor)`, codegen'd built-ins)
    * verifies.
    * Against d3's MinHash path this is the cheaper/coarser tier: one
    * 8-byte fingerprint per document instead of a 1 KB signature, band
    * join on 2-byte keys, verification a single xor-popcount — the
    * pre-pass that thins a 100 TB corpus before the finer Jaccard tier
    * runs. Same scale shape as d3: banded equijoin, never all-pairs.
    */
  def d9SimhashPairs(
      spark: SparkSession,
      dir: String,
      maxHamming: Int = 15,
      blockThreshold: Int = 100000,
      nBlocks: Int = 0): DataFrame = {
    val nPart = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val fp = Tables(spark, dir).documents
      .filter(length(col("text")) >= 5)
      .repartition(nPart)
      .select(col("doc_id"),
        org.apache.spark.sql.graft.VectorExpressions.simhash60(col("text")).as("simhash"))
    bandedHammingPairs(fp, "simhash", maxHamming, blockThreshold, nBlocks)
  }

  /** The 4×15-bit band array of a 60-bit fingerprint — the single
    * definition of the banding layout, shared by the symmetric pair stage
    * ([[bandedHammingPairs]]) and the asymmetric incremental probe
    * ([[graft.multimodal.Media.m9IncrementalMediaDedup]]).
    */
  private[graft] def bands15(fp: Column): Column =
    array((0 until 4).map(i => shiftright(fp, i * 15).bitwiseAND(lit(32767L))): _*)

  /** The sub-band refinement shape for an oversized hamming band bucket:
    * `s = maxHamming+1` disjoint sub-bands over the 45 bits OUTSIDE the
    * collided band, the first s−1 of width `w = 45 div s` and the last
    * of width `maxW = 45 − (s−1)·w` (so they tile all 45 bits). Within a
    * bucket both members already agree on the banded 15 bits, so a pair
    * at hamming ≤ maxHamming has ≤ maxHamming differing bits spread over
    * s sub-bands — pigeonhole leaves at least one sub-band identical.
    * Pure, so the spec pins the (s, w, maxW) map directly.
    */
  private[graft] def subBandShape(maxHamming: Int): (Int, Int, Int) = {
    val s = maxHamming + 1
    val w = 45 / s
    (s, w, 45 - (s - 1) * w)
  }

  /** Whether sub-band refinement can REDUCE an oversized bucket's
    * candidate mass: a coincidentally-collided bucket (uniform remaining
    * bits) splits a C(g,2) mass by ~2^w per sub-band at an s× key
    * replication, a net win only when 2^w clears s with real margin. At
    * m12's radius 6 the shape is 7 sub-bands of ≥6 bits (gain ~s/2^w ≈
    * 0.11); at d9/m6's radius 15 it would be 16 sub-bands of 2 bits —
    * 4× WORSE than not splitting, so those tiers stay on the salted
    * path and their volume knob remains `blockThreshold` alone.
    */
  private[graft] def subSplitViable(maxHamming: Int): Boolean = {
    val (s, w, _) = subBandShape(maxHamming)
    w >= 1 && (1L << w) >= 4L * s
  }

  /** Banded hamming near-dup pairs over a 60-bit fingerprint column —
    * the shared pairing stage of d9 (SimHash), m6 (perceptual hash) and
    * m12 (frame fingerprints): 4×15-bit band equijoin, exact
    * `bit_count(xor)` verify, never all-pairs. Three independent volume
    * defenses:
    *
    *  0. EXACT-DUPLICATE COLLAPSE — pairing runs per DISTINCT
    *     fingerprint; identical-fp clusters contribute one
    *     representative to the band join and their member pairs
    *     materialize only at the end through result-shaped fp
    *     equijoins (intra-cluster at hamming 0, cross-cluster by
    *     expanding verified rep pairs). True near-dup mega-clusters —
    *     the one case sub-band refinement provably cannot reduce — thus
    *     never put their quadratic into a shuffle, join, or verify;
    *     only the output itself is quadratic, which is the semantics.
    *
    *  1. CANDIDATE-VOLUME router — the d15 Σ C(gsz,2) probe generalized
    *     to the hamming tier: one aggregate over the keyed bands measures
    *     EXACTLY the row count the band self-join would emit, BEFORE that
    *     join runs. When the mass exceeds `candFactor` rows per item and
    *     a single bucket alone exceeds that budget (gsz ≥
    *     √(2·candFactor·n) — perceptual collisions: correlated media
    *     sharing one band's 15 bits while genuinely far apart), the
    *     oversized buckets re-key by (band, sub-band of the remaining 45
    *     bits) — [[subBandShape]]'s exact pigeonhole split, so the pair
    *     set is IDENTICAL, only coincidental co-residents separate. The
    *     split is adopted only if a re-probe of the split keys measures
    *     at least a 2× mass reduction (a true near-dup mega-cluster
    *     shrinks nothing — its pairs all verify — and reverts to the
    *     salted path), and only at radii where refinement can win at all
    *     ([[subSplitViable]]).
    *  2. SKEW salting — bands whose population reaches `blockThreshold`
    *     route through the salted blocked formulation
    *     ([[graft.operators.GraphOps.sameGroupPairsSkewSafe]]), so one
    *     pathological bucket spreads over nBlocks·(nBlocks+1)/2 tasks
    *     instead of one reducer. Salting bounds TASK size, the router
    *     bounds candidate VOLUME; an adopted split feeds its (smaller)
    *     sub-buckets through the same salted stage.
    *
    * The fingerprint rides inside the pair id (a struct), so
    * verification needs no join back to the corpus.
    */
  private[graft] def bandedHammingPairs(
      fp: DataFrame,
      fpCol: String,
      maxHamming: Int,
      blockThreshold: Int,
      nBlocks: Int,
      subSplit: Boolean = true,
      candFactor: Long = 20L): DataFrame = {
    // Materialize the fingerprints once (16 bytes/row): the skew routing
    // consumes its input in several plan branches, and each would
    // otherwise re-run the fingerprint kernel over the corpus.
    val fpCp = fp.select(col("doc_id"), col(fpCol).as("fp")).localCheckpoint(true)
    // The band/verify stage over any (doc_id, fp) set — shared by the
    // direct and collapsed routes; the sub-band router runs inside it.
    def bandStage(rows: DataFrame): DataFrame = {
      val banded = rows
        .select(col("doc_id"), col("fp"), posexplode(bands15(col("fp"))))
        .toDF("doc_id", "fp", "band_id", "band")
      val keyed0 = banded.select(
        (col("band_id").cast("long") * 32768L + col("band")).as("grp"),
        struct(col("doc_id"), col("fp")).as("id"))
      val keyed =
        if (!subSplit || !subSplitViable(maxHamming)) keyed0
        else subSplitKeys(keyed0, maxHamming, candFactor)
      graft.operators.GraphOps.sameGroupPairsSkewSafe(keyed, blockThreshold, nBlocks)
    }
    // Measure-then-route on the duplicate ratio: the exact-dup COLLAPSE
    // below pays two extra aggregates and two expansion joins, which a
    // corpus of (near-)unique fingerprints never earns back — one
    // approximate-distinct probe decides (the routes answer identically
    // either way, so the estimator's ~2% error only moves the cost knee).
    val st = fpCp.agg(count(lit(1)), approx_count_distinct(col("fp"))).head()
    val (nRows, approxDistinct) = (st.getLong(0), st.getLong(1))
    // The collapse pays when duplicate MASS is concentrated — Σ C(m,2)
    // grows with cluster size, and scattered 2-row dups save less than
    // the expansion joins cost. Average cluster size ≥ 2 (half the rows
    // are duplicates) is the measured knee: m12's frame corpus sits at
    // ~9× and wins 16×; d9's text corpus at ~1.1× loses seconds.
    if (nRows < 2L * approxDistinct) {
      // Low duplicate mass: pair the rows directly. Verify BEFORE
      // dedup — hamming is a cheap codegen'd xor+popcount on columns
      // the join already carries and is the selective step, so the
      // distinct's exchange moves survivors (× band multiplicity ≤ 4),
      // never the candidate mass. No terminal sort (Verify
      // canonicalizes at dump time; the g1/g2 discipline).
      bandStage(fpCp)
        .select(
          col("id1.doc_id").as("doc_id1"), col("id2.doc_id").as("doc_id2"),
          bit_count(col("id1.fp").bitwiseXOR(col("id2.fp"))).cast("long").as("hamming"))
        .filter(col("hamming") <= maxHamming)
        .distinct()
    } else {
      // COLLAPSE exact-duplicate fingerprints before any pairing: the
      // band/verify machinery runs once per DISTINCT fingerprint, and
      // member pairs materialize only at the end, through result-shaped
      // equijoins. On corpora with identical-fingerprint clusters (m12's
      // shared frames: the sf3 probe measured 44 buckets of up to 15k
      // frames, 1.07e9 band candidates, sub-split REVERTED because the
      // clusters are real) this removes the quadratic from every
      // shuffle, join, and verify — the only quadratic left is the
      // output itself, which is the semantics.
      val reps = fpCp.groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
      // Identical fingerprints never reach this join, so every rep pair
      // has hamming ≥ 1 — disjoint from the intra-cluster stream below.
      val repPairs = bandStage(reps)
        .select(
          col("id1.fp").as("fp1"), col("id2.fp").as("fp2"),
          bit_count(col("id1.fp").bitwiseXOR(col("id2.fp"))).cast("long").as("hamming"))
        .filter(col("hamming") <= maxHamming)
        .distinct()
      // Identical-fingerprint member pairs (hamming 0): a fp-keyed
      // salted self-pairing — output-shaped work, no verify needed by
      // definition.
      val intra = graft.operators.GraphOps
        .sameGroupPairsSkewSafe(
          fpCp.select(col("fp").as("grp"), col("doc_id").as("id")),
          blockThreshold, nBlocks)
        .select(col("id1").as("doc_id1"), col("id2").as("doc_id2"),
          lit(0L).as("hamming"))
      // Cross-cluster expansion: each verified DISTINCT-fp pair fans out
      // to its member product through two fp equijoins — shuffles move
      // the linear member table and the result-sized rep pairs; the
      // quadratic appears only as join OUTPUT. No dedup needed: rep
      // pairs are distinct and members are unique per fingerprint.
      val cross = repPairs
        .join(fpCp.select(col("fp").as("fp1"), col("doc_id").as("a")), Seq("fp1"))
        .join(fpCp.select(col("fp").as("fp2"), col("doc_id").as("b")), Seq("fp2"))
        .select(
          least(col("a"), col("b")).as("doc_id1"),
          greatest(col("a"), col("b")).as("doc_id2"),
          col("hamming"))
      intra.unionByName(cross)
    }
  }

  /** The measured candidate-volume route of [[bandedHammingPairs]]:
    * probe the keyed bands' exact pre-join mass; if it is within budget
    * (or no single bucket dominates it) return the keys untouched, else
    * re-key the oversized buckets by their [[subBandShape]] pigeonhole
    * sub-bands, re-probe, and adopt the split only on a measured ≥2×
    * mass reduction. Returns a (grp, id) frame whose self-equijoin emits
    * a SUPERSET of exactly the qualifying pairs (dedup + hamming verify
    * downstream are unchanged); split keys live at ≥ 2^17, disjoint from
    * the 17-bit direct band keys, so the union feeds one salted stage.
    */
  private[graft] def subSplitKeys(keyed0: DataFrame, maxHamming: Int, candFactor: Long): DataFrame = {
    val k = keyed0.localCheckpoint(true)
    def massOf(df: DataFrame): Long =
      df.groupBy("grp").agg(count(lit(1)).as("gsz"))
        .agg(coalesce(sum(expr("gsz * (gsz - 1) DIV 2")), lit(0L)))
        .head().getLong(0)
    val pr = k.groupBy("grp").agg(count(lit(1)).as("gsz"))
      .agg(
        coalesce(sum(expr("gsz * (gsz - 1) DIV 2")), lit(0L)),
        coalesce(sum(col("gsz")), lit(0L)),
        coalesce(max(col("gsz")), lit(0L)))
      .head()
    val (mass, rows, maxSz) = (pr.getLong(0), pr.getLong(1), pr.getLong(2))
    val nItems = math.max(rows / 4, 1L) // 4 bands per fingerprint
    // A bucket routes when ITS OWN mass C(gsz,2) exceeds the whole
    // corpus' candidate budget: gsz ≥ √(2·candFactor·n).
    val gszCut = math.max(2L, math.ceil(math.sqrt(2.0 * candFactor * nItems)).toLong)
    // Within budget (or no single bucket dominates): the direct band
    // keys, already checkpointed — the salted stage's own probe and its
    // join branches reuse the same blocks.
    if (mass <= candFactor * nItems || maxSz < gszCut) k
    else {
      val (s, w, maxW) = subBandShape(maxHamming)
      val overGroups = broadcast(
        k.groupBy("grp").agg(count(lit(1)).as("gsz"))
          .filter(col("gsz") >= gszCut).select("grp"))
      val small = k.join(overGroups, Seq("grp"), "left_anti")
      // The 45 bits outside this bucket's band, packed low-to-high in
      // rotation order (band_id = grp DIV 32768 picks which 15 bits the
      // bucket already agrees on).
      val rem = (1 to 3).map { t =>
        expr(s"shiftleft(shiftright(id.fp, CAST((((grp DIV 32768) + $t) % 4) * 15 AS INT)) & 32767, ${(t - 1) * 15})")
      }.reduce(_.bitwiseOR(_))
      val subVals = array((0 until s).map { j =>
        val width = if (j == s - 1) maxW else w
        expr(s"shiftright(rem, ${j * w}) & ${(1L << width) - 1}")
      }: _*)
      val over = k.join(overGroups, Seq("grp"), "left_semi")
        .withColumn("rem", rem)
        .select(col("grp"), col("id"), posexplode(subVals))
        .toDF("grp", "id", "j", "subv")
        .select(
          (lit(1L << 17) + (col("grp") * s + col("j")) * lit(1L << maxW) + col("subv")).as("grp"),
          col("id"))
        .localCheckpoint(true)
      val overMass = massOf(k.join(overGroups, Seq("grp"), "left_semi"))
      val splitMass = massOf(over)
      if (splitMass * 2 <= overMass) small.unionByName(over)
      else { Superstep.release(over); k }
    }
  }

  /** The explode + grouped-vote reference formulation of d4, kept as the
    * executable spec oracle for [[d4SimHash]]'s native expression: one md5
    * per distinct gram, 60 codegen'd ±1 sum aggregates.
    */
  /** d12: gram-containment near-dup pairs — the ASYMMETRIC relation the
    * Jaccard family misses: `containment(A→B) = |g(A)∩g(B)| / |g(A)|`
    * flags a short document quoted or templated inside a longer one even
    * when their symmetric Jaccard is tiny (|g(B)| dominates the union).
    * Standard curation tier next to d2/d3: quote-expansion, boilerplate
    * wrappers, article-plus-commentary mirrors.
    *
    * Scale shape: an INVERTED-INDEX equijoin on the packed gram code
    * (each doc's sorted-distinct codes exploded once), counting shared
    * grams per ORDERED pair — never an all-pairs scan. The pair fan-out
    * axis is per-gram document frequency, so grams appearing in more
    * than `dfCutoff` docs (boilerplate shingles) are dropped from the
    * gram SPACE entirely — numerator and denominator both, keeping the
    * ratio a true containment over the filtered space — which bounds
    * per-gram join work to dfCutoff². Both effects mirrored exactly in
    * the oracle. Fixed-point micro-units as everywhere.
    */
  def d12Containment(
      spark: SparkSession,
      dir: String,
      thresholdMicro: Long = 800000L,
      dfCutoff: Long = 64L): DataFrame =
    containmentPairs(Tables(spark, dir).documents, thresholdMicro, dfCutoff)

  /** Core of [[d12Containment]] over any (doc_id, text) frame. */
  def containmentPairs(
      documents: DataFrame,
      thresholdMicro: Long,
      dfCutoff: Long): DataFrame = {
    val inv = documents
      .filter(length(col("text")) >= 5)
      .select(col("doc_id"), explode(gramCodes(col("text"))).as("g"))
    val stop = inv.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCutoff).select("g")
    // One checkpointed pass of the filtered index feeds both join sides
    // and the denominator count.
    val pruned = inv.join(stop, Seq("g"), "left_anti").localCheckpoint(true)
    val na = pruned.groupBy("doc_id").agg(count(lit(1)).as("n_grams_a"))
    pruned.select(col("doc_id").as("id_a"), col("g"))
      .join(pruned.select(col("doc_id").as("id_b"), col("g")), Seq("g"))
      .filter(col("id_a") =!= col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared"))
      .join(na.withColumnRenamed("doc_id", "id_a"), Seq("id_a"))
      .withColumn("containment_micro", expr("(shared * 1000000) DIV n_grams_a"))
      .filter(col("containment_micro") >= thresholdMicro)
      .select(col("id_a"), col("id_b"), col("shared"), col("n_grams_a"),
        col("containment_micro"))
  }

  /** d13: edit-distance-1 fuzzy pairs over a name column via symmetric
    * deletion blocking (the SymSpell construction) — the entity-resolution
    * primitive behind the reference's dimension maintenance, where the
    * same org/person arrives with typo'd or re-romanized names and MERGE
    * keys on the raw string silently forks the node
    * (mysql2neo4j.py:740 auto-creates a workplace org per distinct
    * spelling). Each name emits itself plus every single-character
    * deletion as block keys; two names within edit distance 1 ALWAYS
    * share a key (substitution at i → both delete i; insert/delete → the
    * shorter name IS a deletion variant of the longer), so unlike the
    * banded hamming tiers this blocking has true recall 1.0 at d ≤ 1.
    * Candidates are then verified by exact `levenshtein` — never
    * all-pairs.
    *
    * Scale shape: the variant index is a map-side explode with fan-out
    * `len+1` per name; the join is an equijoin on the variant string, so
    * candidate volume is Σ block² over variant buckets — governed by how
    * many names share a deletion, not by the corpus². A pathological
    * shared-prefix bucket routes through the same salted blocked-pairs
    * escape hatch as d9/m6. Verification cost is candidates only, and
    * the O(len²) DP runs on strings already known to share `len-1`
    * characters.
    */
  def d13FuzzyPairs(spark: SparkSession, dir: String): DataFrame =
    fuzzyNamePairs(Tables(spark, dir).part.select(col("p_name").as("name")).distinct())

  /** Core of [[d13FuzzyPairs]] over any single-column (name) frame. */
  def fuzzyNamePairs(names: DataFrame): DataFrame = {
    val variants = names
      .withColumn("variant", explode(concat(
        array(col("name")),
        expr("""transform(sequence(0, length(name) - 1),
               |  i -> concat(substring(name, 1, i), substring(name, i + 2)))""".stripMargin))))
    variants.select(col("name").as("name1"), col("variant"))
      .join(variants.select(col("name").as("name2"), col("variant")), Seq("variant"))
      .filter(col("name1") < col("name2"))
      .select("name1", "name2")
      .dropDuplicates("name1", "name2")
      .withColumn("dist", levenshtein(col("name1"), col("name2")).cast("long"))
      .filter(col("dist") <= 1)
  }

  /** d14: repeated-SPAN detection — the substring-granularity tier the
    * whole-document family (d1–d13) misses. Production corpora strip
    * repeated regions WITHIN otherwise-unique documents (boilerplate
    * paragraphs, quoted headers, licence blocks — the RefinedWeb /
    * "Deduplicating Training Data Makes Language Models Better"
    * exact-substring pass). Since the synthetic corpus has no paragraph
    * breaks, the span unit is the word `k`-gram; a newline-delimited
    * corpus would shingle at paragraph boundaries through the same plan.
    *
    * Emits one row per MAXIMAL repeated region: (doc_id, span_start,
    * span_end, span_tokens), positions 1-based in token space. A position
    * is covered when some k-gram window containing it also occurs in at
    * least one OTHER document; contiguous covered runs merge into one
    * span (gaps-and-islands over window starts).
    *
    * Scale shape — three bounded stages, no all-pairs anywhere:
    *  1. gram generation is a shuffle-free projection (`transform` over
    *     `sequence`, one xxhash64 per window — the array never leaves the
    *     row); fan-out is exactly tokens-per-doc rows.
    *  2. "appears in ≥2 docs" is `min(doc_id) < max(doc_id)` per gram
    *     hash — a partial-aggregable groupBy, NOT a countDistinct (no
    *     per-gram doc-id set is ever materialized).
    *  3. span assembly is a per-document window (orderBy pos inside
    *     partitionBy doc_id), bounded by document length.
    * The corpus-wide state is one 8-byte hash per distinct gram — the
    * same fingerprint-not-text discipline as d3/d4; at 100 TB the
    * duplicated-gram side of the join is Bloom/semi-join prunable.
    *
    * Reference analog: the reference dedups at whole-item granularity
    * (processor/data_processor.py:91-143); sub-document spans are the
    * training-pipeline extension.
    */
  def d14SubstringSpans(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = Tables(spark, dir).documents
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= k)
      .select(col("doc_id"),
        posexplode(expr(
          s"""transform(sequence(1, size(w) - ${k - 1}),
             |  p -> xxhash64(array_join(slice(w, p, $k), ' ')))""".stripMargin)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("s"), col("col").as("gh"))
      // Consumed by BOTH the dup-gram aggregate and the coverage join:
      // materialize once (20 bytes/row) instead of re-running the gram
      // explode + xxhash64 over the corpus per branch — the same shared-
      // frame discipline as bandedHammingPairs / d15's chunks.
      .localCheckpoint(true)
    val dupGrams = grams.groupBy("gh")
      .agg(min("doc_id").as("mn"), max("doc_id").as("mx"))
      .filter(col("mn") < col("mx"))
      .select("gh")
    val covered = grams.join(dupGrams, Seq("gh"))
      .select(col("doc_id"), col("s"), (col("s") + (k - 1)).as("e"))
    // Islands over covered windows: a new span starts when the window
    // leaves a ≥1-token gap after everything covered so far. Window
    // starts are distinct per doc, so orderBy(s) is deterministic.
    val wPrev = Window.partitionBy("doc_id").orderBy("s")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy("doc_id").orderBy("s")
    covered
      .withColumn("prev_max", max("e").over(wPrev))
      .withColumn("brk",
        when(col("prev_max").isNull || col("s") > col("prev_max") + 1, 1L).otherwise(0L))
      .withColumn("gid", sum("brk").over(wRun))
      .groupBy("doc_id", "gid")
      .agg(min("s").as("span_start"), max("e").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** d15: NEAR-duplicate chunk pairs across documents — the fuzzy
    * complement of [[d14SubstringSpans]]'s exact tier: d14 finds spans
    * repeated verbatim; d15 finds paragraph-sized regions that are
    * *almost* the same across documents (lightly edited boilerplate,
    * templated intros with substituted entities) — the
    * paragraph-granularity MinHash pass of a production curation stack.
    * Documents are cut into fixed `chunkWords`-word chunks (a
    * newline-delimited corpus would chunk at paragraph boundaries through
    * the same plan) and the d3 machinery runs at chunk granularity:
    * one-pass native MinHash signatures per chunk, banded LSH candidates
    * (with the shared salted skew escape, and a candidate-volume probe
    * that auto-widens the bands when the corpus's background similarity
    * makes the default shape quadratic — see the routing note in the
    * body), exact char-5-gram Jaccard verification. Cross-document pairs only (intra-document repetition
    * is t14/d14's domain). Output (doc_id1, chunk1, doc_id2, chunk2,
    * jaccard_micro), doc_id1 < doc_id2.
    *
    * Scale shape: identical to d3 — chunking multiplies rows by
    * ~tokens/chunkWords but each signature kernel runs over a BOUNDED
    * text slice, candidates are a band equijoin (never all-pairs), and
    * the verify join touches candidate chunks only. Chunk ids pack as
    * doc_id·2^20+chunk_no so every stage moves 8-byte keys (up to ~1M
    * chunks = 32M words per document before aliasing, and ids to 2^43).
    */
  /** Candidate-volume-routed band shape, shared by the doc-level (d3)
    * and chunk-level (d15) LSH tiers — the q16 skew probe applied to the
    * banding's own buckets: Σ_grp C(gsz,2) is EXACTLY the row count the
    * band self-join would emit, measured by one aggregate over the
    * checkpointed keys BEFORE that join runs. On real text at
    * threshold 0.8 the default narrow bands (32×4 of 128 hashes) pass
    * the probe untouched; on adversarial corpora (tiny vocabularies —
    * background 5-gram Jaccard ~0.2 vs ~0.02-0.05 real text) candidates
    * explode quadratically, and each halving of the band count doubles
    * the rows per band, collapsing background collision probability
    * (per-pair t^4 → t^8: 1.6e-3 → 2.6e-6 at t=0.2) while keeping ≥94%
    * recall at the 0.8 threshold (1-(1-0.8^8)^16). The escalation trades
    * that documented recall sliver for a candidate volume proportional
    * to true near-dups — without it the verify join is quadratic in
    * corpus size on exactly the corpora where near-dup mass is highest.
    * Floor at the 16×8 shape: one more halving (8×16) costs real recall
    * at the working threshold (1-(1-0.8^16)^8 ≈ 0.22 vs ≈ 0.95 at 16×8)
    * for marginal extra selectivity. `keyedAt` must re-slice a STORED
    * signature table (re-banding is a projection, never a re-run of the
    * MinHash kernel over text). Returns the checkpointed keyed table at
    * the chosen width.
    */
  private def autoWidenBands(
      keyedAt: Int => DataFrame,
      startBands: Int,
      candFactor: Long,
      numHashes: Int,
      minBands: Int = 16): DataFrame = {
    // Every band width this router can choose must slice the signature
    // EXACTLY (numHashes % b == 0): a non-divisor silently drops the
    // high hash indices from banding (128/12 = 10 covers only 120 of
    // 128), which quietly changes recall. Checked up front for both
    // endpoints, and each halving below clamps to minBands (a plain b/2
    // from a non-power-of-two start, e.g. 24 → 12, would undershoot the
    // documented recall floor).
    require(startBands >= minBands,
      s"startBands=$startBands below the recall floor minBands=$minBands")
    require(numHashes % startBands == 0 && numHashes % minBands == 0,
      s"band widths must divide numHashes=$numHashes: startBands=$startBands minBands=$minBands")
    var b = startBands
    var keyed = Superstep.pin(keyedAt(b))
    def probe(k: DataFrame): (Long, Long) = {
      val r = k.groupBy("grp").agg(count(lit(1)).as("gsz"))
        .agg(
          coalesce(sum(expr("gsz * (gsz - 1) DIV 2")), lit(0L)),
          coalesce(sum(col("gsz")), lit(0L)))
        .head()
      (r.getLong(0), r.getLong(1))
    }
    var (mass, rows) = probe(keyed)
    // Items being banded is band-width-invariant; take it from the first
    // probe so later iterations only re-measure the candidate mass.
    val nItems = math.max(rows / math.max(b, 1), 1L)
    while (mass > candFactor * nItems && b > minBands) {
      // The next width re-slices the stored signatures, not `keyed`.
      Superstep.release(keyed)
      // Clamp at the recall floor; if the clamped halving doesn't divide
      // numHashes (possible only from a non-power-of-two start), jump
      // straight to minBands, which the entry check proved divides.
      val next = math.max(b / 2, minBands)
      b = if (numHashes % next == 0) next else minBands
      keyed = Superstep.pin(keyedAt(b))
      mass = probe(keyed)._1
    }
    keyed
  }

  def d15ChunkNearDup(
      spark: SparkSession,
      dir: String,
      chunkWords: Int = 32,
      threshold: Double = 0.8,
      numHashes: Int = 128,
      bands: Int = 32,
      blockThreshold: Int = 100000,
      nBlocks: Int = 0,
      autoBand: Boolean = true,
      candFactor: Long = 20L): DataFrame = {
    val nPart = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val chunks = Tables(spark, dir).documents
      .filter(length(col("text")) >= 5)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .repartition(nPart)
      .select(col("doc_id"),
        posexplode(expr(
          s"""transform(sequence(0, CAST((size(w) - 1) DIV $chunkWords AS INT)),
             |  c -> array_join(slice(w, c * $chunkWords + 1, $chunkWords), ' '))""".stripMargin)))
      .toDF("doc_id", "cn", "ct")
      .filter(length(col("ct")) >= 5)
      .select((col("doc_id") * expr("CAST(1048576 AS BIGINT)") + col("cn")).as("cid"), col("ct"))
      .localCheckpoint(true)
    // Signatures are computed ONCE and checkpointed: the band shape below
    // may be re-derived at a different width, and re-slicing a stored
    // signature is a projection while re-hashing the text is the whole
    // MinHash kernel again.
    val sigs = chunks
      .select(col("cid"),
        org.apache.spark.sql.graft.VectorExpressions
          .minhashSignature(col("ct"), 5, numHashes).as("sig"))
      .localCheckpoint(true)
    def keyedAt(b: Int): DataFrame = {
      val rowsPerBand = numHashes / b
      sigs
        .select(col("cid"), explode(sequence(lit(0), lit(b - 1))).as("band_id"), col("sig"))
        .select(col("cid"), col("band_id"),
          hash(col("band_id"), slice(col("sig"), col("band_id") * rowsPerBand + 1, lit(rowsPerBand)))
            .as("band_hash"))
        .select(
          (col("band_id").cast("long").multiply(lit(4294967296L))
            .plus(col("band_hash").cast("long").bitwiseAND(lit(0xFFFFFFFFL)))).as("grp"),
          col("cid").as("id"))
    }
    val keyed =
      if (autoBand) autoWidenBands(keyedAt, bands, candFactor, numHashes)
      else keyedAt(bands).localCheckpoint(true)
    val candidates = graft.operators.GraphOps
      .sameGroupPairsSkewSafe(keyed, blockThreshold, nBlocks)
      .select(col("id1").as("cid1"), col("id2").as("cid2"))
      .distinct()
      // cross-document only; packed ids keep doc order: cid1 < cid2 with
      // different docs ⟺ doc_id1 < doc_id2
      .filter(expr("cid1 DIV 1048576") =!= expr("cid2 DIV 1048576"))
      .repartition(nPart, col("cid1"), col("cid2"))
    val grams = chunks.select(col("cid"), gramCodes(col("ct")).as("grams"))
    val n1 = size(col("g1")).cast("double")
    val n2 = size(col("g2")).cast("double")
    val inter = org.apache.spark.sql.graft.VectorExpressions
      .sortedIntersectCountLong(col("g1"), col("g2")).cast("double")
    candidates
      .join(grams.select(col("cid").as("cid1"), col("grams").as("g1")), Seq("cid1"))
      .join(grams.select(col("cid").as("cid2"), col("grams").as("g2")), Seq("cid2"))
      .filter(least(n1, n2) / greatest(n1, n2) >= threshold)
      .withColumn("jac", inter / (n1 + n2 - inter))
      .filter(col("jac") >= threshold)
      .select(
        expr("cid1 DIV 1048576").as("doc_id1"), expr("cid1 % 1048576").as("chunk1"),
        expr("cid2 DIV 1048576").as("doc_id2"), expr("cid2 % 1048576").as("chunk2"),
        floor(col("jac") * 1000000.0).cast("long").as("jaccard_micro"))
  }

  /** d16: Bloom-ACCELERATED incremental exact dedup — d7's exact tier with
    * the corpus-side join input collapsed before any shuffle happens. The
    * existing corpus folds into one Bloom filter over `xxhash64(text)`
    * digests (Spark's distributed `stat.bloomFilter` aggregate — only the
    * bit array reaches the driver); the incoming batch probes it in a
    * zero-shuffle codegen'd projection, and ONLY the "maybe" survivors
    * (true duplicates + the fpp·|incoming| false-positive sliver) enter
    * the exact md5 verification join. A Bloom false positive merely sends
    * one extra row to the verify join where it finds no match ("new");
    * false negatives are impossible for identical text (identical digest)
    * — so the output is bit-identical to the plain join classification
    * (spec-pinned) while the join moves ~|dups| rows instead of
    * |incoming|.
    *
    * This is the ingest-path shape at 100 TB, where almost every incoming
    * document is genuinely new and the anti-join against a billions-row
    * corpus digest table is pure wasted shuffle: the filter is built once
    * per corpus epoch (and is incrementally maintainable — `put` is
    * union), broadcast ~1.2 GB per 10⁹ docs at 1% fpp; past single-digit
    * billions it shards by digest prefix into per-shard filters probed the
    * same way. Spark's own `InjectRuntimeFilter` applies this idea only
    * inside selective shuffle joins; the ingest gate wants it explicit and
    * unconditional.
    *
    * Reference analog: `check_html_exists` / `filter_existing`
    * (utils/db_utils.py:91, processor/data_processor.py:91-143) — the
    * skip-already-fetched gate, here without ever joining the full corpus.
    */
  def d16BloomPrefilter(spark: SparkSession, dir: String, fpp: Double = 0.01): DataFrame = {
    val nPart = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val docs = Tables(spark, dir).documents.select(col("doc_id"), col("text"))
    // Re-crawl batch against the full corpus: pages with doc_id % 3 == 0
    // come back byte-identical under a new crawl id (→ exact dup), pages
    // with % 3 == 1 come back edited (→ new). Non-vacuous on BOTH
    // branches, unlike a corpus split of an all-distinct test table.
    val incoming = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      .unionByName(docs.filter(pmod(col("doc_id"), lit(3)) === 1)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" v2")).as("text")))
      .repartition(nPart)
    val existing = docs.repartition(nPart)
    // ONE corpus text scan for the filter build: the 8-byte digest column
    // is checkpointed, then both the filter-sizing count and the Bloom
    // aggregate read the digest blocks — the corpus text is never scanned
    // twice for one filter (it was: count + stat.bloomFilter were two full
    // passes). The production form skips the count entirely, sizing from
    // table statistics or the previous epoch's corpus count.
    val dg = existing.select(xxhash64(col("text")).as("dg")).localCheckpoint(true)
    val exCount = math.max(dg.count(), 1L)
    val bloom = dg.stat.bloomFilter(col("dg"), exCount, fpp)
    val maybe = incoming.filter(
      org.apache.spark.sql.graft.VectorExpressions
        .bloomMightContainLong(xxhash64(col("text")), bloom))
    val matches = maybe.select(col("doc_id"), md5(col("text")).as("h"))
      .join(existing.select(md5(col("text")).as("h"), col("doc_id").as("ex_id")), Seq("h"))
      .groupBy("doc_id")
      .agg(min(col("ex_id")).as("dup_of"))
    incoming.select(col("doc_id"))
      .join(matches, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        when(col("dup_of").isNotNull, lit("dup")).otherwise(lit("new")).as("status"),
        col("dup_of"))
  }

  /** d17: repeated-span STRIP — the apply step over [[d14SubstringSpans]]:
    * every token covered by a cross-document repeated region is removed
    * and the cleaned text re-assembled (the transformation RefinedWeb's
    * exact-substring pass actually performs on the corpus; d14 is its
    * detect half). Conservative strip semantics: covered tokens drop from
    * EVERY occurrence — deterministic, order-free, and idempotent, where
    * keep-first would depend on a global document order.
    *
    * Scale shape: d14's span table is result-sized (rows = repeated
    * regions, not tokens); grouped per doc it left-joins back onto the
    * corpus scan on doc_id — one key-partitioned join — and the strip
    * itself is a pure projection (`filter` over token indices against the
    * row's own span array, then `array_join`); no token ever leaves its
    * row. Docs without spans pass through the join as null → kept whole.
    */
  def d17StripSpans(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val spans = d14SubstringSpans(spark, dir, k)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start").as("s"), col("span_end").as("e"))).as("spans"))
    Tables(spark, dir).documents
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("w"),
        coalesce(col("spans"), array().cast("array<struct<s:bigint,e:bigint>>")).as("spans"))
      .withColumn("keep",
        expr("filter(sequence(1, size(w)), p -> NOT exists(spans, sp -> p >= sp.s AND p <= sp.e))"))
      .select(
        col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        (size(col("w")) - size(col("keep"))).cast("long").as("removed_tokens"),
        expr("array_join(transform(keep, p -> w[p - 1]), ' ')").as("clean_text"))
  }

  def d4SimHashAgg(spark: SparkSession, dir: String): DataFrame = {
    val nBits = 60
    val exploded = Tables(spark, dir).documents
      .filter(length(col("text")) >= 5)
      .select(col("doc_id"), explode(shingles(col("text"))).as("g"))
      .select(
        col("doc_id"),
        conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long").as("h"))
    val bitVotes = (0 until nBits).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)).as(s"b$i")
    }
    val fp = (0 until nBits)
      .map(i => when(col(s"b$i") >= 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
    exploded.groupBy("doc_id").agg(bitVotes.head, bitVotes.tail: _*)
      .select(col("doc_id"), fp.as("simhash"))
      .select(
        col("doc_id"), col("simhash"),
        shiftright(col("simhash"), 0).bitwiseAND(lit(32767L)).as("band0"),
        shiftright(col("simhash"), 15).bitwiseAND(lit(32767L)).as("band1"),
        shiftright(col("simhash"), 30).bitwiseAND(lit(32767L)).as("band2"),
        shiftright(col("simhash"), 45).bitwiseAND(lit(32767L)).as("band3"))
  }

  /** d18: WINNOWED fingerprint matching (Schleimer/Wilkerson/Aiken,
    * SIGMOD'03 — the MOSS algorithm): the SPARSE tier of the substring
    * family. d14 indexes EVERY word k-gram (exact, but the index is
    * gram-per-position — corpus-sized×k at 100 TB); winnowing keeps only
    * each sliding window's MINIMUM gram hash, thinning the index to
    * ~2/(w+1) of the positions while keeping the guarantee that matters:
    * any substring shared verbatim across documents of at least
    * w + k − 1 tokens still produces at least one shared selected
    * fingerprint (every length-w window inside the match selects from
    * the same hash sequence on both sides). Below the guarantee length,
    * detection degrades gracefully instead of exactly — the documented
    * trade that buys the density bound.
    *
    * Scale shape: fingerprint selection is ONE shuffle-free projection
    * (gram hashes, window minima, distinct — all inside the row via
    * `transform`/`slice`/`array_min`); the index join is a fingerprint
    * equijoin (never all-pairs) with the d12 stop-key discipline (a
    * fingerprint in > `dfCutoff` docs is boilerplate — dropped from pair
    * generation on BOTH sides, mirrored in the oracle). Gram hashes are
    * the md5 nibble fold (the t21/t28 portability rule: selection
    * DEPENDS on hash values, so the oracle must render the identical
    * integers; production swaps xxhash64 into the same plan when the
    * index never leaves one engine).
    */
  def d18WinnowFingerprints(
      spark: SparkSession, dir: String, k: Int = 8, w: Int = 4,
      dfCutoff: Int = 50): DataFrame =
    winnowPairsOf(Tables(spark, dir).documents, k, w, dfCutoff)

  /** The winnowed pair pipeline over an arbitrary (doc_id, text) frame —
    * factored so the guarantee spec runs on a crafted corpus. Selection
    * runs through the native one-pass
    * [[org.apache.spark.sql.graft.WinnowCodes]] kernel (tokens → md5
    * gram codes → sliding minima → first-occurrence distinct, total on
    * short input); bit-identical to [[winnowFingerprintsHof]] below
    * (spec-pinned) at ~14× the throughput — the interpreted HOF chain
    * paid per-element expression dispatch plus a per-gram slice/join
    * allocation storm (28 s → 2 s for the sf1 selection stage).
    */
  def winnowPairsOf(
      docs: DataFrame, k: Int = 8, w: Int = 4, dfCutoff: Int = 50): DataFrame = {
    val fps = docs
      .select(col("doc_id"),
        explode(org.apache.spark.sql.graft.VectorExpressions
          .winnowCodes(col("text"), k, w)).as("h"))
    val fpsC = fps.localCheckpoint(true)
    val keep = fpsC.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCutoff)
      .select("h")
    val pruned = fpsC.join(keep, Seq("h"))
    pruned.select(col("h"), col("doc_id").as("doc_id1"))
      .join(pruned.select(col("h"), col("doc_id").as("doc_id2")), Seq("h"))
      .filter(col("doc_id1") < col("doc_id2"))
      .groupBy("doc_id1", "doc_id2")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** The HOF reference formulation of the winnowed fingerprint set, kept
    * as the executable spec oracle for [[org.apache.spark.sql.graft.WinnowCodes]]
    * (the d4 convention). Execution-shape notes preserved because both
    * bite any HOF pipeline of this shape:
    *  - the gram array must be bound as a LAMBDA VARIABLE
    *    (`transform(array(gh), gh -> ...)[0]`): CollapseProject inlines a
    *    projection referenced from a lambda body, and every window's
    *    `slice(gh, j, w)` then re-evaluates the whole md5 gram array —
    *    O(n²·md5), 276 s at sf0.1 vs 6.9 s bound;
    *  - the expression must be TOTAL (IF-guarded): InferFiltersFromGenerate
    *    derives `size(fps) > 0` from a downstream explode and pushes it
    *    below any length filter with the definition inlined, so a partial
    *    expression crashes on short rows (sequence(1, 0) DESCENDS,
    *    handing slice a zero start).
    */
  def winnowFingerprintsHof(docs: DataFrame, k: Int = 8, w: Int = 4): DataFrame = {
    val minTokens = k + w - 1
    docs
      .select(col("doc_id"), split(col("text"), "\\s+").as("wd"))
      .select(col("doc_id"), expr(
        s"""transform(array(
           |  IF(size(wd) >= $minTokens,
           |    transform(sequence(1, size(wd) - ${k - 1}),
           |      i -> CAST(conv(substring(md5(array_join(slice(wd, i, $k), ' ')), 1, 15), 16, 10) AS BIGINT)),
           |    CAST(array() AS ARRAY<BIGINT>))),
           |  gh -> IF(size(gh) >= $w,
           |    array_distinct(transform(sequence(1, size(gh) - ${w - 1}),
           |      j -> array_min(slice(gh, j, $w)))),
           |    CAST(array() AS ARRAY<BIGINT>)))[0]""".stripMargin).as("fps"))
  }
}
