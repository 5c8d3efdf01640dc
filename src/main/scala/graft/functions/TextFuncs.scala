package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Superstep, Tables}

/** Text analysis over the documents corpus — all pure built-in column
  * expressions (whole-stage codegen, no UDFs), so a 100 TB scan stays a
  * single codegen'd projection with column pruning at the parquet reader.
  *
  * Reference analogs: content validation (utils/content_validator.py:61),
  * text cleaning (html_extractor/extract_content_from_remark.py:686),
  * cache fingerprints (utils/db_utils.py), rule-mapping field extraction
  * (html_extractor/extract_table_from_remark.py:336-440).
  */
object TextFuncs {

  /** Occurrences of a regex pattern in a column. */
  def patternHits(c: Column, pattern: String): Column = regexp_count(c, lit(pattern))

  /** Whitespace tokens count (0 for blank text). */
  def tokenCount(c: Column): Column =
    when(length(trim(c)) === 0, lit(0)).otherwise(size(split(trim(c), "\\s+")))

  /** Fixed-point ratio: floor(1e6 * num/den) as a long — exact across
    * engines, no float-hash flakiness.
    */
  def ratioMicro(num: Column, den: Column): Column =
    when(den === 0, lit(0L)).otherwise(floor(num.cast("double") * 1000000.0 / den.cast("double")).cast("long"))

  // Language marker patterns: tiny deterministic stopword heuristics.
  val langMarkers: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|and|of)\\b",
    "de" -> "\\b(der|die|das|und)\\b",
    "es" -> "\\b(el|los|las|una)\\b",
    "fr" -> "\\b(le|les|une|est)\\b",
    "zh" -> "[\\x{4e00}-\\x{9fff}]"
  )

  /** t1: token + char stats per document. */
  def t1TokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(
        col("doc_id"),
        tokenCount(col("text")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars_computed"),
        length(regexp_replace(col("text"), "\\s+", "")).cast("long").as("n_nonspace_chars"))

  /** t2: stopword-hit language ID — argmax of marker hits with fixed
    * priority order, 'und' when nothing matches.
    */
  def t2LangId(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id") +: langMarkers.map { case (l, p) =>
        patternHits(col("text"), p).as(s"hits_$l")
      }: _*)
      .withColumn("pred_lang", langArgmax)
      .select("doc_id", "pred_lang")

  /** t3: quality scoring — length, punctuation and stopword ratios in
    * exact fixed-point (reference content_validator semantics).
    */
  def t3QualityScore(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    val nTokens = tokenCount(col("text"))
    val punct = patternHits(col("text"), "[.,!?;:]")
    val stop = patternHits(col("text"), "\\b(the|a|and|of|to)\\b")
    d.select(
        col("doc_id"),
        nTokens.cast("long").as("n_tokens"),
        ratioMicro(punct, length(col("text"))).as("punct_ratio_micro"),
        ratioMicro(stop, nTokens).as("stopword_ratio_micro"),
        (length(col("text")) >= 100 && length(col("text")) <= 20000 && nTokens >= 20)
          .cast("int").as("quality_ok"))
  }

  /** t4: content fingerprint (cache key) + band prefix for bucketing. */
  def t4Fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(
        col("doc_id"),
        md5(col("text")).as("fingerprint"),
        substring(md5(col("text")), 1, 4).as("band"))

  /** t5: rule-mapping field extraction from semi-structured text — regex
    * capture over the events props payload.
    */
  def t5FieldExtract(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .select(
        col("event_id"),
        // nullif before the cast: regexp_extract yields "" on non-match,
        // and under Spark 4's default ANSI mode casting "" to long THROWS
        // instead of producing NULL. The oracle's NULLIF mirror is the
        // same expression.
        nullif(regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1), lit(""))
          .cast("long").as("prop_k"))

  /** BPE-ish pre-tokenization pattern (GPT-2-family shape): contraction
    * suffixes, space-prefixed letter runs, space-prefixed digit runs,
    * space-prefixed punctuation runs, residual whitespace. Kept to
    * constructs with identical semantics in Java regex (Spark) and RE2
    * (DuckDB) so the token count is oracle-comparable.
    */
  val bpePattern: String =
    "'s|'t|'re|'ve|'m|'ll|'d| ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** t11: BPE-ish token counting — the LLM-pipeline budget statistic
    * (context-window sizing, per-document cost estimation). Counting
    * pre-tokenizer matches approximates subword token counts without
    * shipping a merges table; the whole operator is one shuffle-free
    * codegen'd projection like t1–t10. Whitespace-run matches are
    * excluded from the count (they're segmentation residue, not tokens).
    */
  def t11BpeTokens(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(bpePattern), lit(0))).cast("long").as("n_pieces"),
        size(filter(regexp_extract_all(col("text"), lit(bpePattern), lit(0)),
          p => !p.rlike("^\\s+$"))).cast("long").as("n_tokens"))

  /** t10: multi-field structured entity extraction — the news pipeline's
    * typed record per item (news_schema.py:1-88: leader / event / targets
    * lists / scores) as a single `from_json` over a JSON document, pulling
    * scalar, nested-object and array-typed fields in one parse.
    *
    * The document wraps the raw `props` payload VERBATIM as a nested
    * object and adds typed fields built from the row, so Spark and the
    * oracle construct byte-identical JSON and the comparison exercises
    * real extraction parity (nested path, array index, array length,
    * numeric casts) rather than formatting luck. One codegen'd projection,
    * no shuffle — at 100 TB this is a scan-bound corpus pass exactly like
    * t1–t9.
    */
  def t10EntityExtract(spark: SparkSession, dir: String): DataFrame = {
    val uid = col("user_id").cast("string")
    val doc = concat(
      lit("{\"person\":\"u"), uid,
      lit("\",\"event\":\""), col("event_type"),
      lit("\",\"meta\":"), col("props"),
      lit(",\"targets\":[\""), col("event_type"), lit("\",\"u"), uid,
      lit("\"],\"score\":"), col("value").cast("string"), lit("}"))
    val schema = "person STRING, event STRING, meta STRUCT<k: BIGINT>, targets ARRAY<STRING>, score DOUBLE"
    Tables(spark, dir).events
      .select(col("event_id"), from_json(doc, org.apache.spark.sql.types.StructType.fromDDL(schema)).as("j"))
      .select(
        col("event_id"),
        col("j.person").as("person"),
        col("j.event").as("event"),
        col("j.meta.k").as("prop_k"),
        size(col("j.targets")).cast("long").as("n_targets"),
        col("j.targets").getItem(0).as("target1"),
        col("j.score").as("score"))
  }

  /** t6: validity classification — min-size + error-marker scan, the
    * ContentValidator contract (utils/content_validator.py:13-100).
    */
  def t6Validate(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_computed"),
        (length(col("text")) >= 200 &&
          !col("text").contains("error") &&
          !col("text").contains("verify")).cast("int").as("is_valid"))

  /** t7: text cleaning — whitespace normalization (the `_clean_text` step,
    * extract_content_from_remark.py:686). Output carries the cleaned
    * text's hash + length rather than the text itself, keeping the
    * verification row narrow.
    */
  def t7TextClean(spark: SparkSession, dir: String): DataFrame = {
    val cleaned = trim(regexp_replace(col("text"), "\\s+", " "))
    Tables(spark, dir).documents
      .select(
        col("doc_id"),
        md5(cleaned).as("clean_hash"),
        length(cleaned).cast("long").as("n_chars_clean"))
  }

  private val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"

  /** t8: PII masking — replace email-shaped spans with a sentinel and
    * count the redactions; one codegen'd projection, the shape of every
    * compliance pass a training corpus goes through before release.
    */
  def t8PiiMask(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(
        col("doc_id"),
        md5(regexp_replace(col("text"), emailRe, "<EMAIL>")).as("masked_hash"),
        regexp_count(col("text"), lit(emailRe)).cast("long").as("n_emails"))

  /** t12: per-language corpus DISTRIBUTION stats — the curation dashboard
    * numbers (how long are documents in each language, where is the
    * tail?) computed exactly: p50/p95 are RANK-based (the value at row
    * ceil(q·n) of the (n_chars, doc_id) order — deterministic under ties,
    * no interpolation, so the oracle reproduces them bit-for-bit) and the
    * mean is integer fixed-point.
    *
    * Scale shape: the rank-r VALUE is fully determined by per-value
    * counts (value v occupies ranks cum(<v)+1 .. cum(≤v), whatever the
    * doc_id tiebreak does inside the run), so the corpus only ever passes
    * through a hash aggregate `(lang, n_chars) → count` — map-side
    * combined, parallel in #distinct pairs. The ordered window that turns
    * counts into cumulative ranks runs over that HISTOGRAM (≤ #distinct
    * lengths per language, bounded by the value domain), never over the
    * documents themselves. The previous formulation's
    * `row_number() over (partition by lang order by …)` sorted every row
    * of a language in ONE task — invisible at sf0.1, a serialization
    * point at 100 TB with a handful of languages.
    */
  def t12CorpusStats(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = Tables(spark, dir).documents
      .select(col("lang"), col("n_chars"))
      .groupBy("lang", "n_chars")
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("lang")).orderBy(col("n_chars").asc)
    val wAll = Window.partitionBy(col("lang"))
    hist
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .groupBy("lang")
      .agg(
        max(col("n")).as("n_docs"),
        expr("sum(n_chars * cnt) * 1000 DIV max(n)").as("mean_chars_milli"),
        min(when(col("cum") >= ceil(col("n") * 0.5), col("n_chars"))).as("p50_chars"),
        min(when(col("cum") >= ceil(col("n") * 0.95), col("n_chars"))).as("p95_chars"))
      .orderBy("lang")
  }

  /** t13: deterministic STRATIFIED sampling — cap each language at `cap`
    * documents, chosen by md5(text) order (a content-derived uniform
    * order both engines sort identically, so the sample is reproducible
    * across runs, engines and cluster sizes — the property a corpus
    * rebuild needs). This is the downsampling half of corpus balancing:
    * over-represented strata are truncated, small strata pass whole. One
    * window rank per stratum; the shuffle key is the stratum, so one
    * dominant language lands its whole stratum in one task.
    */
  def t13StratifiedSample(spark: SparkSession, dir: String, cap: Int = 50): DataFrame =
    stratifiedSampleCore(Tables(spark, dir).documents, cap)

  /** Core of t13 over any (doc_id, lang, text) frame — factored so the
    * streaming form ([[graft.streaming.CurationStream.stratifiedSampleStream]])
    * shares the sampling key (md5 of content, doc_id tie-break) and its
    * agreement spec can run both forms on the same input.
    */
  def stratifiedSampleCore(docs: DataFrame, cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang")).orderBy(md5(col("text")).asc, col("doc_id").asc)
    docs
      .select(col("doc_id"), col("lang"), col("text"))
      .withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= cap)
      .select(col("doc_id"), col("lang"), col("sample_rank").cast("long").as("sample_rank"))
  }

  /** t14: repetition signals — the Gopher-rules quality gate (Rae et al.
    * 2021, "Scaling Language Models", appendix A1.1) that a training
    * corpus is filtered by: duplicate-word mass and most-frequent-word
    * share per document. Machine-generated and boilerplate text shows up
    * as a handful of tokens dominating the mass; both signals plus a
    * threshold flag make that a per-row predicate.
    *
    * Computed WITHOUT exploding the corpus: the word list is sorted once
    * per row and a single `aggregate` fold over the sorted runs yields
    * (distinct count, longest run = top-word count) in one pass — the
    * whole operator stays a shuffle-free projection, so at 100 TB it is a
    * scan-bound corpus pass like t1–t13, not a doc_id×word aggregate
    * (which is what the oracle does — the semantics are identical, the
    * plan is not). Fixed-point ratios via integer DIV keep the oracle
    * comparison exact.
    */
  /** Sorted lowercase word array of a text column — the shared token
    * domain of t14's repetition stats and t22's verdict.
    */
  private def sortedWords(text: Column): Column =
    array_sort(split(trim(lower(text)), "\\s+"))

  /** Run-length fold over sorted words: `run` = length of the current
    * run, `best` = longest run so far (top word count), `nd` = number of
    * run starts (distinct words). Tokens are non-empty, so "" is a safe
    * initial `prev`. The SINGLE definition of the repetition-stat kernel,
    * shared by t14 and t22 so the composite verdict can't drift from the
    * signal operator.
    */
  private def runLengthFold(words: Column): Column =
    aggregate(
      words,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best"), lit(0L).as("nd")),
      (acc, w) => {
        val same = w === acc.getField("prev")
        val run = when(same, acc.getField("run") + 1L).otherwise(lit(1L))
        struct(
          w.as("prev"),
          run.as("run"),
          greatest(acc.getField("best"), run).as("best"),
          (acc.getField("nd") + when(same, 0L).otherwise(1L)).as("nd"))
      })

  /** Marker-argmax language prediction over the `hits_<lang>` columns
    * produced from [[langMarkers]] — first marker in declaration order
    * wins ties, 'und' when nothing matches. The single definition shared
    * by t2 and t22.
    */
  private def langArgmax: Column = {
    val best = langMarkers.map(m => col(s"hits_${m._1}")).reduce(greatest(_, _))
    langMarkers.reverse.foldLeft(lit("und"): Column) { case (acc, (l, _)) =>
      when(col(s"hits_$l") === best && best > 0, lit(l)).otherwise(acc)
    }
  }

  def t14Repetition(spark: SparkSession, dir: String): DataFrame = {
    val words = sortedWords(col("text"))
    val folded = runLengthFold(words)
    Tables(spark, dir).documents
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), size(words).cast("long").as("n_words"), folded.as("f"))
      .select(
        col("doc_id"),
        col("n_words"),
        col("f.nd").as("n_distinct_words"),
        expr("(n_words - f.nd) * 1000000 DIV n_words").as("dup_word_ratio_micro"),
        col("f.best").as("top_word_count"),
        expr("f.best * 1000000 DIV n_words").as("top_share_micro"))
      .withColumn("repetition_flag",
        (col("top_share_micro") >= 100000L || col("dup_word_ratio_micro") >= 600000L).cast("int"))
  }

  /** t22: COMPOSITE CURATION VERDICT — the per-document keep/drop gate a
    * curation pipeline actually materializes, folding the signal tiers
    * into one decision row: structural quality (t3's length/token
    * bounds), repetition (t14's Gopher-rule flags via the same sorted-run
    * fold), and language allowlist (t2's marker argmax). `keep` is the
    * conjunction; `reasons` names every failed check in a fixed order
    * ('quality', 'repetition', 'lang') so downstream triage can group by
    * failure mode — the audit trail a 100 TB filter pass must emit
    * alongside the verdict (silently dropped data is undebuggable).
    *
    * Scale shape: every signal is computed in the SAME shuffle-free
    * projection over one corpus scan — no joins between the signal tiers,
    * no explode (the repetition stats ride the per-row fold, not a
    * doc×word aggregate). This is the composition argument for keeping
    * the signals as column expressions rather than separate jobs.
    */
  def t22CurationVerdict(spark: SparkSession, dir: String): DataFrame =
    curationVerdictCore(Tables(spark, dir).documents)

  /** Core of t22 over any (doc_id, text) frame — every signal is a pure
    * per-row expression, so this same core IS the streaming form
    * ([[graft.streaming.CurationStream.curationVerdictStream]]): the
    * in-flight classify stage of a streaming ingest, with batch/stream
    * parity structural by shared definition.
    */
  def curationVerdictCore(docs: DataFrame): DataFrame =
    withCurationVerdict(docs)
      .select("doc_id", "pred_lang", "n_tokens", "quality_ok",
        "repetition_flag", "lang_ok", "keep", "reasons")

  /** [[curationVerdictCore]] with the named input columns CARRIED
    * through the verdict projection: the pipeline consumer (t27) needs
    * `text` alongside `keep`, and carrying it through the projection is
    * free — the alternative (verdict then re-join the corpus on doc_id
    * to re-attach text) paid a second corpus scan plus a corpus-sized
    * shuffle for what one projection already had in hand (r17). An
    * explicit carry list, not `*`: callers may hold frames whose extra
    * columns collide with the verdict's internal names (n_chars &c).
    */
  private[graft] def withCurationVerdict(
      docs: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val text = col("text")
    val words = sortedWords(text)
    val nonEmpty = length(trim(text)) > 0
    // The fold is projected ONCE as a struct column (t14's pattern), then
    // fields are read from it — never two conditional copies of the
    // per-row sort+fold kernel.
    val base = docs.select(
      (Seq(
        col("doc_id")) ++ carry.map(col) ++ Seq(
        tokenCount(text).cast("long").as("n_tokens"),
        length(text).cast("long").as("n_chars"),
        when(nonEmpty, size(words).cast("long")).otherwise(lit(0L)).as("n_words"),
        when(nonEmpty, runLengthFold(words)).otherwise(lit(null)).as("f"))
        ++ langMarkers.map { case (l, p) => patternHits(text, p).as(s"hits_$l") }): _*)
    base
      .withColumn("top_count", coalesce(col("f.best"), lit(0L)))
      .withColumn("nd", coalesce(col("f.nd"), lit(0L)))
      .withColumn("pred_lang", langArgmax)
      .withColumn("quality_ok",
        (col("n_chars") >= 100 && col("n_chars") <= 20000 && col("n_tokens") >= 20).cast("int"))
      .withColumn("repetition_flag",
        when(col("n_words") === 0, lit(0)).otherwise(
          (expr("top_count * 1000000 DIV n_words") >= 100000L ||
            expr("(n_words - nd) * 1000000 DIV n_words") >= 600000L).cast("int")))
      .withColumn("lang_ok", (col("pred_lang") =!= "und").cast("int"))
      .withColumn("keep",
        (col("quality_ok") === 1 && col("repetition_flag") === 0 && col("lang_ok") === 1).cast("int"))
      .withColumn("reasons", concat_ws(",",
        when(col("quality_ok") === 0, lit("quality")),
        when(col("repetition_flag") === 1, lit("repetition")),
        when(col("lang_ok") === 0, lit("lang"))))
  }

  /** t9: corpus-level word-bigram frequency (top 100) — the n-gram
    * statistics pass of corpus analysis. Per-document bigram lists are
    * built with one array zip (no self-join); the global count is a single
    * hash aggregate with map-side combine, then a bounded top-k with a
    * total deterministic order.
    */
  def t9NgramFreq(spark: SparkSession, dir: String, k: Int = 100): DataFrame = {
    val toks = split(trim(lower(col("text"))), "\\s+")
    Tables(spark, dir).documents
      .filter(length(trim(col("text"))) > 0)
      .select(explode(
        zip_with(
          slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
          slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
          (a, b) => concat_ws(" ", a, b))).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bigram").asc)
      .limit(k)
  }

  /** t15: per-source curation dashboard — doc counts, exact fixed-point
    * mean length, language spread, and exact-duplicate rate within the
    * source. The dup rate is the first thing a crawl operator reads per
    * domain: a source whose docs hash to few distinct digests is a mirror
    * or a template farm. One hash aggregate keyed by source (map-side
    * partial on both count-distincts via Spark's expand), no joins —
    * the cardinality is #sources, so the result always fits wherever the
    * dashboard runs.
    */
  def t15DomainStats(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("source"), col("lang"), col("n_chars"), md5(col("text")).as("h"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        expr("sum(n_chars) * 1000 DIV count(1)").as("mean_chars_milli"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("h")).as("n_unique_texts"))
      .withColumn("dup_ratio_micro",
        expr("(n_docs - n_unique_texts) * 1000000 DIV n_docs"))
      .orderBy("source")

  /** t17: deterministic weighted resampling — the temperature-sampling
    * pass of corpus balancing: each document draws a reproducible uniform
    * from its content hash and survives iff it lands under its source's
    * acceptance rate. Reruns, engines, and cluster sizes all keep the
    * same sample (the md5 draw is the t13 trick, per-document instead of
    * per-rank), so a training mix is exactly reproducible from the
    * recipe. The per-source rate here is itself hash-derived (a
    * deterministic stand-in spanning 200–799‰); a production run
    * broadcast-joins a real weights table — same plan, one shuffle-free
    * projection either way.
    */
  def t17WeightedSample(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"), col("source"),
        expr("CAST(conv(substring(md5(text), 1, 12), 16, 10) AS BIGINT) % 1000")
          .as("u_milli"),
        expr("200 + CAST(conv(substring(md5(source), 1, 8), 16, 10) AS BIGINT) % 600")
          .as("w_milli"))
      .withColumn("kept", (col("u_milli") < col("w_milli")).cast("int"))

  /** t16: deterministic sequence packing — assign every document a
    * position in the GPT-style concat-then-chunk training stream: docs in
    * doc_id order, running token offset, `seq_id` = which fixed-budget
    * context window the doc STARTS in, `seq_offset` = where inside it.
    *
    * The global running sum is the scale trap here: a single
    * `Window.orderBy` would serialize 100 TB through one task. Instead the
    * classic two-level prefix sum: per-range partial sums (one hash agg),
    * a window over the tiny range-level aggregate to get each range's
    * starting offset, broadcast-joined back, then a window PARTITIONED by
    * range for the within-range running sum — every stage is distributed
    * and the only ordered window runs over #ranges rows, not #docs.
    * (At 1e10+ docs the range aggregate is still millions of rows —
    * recurse the same construction once more; the shape is unchanged.)
    */
  def t16SeqPack(
      spark: SparkSession,
      dir: String,
      budget: Long = 2048L,
      rangeSize: Long = 256L): DataFrame = {
    val nTokens = when(length(trim(col("text"))) === 0, lit(0L))
      .otherwise(size(split(trim(col("text")), "\\s+")).cast("long"))
    seqPackCounts(
      Tables(spark, dir).documents.select(col("doc_id"), nTokens.as("n_tokens")),
      budget, rangeSize)
  }

  /** The packing construction over an ARBITRARY per-document token-count
    * relation `(doc_id, n_tokens)` — t16 feeds it whitespace counts,
    * t33 the trained tokenizer's BPE piece counts ([[graft.functions.Bpe]]):
    * the billing statistic is a parameter, the two-level prefix-sum
    * shape is shared.
    */
  def seqPackCounts(
      tokens: DataFrame,
      budget: Long = 2048L,
      rangeSize: Long = 256L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Referenced twice (the per-range offsets build and the final join),
    // and callers feed corpus-derived counts (t16 scans the text, t33
    // the BPE billing chain) — pin so the upstream chain runs once, not
    // once per reference. O(docs) narrow rows (two ids + a count),
    // released with the query.
    val toks = Superstep.pin(tokens
      .select(col("doc_id"), col("n_tokens"),
        expr(s"doc_id DIV $rangeSize").as("range_id")))
    val rangeOffsets = toks.groupBy("range_id")
      .agg(sum(col("n_tokens")).as("range_total"))
      .withColumn("range_start",
        coalesce(
          sum(col("range_total")).over(
            Window.orderBy(col("range_id"))
              .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .drop("range_total")
    val wInRange = Window.partitionBy(col("range_id"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    toks.join(rangeOffsets, Seq("range_id"))
      .withColumn("start",
        col("range_start") + coalesce(sum(col("n_tokens")).over(wInRange), lit(0L)))
      .select(
        col("doc_id"), col("n_tokens"),
        expr(s"start DIV $budget").as("seq_id"),
        expr(s"start % $budget").as("seq_offset"))
  }

  /** t18: API token/cost accounting — the reference's `TokenCostTracker`
    * (leader/bio_processor.py:29-180) re-expressed as a grouped aggregate:
    * per call, actual input tokens are prompt minus cached, the three
    * token classes are priced per-1M in integer micro-dollars (floored
    * per call, exactly as a fixed-point ledger would), and `get_stats`
    * (:154) becomes the per-model/per-day rollup. The tracker's
    * `cost_limit` / `limit_reached` latch (:67-83) becomes a running
    * cumulative cost per model with a flag on every day-row at or past
    * the limit — the batch view of "stop processing when the budget is
    * burned".
    *
    * The call log is derived deterministically from `events` (one event =
    * one call; tokens from the value/props fields) so the oracle
    * reproduces it bit-for-bit. Scale shape: one map-side-combined hash
    * aggregate over the call log; the running-total window runs over the
    * (model, day) rollup — #models × #days rows — never over calls.
    */
  /** Per-call ledger columns of t18, factored out because they are also
    * the map side of the STREAMING budget meter
    * ([[graft.streaming.EventsStream.costMeterStream]]) — one projection,
    * batch and stream price calls identically.
    */
  def costPerCall(events: DataFrame): DataFrame =
    events
      .select(
        concat(lit("gpt-"), col("event_type")).as("model"),
        expr("ts DIV 86400000000000").as("day_idx"),
        expr("CAST(floor(value * 10) AS BIGINT) + 100").as("prompt_tokens"),
        expr("CAST(get_json_object(props, '$.k') AS BIGINT)").as("cached_tokens"),
        expr("CAST(floor(value * 3) AS BIGINT)").as("output_tokens"))
      .withColumn("input_tokens", col("prompt_tokens") - col("cached_tokens"))
      .withColumn("cost_micro",
        expr("(input_tokens * 2500000) DIV 1000000" +
          " + (cached_tokens * 1250000) DIV 1000000" +
          " + (output_tokens * 10000000) DIV 1000000"))

  def t18CostAccounting(
      spark: SparkSession,
      dir: String,
      costLimitMicro: Long = 2000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = costPerCall(Tables(spark, dir).events)
      .groupBy("model", "day_idx")
      .agg(
        count(lit(1)).as("n_calls"),
        sum("input_tokens").as("input_tokens"),
        sum("cached_tokens").as("cached_tokens"),
        sum("output_tokens").as("output_tokens"),
        sum("cost_micro").as("cost_micro"))
    val wRun = Window.partitionBy(col("model")).orderBy(col("day_idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("cum_cost_micro", sum(col("cost_micro")).over(wRun))
      .withColumn("limit_reached", (col("cum_cost_micro") >= costLimitMicro).cast("int"))
      .orderBy("model", "day_idx")
  }

  /** t21: deterministic train/val/test split — the corpus-partitioning
    * step every training run starts with, made reproducible across
    * engines, runs, and cluster sizes by deriving the uniform from
    * md5(text) (the t13/t17 sampling discipline): u ∈ [0,1000) in
    * per-mille, train < 800 ≤ val < 900 ≤ test. Content-keyed (not
    * id-keyed) so byte-identical documents land in the same split even
    * across re-crawls with different ids — the property that keeps
    * dedup-then-split and split-then-dedup consistent. Shuffle-free
    * codegen'd projection; the split is a column, so downstream readers
    * partition-prune on it after a partitioned write.
    */
  def t21HashSplit(spark: SparkSession, dir: String): DataFrame =
    hashSplitCore(Tables(spark, dir).documents)

  /** Core of t21 over any (doc_id, text) frame — the single definition of
    * the split expression, shared by the batch form and the streaming
    * twin ([[graft.streaming.CurationStream.hashSplitStream]]) so the
    * batch/stream parity invariant is structural, not by duplication.
    */
  def hashSplitCore(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        expr("CAST(conv(substring(md5(text), 1, 12), 16, 10) AS BIGINT) % 1000")
          .as("u_milli"))
      .withColumn("split",
        when(col("u_milli") < 800, "train")
          .when(col("u_milli") < 900, "val")
          .otherwise("test"))

  /** t20: TF-IDF top terms per document — the classic keyword/topic
    * signal a curation pipeline hangs filters and clustering on. Scores
    * in fixed-point micro-units (`tf * ((N * 1e6) DIV df)` — the t18/t19
    * integer discipline; a float log-idf would flip last-ulp ranks
    * between engines), top `k` terms per doc with deterministic
    * (score desc, term asc) tie-break.
    *
    * Scale shape: explode → one map-side-combined hash agg on
    * (doc_id, term) for TF; DF is a second tiny agg OVER THE TF TABLE
    * (one row per distinct (doc, term), never the raw corpus again); the
    * score join shuffles on the term key — never all-pairs; and the
    * per-doc top-k window is a `row_number <= k` filter Spark 4 prunes
    * to per-task top-k via WindowGroupLimit (plan-asserted in
    * ScaleSpec), so no doc's full term list is ever sorted in one task
    * beyond its own rows.
    */
  def t20TfidfTerms(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(spark, dir).documents
    // Pre-scaled LONG literal: an `N * 1000000` SQL literal pair would be
    // typed INT×INT and overflow constant folding past ~2147 docs.
    val idfNumMicro = docs.count() * 1000000L
    val tf = docs
      .select(col("doc_id"),
        explode(expr("filter(split(text, ' '), x -> x != '')")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val wTop = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_micro").desc, col("term").asc)
    tf.join(df, Seq("term"))
      .withColumn("score_micro", expr(s"tf * (${idfNumMicro}L DIV df)"))
      .withColumn("rank", row_number().over(wTop).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("score_micro"), col("rank"))
  }

  /** t19: n-gram language-model quality score — the CCNet/Gopher-style
    * perplexity-proxy filter, trained on the corpus itself: word unigram
    * and bigram counts over all documents, then each document scored by
    * its mean add-one-smoothed bigram probability
    * `mean((c(w1,w2)+1)/(c(w1)+V))`, in fixed-point micro-units so the
    * score is a BIGINT and bit-identical across engines (the t18
    * micro-dollar discipline; a float log-perplexity would differ in the
    * last ulp between libm and the JVM and flip a floor). Low scores =
    * improbable word sequences = boilerplate/garble candidates, the same
    * decision the log-domain filter makes (mean-prob and perplexity rank
    * monotonically for the filter's tails).
    *
    * Scale shape: two map-side-combined gram counts and one gram-keyed
    * equijoin of the exploded corpus against them — every stage shuffles
    * on the gram key, never all-pairs, and the per-doc aggregate is the
    * only row-bounded stage. At 100 TB the LM side is capped in
    * production by a frequency cutoff (top-K grams broadcast + an unk
    * bucket for the tail), which changes this join to a broadcast and is
    * a pure extension of this plan; the exact form here is what the
    * cutoff variant is validated against. Documents with fewer than two
    * tokens carry n_bigrams = 0 and a null score.
    *
    * `topKGrams > 0` selects the production 100 TB shape: the LM is
    * still TRAINED on everything (the gram-count shuffles carry only the
    * distinct-gram tables, map-side combined), but only the `topKGrams`
    * most frequent bigrams/unigrams are kept for SCORING — ranked by
    * (count desc, gram asc) so the cap is deterministic — broadcast to
    * the exploded corpus, so the score join never shuffles corpus-
    * proportional rows. Grams past the cutoff score as unseen: bigram
    * c2 → 0, unigram c1 → 0 (p = 1e6/V), exactly the smoothing the full
    * LM applies to a zero count. With `topKGrams` ≥ the distinct-gram
    * count the capped path is bit-identical to the exact one
    * (spec-asserted).
    */
  def t19GramLmScore(
      spark: SparkSession,
      dir: String,
      topKGrams: Int = 0): DataFrame = {
    val docs = Superstep.pin(Tables(spark, dir).documents
      .select(col("doc_id"),
        expr("filter(split(text, ' '), x -> x != '')").as("toks")))
    // Corpus LM: unigram counts (+ vocabulary size for the smoothing
    // denominator) and bigram counts.
    val uniFull = docs.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val vocab = uniFull.count()
    val docBigrams = docs.select(col("doc_id"), explode(expr(
      "transform(slice(toks, 1, size(toks) - 1)," +
        " (w, i) -> struct(w AS w1, toks[i + 1] AS w2))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val bigFull = docBigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val perDoc =
      if (topKGrams <= 0) {
        // Exact form: gram-keyed equijoins; every gram matches its count.
        docBigrams
          .join(bigFull, Seq("w1", "w2"))
          .join(uniFull, col("w1") === col("w"))
          .select(col("doc_id"),
            expr(s"((c2 + 1) * 1000000) DIV (c1 + $vocab)").as("p_micro"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"), sum(col("p_micro")).as("sum_p"))
      } else {
        // Capped form: keep the K most frequent grams (deterministic
        // tie-break on the gram itself), broadcast them (the planner
        // sizes a limit by its row count), and treat
        // everything past the cutoff as count 0 — the same add-one
        // smoothing path a genuinely unseen gram takes, so capping only
        // coarsens tail scores, never changes the formula. The exploded
        // corpus is never shuffled here; the per-doc aggregate is the
        // only corpus-proportional shuffle.
        val uniTop = uniFull
          .orderBy(col("c1").desc, col("w").asc).limit(topKGrams)
        val bigTop = bigFull
          .orderBy(col("c2").desc, col("w1").asc, col("w2").asc).limit(topKGrams)
        docBigrams
          .join(bigTop, Seq("w1", "w2"), "left")
          .join(uniTop, col("w1") === col("w"), "left")
          .select(col("doc_id"),
            expr(s"((coalesce(c2, 0) + 1) * 1000000)" +
              s" DIV (coalesce(c1, 0) + $vocab)").as("p_micro"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"), sum(col("p_micro")).as("sum_p"))
      }
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        expr("sum_p DIV n_bigrams").as("lm_micro"))
  }

  /** t25: CCNet-style quality bucketing — split each language stratum
    * into head/middle/tail by the t19 LM score's per-lang terciles (the
    * published recipe trains on "head", audits "middle", drops "tail").
    * Boundaries come from the q17 exact-quantile discipline: lm_micro is
    * already an integer, so the per-(lang, lm_micro) frequency table is a
    * lossless mergeable rollup and the tercile boundary is an integer
    * cum-count rank ((33n+99) div 100) — no float percentile, identical
    * on every engine. Docs with no bigrams (NULL score) sink to 'tail' on
    * both engines (CASE falls through). One scan for the histogram
    * (state = langs × distinct scores), a broadcast of the per-lang
    * boundary pair, and a projection — nothing sorts the corpus.
    */
  def t25LmBuckets(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The t19 pipeline (gram aggregates + exploded-corpus equijoin) feeds
    // BOTH the histogram branch and the final projection — checkpoint it
    // once (the d14 shared-frame discipline) so it doesn't execute twice.
    val scored = Superstep.pin(Tables(spark, dir).documents.select(col("doc_id"), col("lang"))
      .join(t19GramLmScore(spark, dir).select(col("doc_id"), col("lm_micro")), Seq("doc_id")))
    val hist = scored.filter(col("lm_micro").isNotNull)
      .groupBy("lang", "lm_micro").agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy("lang").orderBy("lm_micro")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy("lang")
    val bounds = hist
      .withColumn("cum", sum("cnt").over(wCum))
      .withColumn("n", sum("cnt").over(wTot))
      .groupBy("lang")
      .agg(
        min(when(col("cum") >= expr("(33 * n + 99) DIV 100"), col("lm_micro"))).as("v33"),
        min(when(col("cum") >= expr("(67 * n + 99) DIV 100"), col("lm_micro"))).as("v67"))
    scored
      .join(bounds, Seq("lang"))
      .select(col("doc_id"), col("lang"), col("lm_micro"),
        when(col("lm_micro") > col("v67"), lit("head"))
          .when(col("lm_micro") > col("v33"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** Mergeable per-term token counts of a (text) frame — the state both
    * the batch drift report and its streaming twin accumulate.
    */
  def termCountsOf(docs: DataFrame): DataFrame =
    docs
      .select(explode(expr("filter(split(text, ' '), x -> x != '')")).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("cnt"))

  /** Closing projection of the drift report over two count tables (the
    * reference crawl vs the live side): full-outer on term (absent = 0),
    * integer cross-product residual, top-k. This is what the STREAMING
    * monitor runs per micro-batch over its accumulated counts — counts
    * are the mergeable state, drift is a cheap projection (the q17
    * rollup discipline in-flight). Spec-pinned identical to
    * [[t24DriftTerms]]'s one-scan conditional-sum form.
    */
  def driftFromCounts(ref: DataFrame, live: DataFrame, k: Int = 20): DataFrame = {
    // Checkpoint the joined counts: the totals row and the report both
    // read them, and without pinning the full-outer join runs twice.
    val joined = Superstep.pin(ref.select(col("term"), col("cnt").as("cnt_a"))
      .join(live.select(col("term"), col("cnt").as("cnt_b")), Seq("term"), "full_outer")
      .select(col("term"),
        coalesce(col("cnt_a"), lit(0L)).as("cnt_a"),
        coalesce(col("cnt_b"), lit(0L)).as("cnt_b")))
    val totals = joined.agg(sum("cnt_a").as("tot_a"), sum("cnt_b").as("tot_b"))
    joined
      .crossJoin(totals)
      .withColumn("drift", col("cnt_a") * col("tot_b") - col("cnt_b") * col("tot_a"))
      .orderBy(abs(col("drift")).desc, col("term").asc)
      .limit(k)
      .select(col("term"), col("cnt_a"), col("cnt_b"), col("drift"))
      .orderBy(abs(col("drift")).desc, col("term").asc)
  }

  /** t24: distribution drift between two corpus slices — the
    * crawl-over-crawl monitoring report a pipeline runs before letting a
    * new batch into the training mix. Slice A = the first crawl batch
    * (single-digit sources, src0–src9), B = the second; per term the
    * drift statistic is the cross-product residual
    *
    *   drift = cnt_a·tot_b − cnt_b·tot_a
    *
    * i.e. the (scaled) difference of relative frequencies
    * tot_a·tot_b·(p_a − p_b) — PURE INTEGER math, so the report is exact
    * and engine-reproducible (no log/entropy float whose low bits could
    * flap an ordering); |drift| ranks terms by how much their share
    * moved, sign says which slice gained. Long arithmetic holds to ~3·10⁹
    * tokens per slice; past that the counts pass through a per-million
    * integer rescale (or a df-cutoff vocabulary first — the t19/t20
    * discipline) before the cross product.
    *
    * Scale shape: one map-side-combined (term) aggregate with conditional
    * sums (one scan, no join between slices), one broadcast of the 1-row
    * totals, and a global top-k (TakeOrdered — never a full sort).
    * Reference behavior: the per-batch tally comparison in
    * bio_processor.py:29-180, generalized to term distributions.
    */
  def t24DriftTerms(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val docs = Tables(spark, dir).documents
    val counts = docs
      .select((length(col("source")) === 4).as("is_a"),
        explode(expr("filter(split(text, ' '), x -> x != '')")).as("term"))
      .groupBy("term")
      .agg(
        sum(when(col("is_a"), 1L).otherwise(0L)).as("cnt_a"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("cnt_b"))
    val totals = counts.agg(
      sum("cnt_a").as("tot_a"), sum("cnt_b").as("tot_b"))
    counts
      .crossJoin(totals)
      .withColumn("drift", col("cnt_a") * col("tot_b") - col("cnt_b") * col("tot_a"))
      .orderBy(abs(col("drift")).desc, col("term").asc)
      .limit(k)
      .select(col("term"), col("cnt_a"), col("cnt_b"), col("drift"))
      .orderBy(abs(col("drift")).desc, col("term").asc)
  }

  /** t26: training-MIX PLAN — deterministic water-filling allocation of a
    * token budget across sources: each source s gets its weighted share
    * of the budget unless it has fewer tokens than that share, in which
    * case it contributes everything and its shortfall redistributes to
    * the others (the step every "sample source X at temperature-weighted
    * rate" recipe performs before t17's acceptance sampling can run).
    * The sequential redistribution has a CLOSED FORM: sort sources by
    * tokens-per-weight, a source is capped iff its availability is below
    * its share of what remains at its sorted position — a prefix
    * property, so prefix sums + one max(rank) scalar decide the water
    * level and every take is pure integer arithmetic
    * (`(B − A_K)·w DIV (W − W_K)` — cross-multiplied comparisons, no
    * float in any VALUE; the sort key ratio is an IEEE double both
    * engines compute identically). Output take ≤ avail per source and
    * Σtake ≤ B exactly.
    *
    * Scale shape: availability is one map-side-combined aggregate over
    * the corpus; everything after runs on |sources| rows (the mix table
    * — bounded by construction), so the unpartitioned windows are
    * windows over a dimension table, never the corpus. Budget here =
    * 9/10 of corpus tokens, weights length-derived — both deterministic
    * so the driver gate exercises capped AND uncapped branches (10/10
    * split at sf0.01).
    */
  def t26MixPlan(spark: SparkSession, dir: String): DataFrame =
    waterFill(Tables(spark, dir).documents
      .groupBy(col("source"))
      .agg(
        sum(size(split(col("text"), " "))).cast("long").as("a"),
        first(length(col("source")) % 3 + 1).cast("long").as("w")))

  /** The water-filling allocation over an ARBITRARY availability table
    * `(source, a, w)` — t26 feeds whitespace-token availability, t34 the
    * trained tokenizer's BPE counts: the closed-form prefix construction
    * is billing-statistic-agnostic. Budget = 9/10 of Σa, as t26.
    */
  def waterFill(avail0: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The construction references the availability table FOUR times
    // (totals, level search, level row, final projection) — and callers
    // feed it a corpus-sized aggregate (t26 scans every document's text,
    // t34 the whole BPE billing chain), so without a pin the corpus paid
    // that aggregate four times per query (measured at sf0.1, r16: t26
    // solo 1.84 s → 1.09 s from this one line). The pinned relation is
    // |sources| rows — the d14/t25 shared-frame discipline, released
    // with the query.
    val avail = Superstep.pin(avail0)
    val tot = avail.agg(
      sum(col("a")).as("ta"), sum(col("w")).as("tw"),
      expr("sum(a) * 9 DIV 10").as("b"))
    val wOrd = Window.orderBy((col("a").cast("double") / col("w")).asc, col("source").asc)
    val s = avail
      .withColumn("ap", sum(col("a")).over(wOrd))
      .withColumn("wp", sum(col("w")).over(wOrd))
      .withColumn("rk", row_number().over(wOrd))
      .crossJoin(tot)
    val kk = s.filter(col("a") * (col("tw") - col("wp") + col("w")) <=
        (col("b") - col("ap") + col("a")) * col("w"))
      .agg(coalesce(max(col("rk")), lit(0)).as("k"))
    val fin = s.crossJoin(kk).filter(col("rk") === col("k"))
      .agg(coalesce(max(col("ap")), lit(0L)).as("ak"),
        coalesce(max(col("wp")), lit(0L)).as("wk"))
    s.crossJoin(kk).crossJoin(fin)
      .select(
        col("source"),
        col("a").as("avail_tokens"),
        col("w").as("weight"),
        when(col("rk") <= col("k"), col("a"))
          .otherwise(expr("(b - ak) * w DIV (tw - wk)")).as("take_tokens"),
        when(col("rk") <= col("k"), 1L).otherwise(0L).as("capped"))
      .orderBy("source")
  }
}
