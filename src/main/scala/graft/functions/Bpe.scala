package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Superstep, Tables}

/** Distributed BPE VOCABULARY TRAINING (Sennrich, Haddow & Birch 2016,
  * "Neural Machine Translation of Rare Words with Subword Units") — the
  * step a training-data pipeline runs BEFORE t11 can count tokens: learn
  * the merge table itself from the corpus. t11 applies a fixed
  * GPT-2-shape pre-tokenizer; this operator produces the ranked merge
  * list a real tokenizer is built from.
  *
  * Classic BPE is an inherently sequential loop (count pairs → merge the
  * best → repeat), which is exactly the suite's fixed-round
  * deterministic-iteration discipline applied to text:
  *
  *   - training runs over the WORD-FREQUENCY table, not the corpus: one
  *     corpus-sized aggregate up front (tokenize → count → top-V), then
  *     every round touches only O(vocab · word-len) rows — the classic
  *     BPE trick that makes the loop cheap at any corpus size;
  *   - each round is ONE pair-count aggregate (adjacent symbols via a
  *     per-word lead window, weighted by word frequency, overlapping
  *     occurrences counted — Sennrich's original counting), a
  *     DETERMINISTIC best-pair pick (count desc, then lexicographic
  *     pair asc — no hash-order tie-break to flap across engines), and
  *     the merge applied as a RELATIONAL projection;
  *   - greedy left-to-right non-overlap (the "aaa" + (a,a) case merges
  *     positions 1-2, not 2-3) is expressed with the islands idiom:
  *     consecutive matching positions form runs, and the odd-ranked
  *     members of each run are chosen — sequential semantics, window
  *     algebra, identical in Spark and the generated DuckDB oracle;
  *   - the per-round best pair is a DRIVER SCALAR (one tiny sorted
  *     head over the pair-count relation — the probe-scalar class the
  *     suite already audits as bounded): rounds are few by definition
  *     (a merge table is thousands of rounds at most), the per-round
  *     relation is vocab-sized, and the output is O(rounds) rows.
  *
  * Scale shape: the ONLY corpus-sized work is the vocabulary aggregate;
  * rounds shuffle an O(vocab · len) relation on word id with per-word
  * windows (words are short — no skew), checkpointed per round.
  * Refresh on corpus growth is O(delta) through the same incremental
  * posture as q19/g15: re-aggregate the delta's word counts and rerun
  * the cheap rounds.
  */
object Bpe {

  /** Character-level initial symbol sequences of the vocabulary
    * `(word, freq)`: one row per (word, pos, sym). Positions come from
    * an exploded 1..len sequence so the shape is re-derivable in SQL.
    */
  private def charSeq(vocab: DataFrame): DataFrame =
    vocab.select(col("word"), col("freq"),
      explode(sequence(lit(1), length(col("word")))).as("pos"))
      .select(col("word"), col("freq"), col("pos"),
        col("word").substr(col("pos"), lit(1)).as("sym"))

  /** `rounds` BPE merge rounds over the `(word, freq)` vocabulary.
    * Returns the learned merge table `(round, lhs, rhs, pair_cnt)` —
    * one row per round, ranked; stops early if the vocabulary is fully
    * merged (no adjacent pair left).
    */
  def trainMerges(vocab: DataFrame, rounds: Int): DataFrame = {
    val spark = vocab.sparkSession
    import spark.implicits._
    val byWord = Window.partitionBy("word").orderBy("pos")
    var seq = Superstep.pin(charSeq(vocab))
    val merges = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
    var round = 1
    var continue = true
    while (continue && round <= rounds) {
      val best = seq
        .select(col("word"), col("freq"), col("sym").as("l"),
          lead(col("sym"), 1).over(byWord).as("r"))
        .filter(col("r").isNotNull)
        .groupBy("l", "r").agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .head(1)
      if (best.isEmpty) continue = false
      else {
        val (l, r, cnt) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((round, l, r, cnt))
        val next = Superstep.pin(mergePass(seq, l, r))
        Superstep.release(seq)
        seq = next
        round += 1
      }
    }
    Superstep.release(seq)
    merges.toSeq.toDF("round", "lhs", "rhs", "pair_cnt")
  }

  /** ONE greedy left-to-right merge pass of the pair `(l, r)` over a
    * per-word symbol table `(word, pos, sym, <carried columns>)`: mark
    * matches, group CONSECUTIVE match positions into islands (overlap
    * only happens on l == r runs), choose odd-ranked members, replace
    * the chosen symbol with l||r, drop the consumed successor, renumber.
    * Shared verbatim by training ([[trainMerges]], which carries `freq`)
    * and encoding ([[encodeWords]], which doesn't) — the t31/t32
    * agreement is structural. All three windows cluster on `word`, so
    * the pass is ONE exchange (hash on word satisfies every clustering)
    * plus local sorts.
    */
  private def mergePass(seq: DataFrame, l: String, r: String): DataFrame = {
    val byWord = Window.partitionBy("word").orderBy("pos")
    val carried = seq.columns.filterNot(c => c == "pos" || c == "sym").map(col(_))
    val m = seq.withColumn("mt",
      (col("sym") === l && lead(col("sym"), 1).over(byWord) === r).cast("int"))
    val isl = m.withColumn("island",
      when(col("mt") === 1,
        col("pos") - row_number().over(
          Window.partitionBy("word", "mt").orderBy("pos"))))
    val sel = isl.withColumn("chosen",
      (col("mt") === 1 &&
        row_number().over(
          Window.partitionBy("word", "island").orderBy("pos")) % 2 === 1).cast("int"))
    sel
      .withColumn("consumed",
        coalesce(lag(col("chosen"), 1).over(byWord), lit(0)))
      .filter(col("consumed") === 0)
      .select(carried ++ Seq(
        row_number().over(byWord).as("pos"),
        when(col("chosen") === 1, concat(col("sym"), lit(r)))
          .otherwise(col("sym")).as("sym")): _*)
  }

  /** ENCODE a distinct-word table `(word)` with a learned, rank-ordered
    * merge list: one [[mergePass]] per merge (rounds over the MERGE
    * LIST, never the corpus), returning `(word, n_pieces)` — the
    * trained tokenizer's piece count per word. Merges apply in training
    * rank order; a merge's constituent symbols exist only from its own
    * training round on, so earlier merges never become applicable again
    * after later ones — one greedy pass per rank IS the per-word
    * fixpoint (same greedy-L2R semantics the trainer counted with).
    *
    * Every pass is pinned. The r16 A/B measured fusing passes between
    * pins (one plan over several passes) as a small net loss on the
    * 6-merge gate at sf0.1 (t32 4.53 → 4.48–5.76 s with a pin every 8
    * passes: the per-pass pins are parallel micro-jobs over a
    * words-sized relation, while the fused plan pays Catalyst
    * optimization and codegen of an 18-window stack per consuming action).
    *
    * Scale shape: the input is the DISTINCT word table (language-sized,
    * not corpus-sized); each pass shuffles O(words · len) rows on
    * `word`. Corpus-sized work never enters the loop — the caller joins
    * the per-word piece counts back onto per-document word counts, and
    * the planner sizes that join from the last pass's pin.
    */
  def encodeWords(words: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val init = Superstep.pin(words.select(col("word"),
      explode(sequence(lit(1), length(col("word")))).as("pos"))
      .select(col("word"), col("pos"),
        col("word").substr(col("pos"), lit(1)).as("sym")))
    val ms = merges.toIndexedSeq
    // The final state is the last pass's pin, so consumers that read the
    // piece table more than once (t33's two-level prefix sum, t34's
    // water-fill) never re-run a pass.
    val (pieces, _) = Superstep.iterate(init, 1 to ms.size) {
      (seq, r) => mergePass(seq, ms(r - 1)._1, ms(r - 1)._2)
    }
    if (ms.nonEmpty) Superstep.release(init)
    pieces.groupBy("word").agg(count(lit(1)).as("n_pieces"))
  }

  /** The corpus vocabulary: lowercase alpha tokens of 2..12 chars,
    * counted, top `topV` by (count desc, word asc) — the one
    * corpus-sized pass of the trainer, deterministic end to end.
    */
  def vocabulary(docs: DataFrame, topV: Int): DataFrame =
    docs.select(explode(expr(
      "regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
      .filter(length(col("word")).between(2, 12))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word").asc)
      .limit(topV)

  /** t31: BPE merge-table training on the gate — 6 rounds over the
    * documents corpus's top-500 word vocabulary; the oracle re-derives
    * every round (pair counts, deterministic pick, islands merge) as
    * generated CTEs.
    */
  def t31BpeTrain(
      spark: SparkSession, dir: String,
      rounds: Int = 6, topV: Int = 500): DataFrame =
    trainMerges(vocabulary(Tables(spark, dir).documents, topV), rounds)

  /** t32: BPE ENCODE with the learned merge table — the consumer t31
    * trains for, and the number the reference's cost ledger actually
    * bills by (leader/bio_processor.py:29-180 accounts tokens, not
    * words): per document, how many pieces the TRAINED tokenizer
    * produces over its word class (lowercase alpha runs of 2–12 chars,
    * the trainer's domain). t11's fixed-regex counts are pre-tokenizer
    * counts; these are the trained tokenizer's, the statistic t16
    * packing and t26 mix planning should bill by.
    *
    * Shape: train (t31, vocab-sized rounds) → collect the O(rounds)
    * merge table (bounded probe-scalar class) → encode the DISTINCT
    * word table ([[encodeWords]], language-sized) → join the per-word
    * piece counts onto the per-document word counts. The only
    * corpus-sized work is the word-count aggregate; documents with no
    * in-class word report zeros rather than vanishing.
    *
    * "Language-sized" is an assumption a web corpus violates (typo'd
    * alpha runs make the distinct-word table corpus-shaped in the
    * tail), so the piece-count join is not blind-broadcast: the
    * planner sizes the piece counts from the encoder's last pin (its
    * measured row count, [[graft.Superstep]]) and broadcasts them only
    * when they fit the session's `autoBroadcastJoinThreshold`, else a
    * plain equijoin on `word` (no driver-side table at any size). The
    * route never changes values — spec-forced both ways.
    */
  def t32BpeEncode(
      spark: SparkSession, dir: String,
      rounds: Int = 6, topV: Int = 500): DataFrame = {
    val docs = Tables(spark, dir).documents
    val perDoc = encodedDocWords(spark, dir, rounds, topV)
      .groupBy("doc_id")
      .agg(sum(col("occ")).as("n_words"),
        sum(col("occ") * col("n_pieces")).as("n_bpe_tokens"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"))
  }

  /** Shared t32/t35 substrate: per-(doc, word) occurrence counts with
    * the trained tokenizer's piece count attached —
    * `(doc_id, word, occ, n_pieces)`. Train (vocab-sized rounds) →
    * collect the O(rounds) merge table (bounded probe-scalar class) →
    * encode the DISTINCT word table → join back onto the per-document
    * word counts, sized by the planner from the encoder's last pin
    * (broadcast when it fits the session's `autoBroadcastJoinThreshold`,
    * else a plain equijoin on `word`).
    */
  private def encodedDocWords(
      spark: SparkSession, dir: String, rounds: Int, topV: Int): DataFrame = {
    val docs = Tables(spark, dir).documents
    // ONE corpus regex pass (r16): the trainer's vocabulary, the
    // encoder's distinct-word input AND the final per-doc join all fold
    // from this per-(doc, word) count table — previously each derived it
    // from `docs` independently and the corpus paid the
    // regexp_extract_all scan three times per key. Pinning stores
    // O(Σ distinct words per doc) narrow rows (ids + a short word),
    // orders of magnitude under the text it replaces re-scanning; it is
    // released with the query (releaseCaches), never cross-run state.
    val docWords = Superstep.pin(docs.select(col("doc_id"),
      explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
      .filter(length(col("word")).between(2, 12))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("occ")))
    // == vocabulary(docs, topV): total occurrences = Σ per-doc counts.
    val vocab = docWords.groupBy("word").agg(sum("occ").as("freq"))
      .orderBy(col("freq").desc, col("word").asc).limit(topV)
    val merges = trainMerges(vocab, rounds)
      .collect().sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2))).toSeq
    docWords.join(encodeWords(Superstep.pin(docWords.select("word").distinct()), merges), Seq("word"))
  }

  /** t35: TOKENIZER EVALUATION per (lang, source) slice — fertility
    * (trained pieces per word, micro fixed-point) and compression
    * (word-class chars per piece): the statistics a real pipeline reads
    * BEFORE committing to a vocabulary (a high-fertility language is
    * under-served by the merge table and over-billed by every
    * token-budgeted stage downstream — t18's ledger, t33's packing,
    * t34's mix plan all inherit it). Closes the tokenizer loop:
    * train (t31) → encode (t32) → bill (t33/t34) → EVALUATE.
    *
    * Shape: rides [[encodedDocWords]] (the one corpus-sized aggregate +
    * the language-sized encode), folds per-doc word/char/piece sums,
    * then a |lang × source|-row final aggregate — output is
    * dimension-sized, never corpus-sized. All-integer micro ratios
    * (the suite's cross-engine fixed-point discipline); zero-word
    * slices report zero ratios rather than dividing by zero.
    */
  def t35TokenizerFertility(
      spark: SparkSession, dir: String,
      rounds: Int = 6, topV: Int = 500): DataFrame = {
    val docs = Tables(spark, dir).documents
    val perDoc = encodedDocWords(spark, dir, rounds, topV)
      .groupBy("doc_id")
      .agg(sum(col("occ")).as("dw"),
        sum(col("occ") * length(col("word"))).as("dc"),
        sum(col("occ") * col("n_pieces")).as("dt"))
    docs.select(col("doc_id"), col("lang"), col("source"))
      .join(perDoc, Seq("doc_id"), "left")
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum("dw"), lit(0L)).as("n_words"),
        coalesce(sum("dc"), lit(0L)).as("n_word_chars"),
        coalesce(sum("dt"), lit(0L)).as("n_bpe_tokens"))
      .withColumn("fertility_micro",
        when(col("n_words") > 0, expr("n_bpe_tokens * 1000000 DIV n_words"))
          .otherwise(lit(0L)))
      .withColumn("chars_per_token_micro",
        when(col("n_bpe_tokens") > 0, expr("n_word_chars * 1000000 DIV n_bpe_tokens"))
          .otherwise(lit(0L)))
  }

  /** t33: t16's sequence packing billed by the TRAINED tokenizer —
    * the loop t32 closes, closed one step further: the packing offsets
    * every GPT-style pipeline schedules by are piece counts from the
    * learned merge table, not the pre-tokenizer whitespace counts
    * (t16's stand-in). Same two-level prefix-sum construction
    * ([[TextFuncs.seqPackCounts]]); only the billing column changes, so
    * the scale shape is t16's plus t32's — the corpus-sized work stays
    * one word-count aggregate.
    */
  def t33PackBpe(
      spark: SparkSession, dir: String,
      budget: Long = 2048L, rangeSize: Long = 256L): DataFrame =
    TextFuncs.seqPackCounts(
      t32BpeEncode(spark, dir)
        .select(col("doc_id"), col("n_bpe_tokens").as("n_tokens")),
      budget, rangeSize)
      .withColumnRenamed("n_tokens", "n_bpe_tokens")

  /** t34: t26's mix planning billed by the TRAINED tokenizer — source
    * availability is the sum of trained-BPE piece counts
    * (the reference's ledger bills real tokenizer tokens,
    * leader/bio_processor.py:29-180), water-filled by the same
    * closed-form integer construction ([[TextFuncs.waterFill]]).
    */
  def t34MixBpe(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val avail = docs.select(col("doc_id"), col("source"))
      .join(t32BpeEncode(spark, dir), Seq("doc_id"))
      .groupBy("source")
      .agg(
        sum(col("n_bpe_tokens")).as("a"),
        first(length(col("source")) % 3 + 1).cast("long").as("w"))
    TextFuncs.waterFill(avail)
  }
}
