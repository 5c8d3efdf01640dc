package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Typed per-payload feature row produced by the decode seam. */
final case class MediaFeature(doc_id: Long, n_bytes: Long, mean_byte: Double, std_byte: Double)

/** Typed decode result of the REAL codec path ([[Media.decodePpmImages]]):
  * `ok=false` rows carry the failure reason and null-ish zeros — a corrupt
  * payload must yield a verdict row, never a task failure.
  */
final case class DecodedImage(
    doc_id: Long, ok: Boolean, reason: String,
    width: Int, height: Int,
    mean_r_milli: Long, mean_g_milli: Long, mean_b_milli: Long)

/** One average-pooled output image from [[Media.ppmAveragePool]]: real 2-D
  * resize semantics (each output pixel = integer mean of its `factor`²
  * input block, partial edge blocks averaged over their actual size).
  */
final case class PooledImage(
    doc_id: Long, ok: Boolean,
    width: Int, height: Int, out_width: Int, out_height: Int,
    pixels: Array[Byte])

/** Multimodal-column plumbing: image/audio/video payloads as opaque binary
  * columns with typed metadata.
  *
  * No codecs exist in this container (or on a stock Spark executor), so the
  * DECODE step is a deterministic stub: payloads are synthesized from the
  * documents corpus (real container magic bytes + the UTF-8 text as body).
  * Everything around the stub — binary schema, magic-byte sniffing, chunked
  * frame sampling, per-frame hashing, partitioning — is the real 100 TB
  * plumbing: codegen'd binary expressions, no shuffle before the scan-side
  * projection, and an explode whose fan-out is bounded by payload size /
  * stride. Reference analog: image-URL validation + media bookkeeping
  * (leader/update_leader_img_url.py:25-66).
  */
object Media {

  /** Deterministic payload synthesis (the stand-in for reading a real media
    * blob column): container magic chosen by doc_id mod 3, body = UTF-8
    * text bytes.
    */
  def payload(docId: Column, text: Column): Column = {
    val magic = when(pmod(docId, lit(3)) === 0, unhex(lit("89504E470D0A1A0A"))) // PNG
      .when(pmod(docId, lit(3)) === 1, unhex(lit("FFD8FFE0")))                  // JPEG
      .otherwise(unhex(lit("52494646")))                                        // RIFF/WAV
    concat(magic, encode(text, "UTF-8"))
  }

  /** Magic-byte type sniff over the hex view of the payload (DuckDB has no
    * blob substring/md5, so all portable derivations run on hex strings —
    * both engines emit uppercase hex).
    */
  def sniffType(hexPayload: Column): Column =
    when(hexPayload.startsWith("89504E47"), "image/png")
      .when(hexPayload.startsWith("FFD8FF"), "image/jpeg")
      .when(hexPayload.startsWith("52494646"), "audio/wav")
      .otherwise("application/octet-stream")

  /** m1: payload + typed metadata — size, sniffed media type, content
    * hash. One shuffle-free projection per 100 TB scan.
    */
  def m1MediaMeta(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"), payload(col("doc_id"), col("text")).as("payload"))
      .select(
        col("doc_id"),
        length(col("payload")).cast("long").as("n_bytes"),
        sniffType(hex(col("payload"))).as("media_type"),
        md5(hex(col("payload"))).as("content_hash"))

  /** m2: deterministic frame sampling — a 64-byte "frame" every 256 bytes
    * (the stub for decode-and-sample-frames). Offsets are computed, then
    * posexplode fans out one row per sampled frame; fan-out is n_bytes/256
    * so the stage scales linearly with payload volume. The per-frame
    * "feature" is the md5 of the frame's hex view (the seam where a real
    * feature extractor would run via mapInPandas on a cluster with codecs).
    */
  def m2FrameSample(
      spark: SparkSession,
      dir: String,
      frameBytes: Int = 64,
      strideBytes: Int = 256): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"), hex(payload(col("doc_id"), col("text"))).as("hx"))
      .select(
        col("doc_id"), col("hx"),
        (length(col("hx")) / 2).cast("long").as("n_bytes"))
      .select(
        col("doc_id"), col("hx"),
        posexplode(sequence(lit(0L), greatest(col("n_bytes") - frameBytes, lit(0L)), lit(strideBytes.toLong))))
      .select(
        col("doc_id"),
        col("pos").cast("long").as("frame_no"),
        col("col").as("frame_offset"),
        md5(col("hx").substr((col("col") * 2 + 1).cast("int"), lit(frameBytes * 2))).as("frame_hash"))

  /** m3: REAL RESIZE on the gate — the P6 payload corpus (the m11
    * synthesis, corruption classes included) decoded and average-pooled
    * 2× through [[ppmAveragePool]]'s genuine 2-D box filter (each output
    * pixel = integer mean of its 2×2 input block), re-encoded, and
    * reported as the metadata row a thumbnailing pass records (dims in
    * and out, output bytes, output hash). Corrupt payloads come back
    * `ok = 0` with zeroed dims and the empty-output hash — classified,
    * never crashed (the m11 verdict discipline). One partition-granular
    * mapPartitions pass, no shuffle; the oracle re-derives every pooled
    * byte from the doc_id raster arithmetic and must hash-match the
    * kernel bit for bit.
    */
  def m3Resize(spark: SparkSession, dir: String, factor: Int = 2): DataFrame =
    ppmAveragePool(
      Tables(spark, dir).documents
        .select(col("doc_id"), ppmPayload.as("payload")), factor)
      .select(
        col("doc_id"),
        when(col("ok"), 1L).otherwise(0L).as("ok"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("out_width").cast("long").as("out_width"),
        col("out_height").cast("long").as("out_height"),
        length(col("pixels")).cast("long").as("resized_bytes"),
        md5(hex(col("pixels"))).as("resized_hash"))

  /** m4: byte-level FEATURE EXTRACTION — the feature-extract stage of the
    * multimodal pipeline as a driver-keyed operator. The native
    * [[org.apache.spark.sql.graft.ByteStats]] expression computes
    * (size, byte sum, distinct bytes, high bytes) in one fused codegen'd
    * pass over the binary payload — no hex round-trip, no per-byte
    * boxing; derived features are exact integer fixed-point so the
    * oracle (which must parse the hex view byte-by-byte — DuckDB has no
    * blob iteration) hash-matches unconditionally. A codec-backed
    * extractor (CNN features, spectrograms) slots into the same
    * scan-side position; [[extractFeatures]] is its typed
    * `mapPartitions` seam.
    */
  def m4ByteStats(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"),
        org.apache.spark.sql.graft.VectorExpressions
          .byteStats(payload(col("doc_id"), col("text"))).as("s"))
      .select(
        col("doc_id"),
        col("s.n_bytes").as("n_bytes"),
        expr("s.sum_bytes * 1000 DIV s.n_bytes").as("mean_byte_milli"),
        col("s.n_distinct").cast("long").as("n_distinct_bytes"),
        expr("s.n_high * 1000000 DIV s.n_bytes").as("high_byte_ratio_micro"))

  /** m5: perceptual fingerprint — 60-bit blockwise average hash over the
    * payload via the native one-pass
    * [[org.apache.spark.sql.graft.BlockAvgHash60]] expression, split into
    * 4×15-bit LSH bands like the text-side d4. This is the multimodal
    * analog of SimHash: re-encodings of the same content (different
    * container, appended metadata) keep most block-mean signs, so they
    * land within small Hamming distance, while the fingerprint is one
    * shuffle-free codegen'd projection — the 100 TB pre-pass shape. A
    * codec-backed pHash (DCT over decoded pixels) slots into the same
    * kernel position.
    */
  def m5Phash(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"),
        org.apache.spark.sql.graft.VectorExpressions
          .blockAvgHash60(payload(col("doc_id"), col("text"))).as("phash"))
      .select(
        col("doc_id"), col("phash"),
        shiftright(col("phash"), 0).bitwiseAND(lit(32767L)).as("band0"),
        shiftright(col("phash"), 15).bitwiseAND(lit(32767L)).as("band1"),
        shiftright(col("phash"), 30).bitwiseAND(lit(32767L)).as("band2"),
        shiftright(col("phash"), 45).bitwiseAND(lit(32767L)).as("band3"))

  /** m6: media near-dup PAIRS from m5's fingerprints — banded equijoin
    * (pigeonhole: recall 1.0 at hamming ≤ 3 with 4 bands; pairs at
    * hamming 4–15 surface only when a band happens to collide — add
    * bands or multi-probe if exhaustive ≤15 recall is needed) then exact
    * `bit_count(xor)` verification, the same never-all-pairs scale shape
    * as the text-side d9. Candidate volume is governed by band
    * cardinality; perceptual bands are less uniform than SimHash's (block
    * means of similar media correlate), so bands at or above
    * `blockThreshold` automatically route through the salted blocked
    * formulation (same knob as g1/d9 — see
    * [[graft.dedup.Dedup.bandedHammingPairs]]).
    */
  def m6PhashPairs(
      spark: SparkSession,
      dir: String,
      maxHamming: Int = 15,
      blockThreshold: Int = 100000,
      nBlocks: Int = 0): DataFrame = {
    val nPart = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val fp = Tables(spark, dir).documents
      .repartition(nPart)
      .select(col("doc_id"),
        org.apache.spark.sql.graft.VectorExpressions
          .blockAvgHash60(payload(col("doc_id"), col("text"))).as("phash"))
    // Shared pairing stage with d9 — incl. the size-triggered salted
    // routing for oversized perceptual bands (the skew knob the previous
    // revision only documented).
    graft.dedup.Dedup.bandedHammingPairs(fp, "phash", maxHamming, blockThreshold, nBlocks)
  }

  /** m7: media dedup RESOLUTION — d6's detect→cluster→resolve applied to
    * the perceptual tier: m6's verified near-dup pairs go through d6's
    * resolve tail ([[graft.dedup.Dedup.resolveKeepMin]]), so re-encoding
    * chains A~B~C where A and C share no band still cluster, and each
    * cluster keeps its minimum doc_id as canonical. The output is the
    * same per-item verdict table d6 emits for text — the filter list a
    * multimodal corpus build consumes.
    */
  def m7MediaResolve(spark: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.resolveKeepMin(Tables(spark, dir).documents, m6PhashPairs(spark, dir))

  /** m8: CROSS-MODAL (media, caption) dedup resolution — the joint-key
    * operator a multimodal corpus build needs: an (image, caption) record
    * is a duplicate of another only when BOTH modalities agree — the
    * media payloads are perceptually close (m5 phash, hamming ≤
    * `maxMediaHamming`) AND the captions are textually close (d4 SimHash,
    * hamming ≤ `maxTextHamming`). Either modality alone is insufficient:
    * generic captions ("a photo") must not merge unrelated images, and
    * re-captioned images must not merge distinct records.
    *
    * Scale shape: candidates come from the UNION of the two banded tiers
    * — each already a band equijoin with the salted skew escape (m6's
    * perceptual bands ∪ d9's SimHash bands), never all-pairs — then one
    * equijoin back to the two fingerprint tables (8 bytes per doc per
    * tier) verifies BOTH hamming predicates. Verified pairs go through
    * d6's resolve tail ([[graft.dedup.Dedup.resolveKeepMin]]); each
    * cluster keeps its minimum doc_id. Output is the same per-record
    * verdict table as d6/m7 — the filter list the corpus build consumes.
    *
    * Band recall follows the tier bounds (exhaustive at hamming ≤ 3 per
    * modality; 4–15 surfaces on band collision): a pair is GUARANTEED
    * found when either modality is within hamming 3, and is then kept
    * only if both verify.
    */
  def m8CrossModalResolve(
      spark: SparkSession,
      dir: String,
      maxMediaHamming: Int = 15,
      maxTextHamming: Int = 15): DataFrame = {
    val docs = Tables(spark, dir).documents
    val mediaFp = docs.select(col("doc_id"),
      org.apache.spark.sql.graft.VectorExpressions
        .blockAvgHash60(payload(col("doc_id"), col("text"))).as("mfp"))
    val textFp = docs.filter(length(col("text")) >= 5)
      .select(col("doc_id"),
        org.apache.spark.sql.graft.VectorExpressions.simhash60(col("text")).as("tfp"))
    // Each band tier arrives ALREADY verified on its own modality
    // (bandedHammingPairs filters its hamming), so each branch joins and
    // checks only the OPPOSITE modality's fingerprint — no redundant
    // re-verification, and each kernel runs over the corpus once per
    // consumer instead of once more for a four-way join.
    val mediaPairs = m6PhashPairs(spark, dir, maxMediaHamming)
      .select("doc_id1", "doc_id2")
      .join(textFp.select(col("doc_id").as("doc_id1"), col("tfp").as("tfp1")), Seq("doc_id1"))
      .join(textFp.select(col("doc_id").as("doc_id2"), col("tfp").as("tfp2")), Seq("doc_id2"))
      .filter(bit_count(col("tfp1").bitwiseXOR(col("tfp2"))) <= maxTextHamming)
      .select("doc_id1", "doc_id2")
    val textPairs = graft.dedup.Dedup.d9SimhashPairs(spark, dir, maxTextHamming)
      .select("doc_id1", "doc_id2")
      .join(mediaFp.select(col("doc_id").as("doc_id1"), col("mfp").as("mfp1")), Seq("doc_id1"))
      .join(mediaFp.select(col("doc_id").as("doc_id2"), col("mfp").as("mfp2")), Seq("doc_id2"))
      .filter(bit_count(col("mfp1").bitwiseXOR(col("mfp2"))) <= maxMediaHamming)
      .select("doc_id1", "doc_id2")
    graft.dedup.Dedup.resolveKeepMin(docs, mediaPairs.union(textPairs).distinct())
  }

  /** m9: INCREMENTAL media dedup — a new media batch classified against
    * the existing corpus without ever re-pairing existing×existing: the
    * m-tier twin of the text-side d7, and the production shape for a
    * rolling multimodal ingest (historical payloads are never re-read;
    * at scale the existing side is the persisted band-bucketed
    * fingerprint index, the `SignatureIndex` pattern).
    *
    * Two asymmetric tiers, incoming probing existing only:
    *  1. exact — payload equality (verbatim re-upload). Joined on the
    *     binary payload here; a production index stores a content hash.
    *  2. near — m5 phash band probe (incoming bands × existing bands on
    *     the 4×15-bit keys) verified by exact `bit_count(xor)` ≤
    *     `maxHamming` (re-encodings, appended metadata).
    * Verdict per incoming item: exact | near | new, with the minimum
    * matching existing id as `dup_of` (exact tier wins ties, as d7).
    *
    * The corpus splits deterministically (odd doc_id = incoming, even =
    * existing) so the oracle derives the same split.
    */
  def m9IncrementalMediaDedup(
      spark: SparkSession,
      dir: String,
      maxHamming: Int = 15): DataFrame = {
    val nPart = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // Each side feeds several plan branches (exact join, band probe, the
    // verdict spine): materialize the payload projection once per side —
    // the shared-frame discipline of d14/bandedHammingPairs — so the scan
    // and payload synthesis don't re-run per branch. The fingerprint
    // kernel rides on top of the checkpointed payloads.
    val docs = Tables(spark, dir).documents
      .select(col("doc_id"), payload(col("doc_id"), col("text")).as("pl"))
    val incoming = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
      .repartition(nPart).localCheckpoint(true)
    val existing = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      .repartition(nPart).localCheckpoint(true)
    val exact = incoming
      .join(existing.select(col("pl"), col("doc_id").as("ex_id")), Seq("pl"))
      .groupBy("doc_id")
      .agg(min(col("ex_id")).as("exact_dup_of"))
    // Shared 4×15-bit banding layout (Dedup.bands15). NOTE: unlike the
    // symmetric m6/d9 pair stage there is no salted skew escape here —
    // the probe is asymmetric (incoming × existing per band), so a hot
    // band costs |incoming∩band|·|existing∩band|, bounded by the incoming
    // batch size per band; the same posture as the text-side d7.
    def banded(df: DataFrame, idAs: String): DataFrame = df
      .select(col("doc_id").as(idAs),
        org.apache.spark.sql.graft.VectorExpressions
          .blockAvgHash60(col("pl")).as("phash"))
      .select(col(idAs), col("phash"),
        posexplode(graft.dedup.Dedup.bands15(col("phash"))))
      .toDF(idAs, s"phash_$idAs", "band_id", "band")
    val near = banded(incoming, "in_id")
      .join(banded(existing, "ex_id"), Seq("band_id", "band"))
      .select("in_id", "ex_id", "phash_in_id", "phash_ex_id")
      .distinct()
      .filter(bit_count(col("phash_in_id").bitwiseXOR(col("phash_ex_id"))) <= maxHamming)
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

  /** m10: byte-distribution DRIFT between two media slices — t24's
    * pure-integer drift report on the perceptual tier: a re-encode,
    * codec-default change, or corruption upstream shifts the byte-value
    * distribution of a media crawl long before any per-item check fires,
    * and the drift report names the shifted byte values. Slices here are
    * the deterministic doc_id parity split (two "crawls" of the same
    * corpus stand-in); per slice the 256-bin histogram comes from ONE
    * pass per payload through the codegen'd [[org.apache.spark.sql.graft.ByteHistogram]]
    * kernel (no per-byte explode of the payload — fan-out is the FIXED
    * 256 bins per row, combined map-side), totals are a broadcast 1-row
    * aggregate, and drift = cnt_a·tot_b − cnt_b·tot_a stays exact long
    * arithmetic (= tot_a·tot_b·(p_a−p_b); bound holds to ~3·10⁹ bytes
    * per slice — past that, rescale counts per-million as t24 does).
    * Top-32 by |drift| lands as TakeOrdered, never a full sort.
    */
  def m10ByteDrift(spark: SparkSession, dir: String, topK: Int = 32): DataFrame = {
    val hist = Tables(spark, dir).documents
      .select(pmod(col("doc_id"), lit(2)).as("slice"),
        org.apache.spark.sql.graft.VectorExpressions
          .byteHistogram(payload(col("doc_id"), col("text"))).as("h"))
      .select(col("slice"), posexplode(col("h")).as(Seq("byte", "cnt")))
      .groupBy(col("byte"))
      .agg(
        sum(when(col("slice") === 0, col("cnt")).otherwise(0L)).as("cnt_a"),
        sum(when(col("slice") === 1, col("cnt")).otherwise(0L)).as("cnt_b"))
      .filter(col("cnt_a") + col("cnt_b") > 0)
    val tot = hist.agg(sum("cnt_a").as("ta"), sum("cnt_b").as("tb"))
    hist.crossJoin(broadcast(tot))
      .select(col("byte").cast("long").as("byte"), col("cnt_a"), col("cnt_b"),
        (col("cnt_a") * col("tb") - col("cnt_b") * col("ta")).as("drift"))
      .orderBy(abs(col("drift")).desc, col("byte").asc)
      .limit(topK)
      .select("byte", "cnt_a", "cnt_b", "drift")
  }

  /** A REAL (if deliberately minimal) codec: binary NetPBM P6. The point
    * is to demonstrate — not assert — that a codec slots into the decode
    * seam: this is a complete, honest parser for a real published format
    * (magic `P6`, whitespace/`#`-comment-tolerant header, width height
    * maxval ≤ 255, then exactly width·height·3 RGB bytes), with every
    * malformed shape (bad magic, truncated header, non-numeric or
    * oversized fields, short payload) returning `Left(reason)` rather
    * than throwing — at 100 TB some payloads WILL be corrupt, and a
    * decoder that kills tasks is not a decoder. Returns (w, h, rgb).
    */
  private[graft] def decodePpm(bytes: Array[Byte]): Either[String, (Int, Int, Array[Byte])] = {
    if (bytes.length < 2 || bytes(0) != 'P' || bytes(1) != '6') return Left("bad_magic")
    var i = 2
    // PPM token scanner: skip whitespace and '#'-to-EOL comments, then
    // read one decimal token. Fields may be separated by ANY whitespace.
    def nextInt(): Either[String, Int] = {
      while (i < bytes.length &&
          (bytes(i) == ' ' || bytes(i) == '\t' || bytes(i) == '\n' || bytes(i) == '\r' ||
            bytes(i) == '#')) {
        if (bytes(i) == '#') { while (i < bytes.length && bytes(i) != '\n') i += 1 }
        else i += 1
      }
      if (i >= bytes.length) return Left("truncated_header")
      var v = 0L
      var any = false
      while (i < bytes.length && bytes(i) >= '0' && bytes(i) <= '9') {
        v = v * 10 + (bytes(i) - '0'); any = true
        if (v > Int.MaxValue) return Left("field_overflow")
        i += 1
      }
      if (!any) Left("non_numeric_field") else Right(v.toInt)
    }
    for {
      w <- nextInt()
      h <- nextInt()
      maxval <- nextInt()
      _ <- if (w <= 0 || h <= 0) Left("bad_dimensions") else Right(())
      _ <- if (maxval != 255) Left("unsupported_maxval") else Right(())
      // Exactly ONE whitespace byte separates maxval from the raster.
      _ <- if (i < bytes.length &&
            (bytes(i) == '\n' || bytes(i) == ' ' || bytes(i) == '\t' || bytes(i) == '\r'))
          Right(()) else Left("missing_raster_separator")
      n = 3L * w * h
      _ <- if (bytes.length - (i + 1) < n) Left("short_payload") else Right(())
    } yield (w, h, java.util.Arrays.copyOfRange(bytes, i + 1, i + 1 + n.toInt))
  }

  /** The decode seam RUNNING a real codec: payloads in (any mix of
    * formats), typed per-image verdict rows out, one partition-granular
    * `mapPartitions` pass, no shuffle — exactly where m2/m3's scaladoc
    * says a decoder slots in. Non-PPM payloads (the synthesized PNG/JPEG/
    * WAV stand-ins, anything corrupt) come back `ok=false` with the parse
    * failure named, so a 100 TB crawl's decode pass doubles as its
    * corruption report. Channel means are exact integer millis.
    */
  def decodePpmImages(payloads: DataFrame): Dataset[DecodedImage] = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          decodePpm(bytes) match {
            case Left(reason) => DecodedImage(id, ok = false, reason, 0, 0, 0L, 0L, 0L)
            case Right((w, h, rgb)) =>
              var r = 0L; var g = 0L; var b = 0L
              var p = 0
              while (p < rgb.length) {
                r += rgb(p) & 0xff; g += rgb(p + 1) & 0xff; b += rgb(p + 2) & 0xff
                p += 3
              }
              val n = w.toLong * h
              DecodedImage(id, ok = true, "ok", w, h,
                r * 1000 / n, g * 1000 / n, b * 1000 / n)
          }
        }
      }
  }

  /** REAL resize through the seam — the codec-backed version of what
    * [[m3Resize]] stands in for: decode P6, average-pool each channel
    * over `factor`×`factor` blocks (integer mean, partial edge blocks
    * averaged over their true size — the standard box-filter downscale),
    * re-emit packed RGB. Same seam, same no-shuffle single pass; output
    * pixel count is ⌈w/f⌉·⌈h/f⌉ so the stage shrinks data ~f² like a
    * real thumbnailing pass.
    */
  def ppmAveragePool(payloads: DataFrame, factor: Int): Dataset[PooledImage] = {
    require(factor >= 1, s"pool factor must be >= 1, got $factor")
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          decodePpm(bytes) match {
            case Left(_) => PooledImage(id, ok = false, 0, 0, 0, 0, Array.emptyByteArray)
            case Right((w, h, rgb)) =>
              val ow = (w + factor - 1) / factor
              val oh = (h + factor - 1) / factor
              val out = new Array[Byte](ow * oh * 3)
              var oy = 0
              while (oy < oh) {
                var ox = 0
                while (ox < ow) {
                  val x0 = ox * factor; val y0 = oy * factor
                  val x1 = math.min(x0 + factor, w); val y1 = math.min(y0 + factor, h)
                  var r = 0L; var g = 0L; var b = 0L
                  var y = y0
                  while (y < y1) {
                    var x = x0
                    while (x < x1) {
                      val p = (y * w + x) * 3
                      r += rgb(p) & 0xff; g += rgb(p + 1) & 0xff; b += rgb(p + 2) & 0xff
                      x += 1
                    }
                    y += 1
                  }
                  val n = (x1 - x0).toLong * (y1 - y0)
                  val o = (oy * ow + ox) * 3
                  out(o) = (r / n).toByte; out(o + 1) = (g / n).toByte; out(o + 2) = (b / n).toByte
                  ox += 1
                }
                oy += 1
              }
              PooledImage(id, ok = true, w, h, ow, oh, out)
          }
        }
      }
  }

  /** m11: the REAL codec on the correctness gate — P6 payloads
    * synthesized from doc_id arithmetic alone (raster byte j of doc d is
    * `(d·31 + j·7) mod 256`, a 4×2 image), so a SQL oracle can derive the
    * exact channel means the decoder must report, with two corruption
    * classes injected by residue (`doc_id % 7` → truncated raster,
    * `% 13` → P5 magic) so BOTH verdict branches are non-vacuous and the
    * per-reason classification is hash-checked, not just row-counted.
    * The decode itself runs the honest byte-level parser through the
    * `mapPartitions` seam ([[decodePpmImages]]) — the one stage here that
    * is deliberately outside codegen, because that is what a codec is.
    * Everything is integer (means in exact millis, floor division), so
    * the driver hash must match bit-for-bit.
    */
  /** The m11/m3 P6-payload synthesis: raster byte j of doc d is
    * `(d·31 + j·7) mod 256` (a 4×2 image), with two corruption classes
    * injected by residue (`doc_id % 7` → truncated raster, `% 13` → P5
    * magic) so the codec path's failure branch is exercised on the gate.
    */
  private def ppmPayload: Column = {
    val hdrOk  = encode(lit("P6\n4 2\n255\n"), "UTF-8")
    val hdrBad = encode(lit("P5\n4 2\n255\n"), "UTF-8")
    def rasterHex(n: Int) = array_join(
      transform(sequence(lit(0), lit(n - 1)),
        j => lpad(hex(pmod(col("doc_id") * 31 + j * 7, lit(256))), 2, "0")), "")
    when(pmod(col("doc_id"), lit(7)) === 0, concat(hdrOk, unhex(rasterHex(10))))
      .when(pmod(col("doc_id"), lit(13)) === 0, concat(hdrBad, unhex(rasterHex(24))))
      .otherwise(concat(hdrOk, unhex(rasterHex(24))))
  }

  def m11PpmDecode(spark: SparkSession, dir: String): DataFrame = {
    decodePpmImages(
      Tables(spark, dir).documents
        .select(col("doc_id"), ppmPayload.as("payload")))
      .select(
        col("doc_id"),
        when(col("ok"), 1L).otherwise(0L).as("ok"),
        col("reason"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("mean_r_milli"), col("mean_g_milli"), col("mean_b_milli"))
  }

  /** The decode seam as a typed `mapPartitions`: where a cluster with
    * heavyweight codecs would run the real image/audio decoder batch-wise
    * per partition (the Scala analog of a Pandas-UDF `mapInPandas`
    * stage), this deterministic stub computes byte-level moments. The
    * plumbing is the real thing — binary column in, case-class `Dataset`
    * out, one partition-granular pass, no shuffle — and
    * [[decodePpmImages]]/[[ppmAveragePool]] prove it by running an actual
    * (P6 PPM) codec through the identical seam.
    */
  def extractFeatures(spark: SparkSession, dir: String): Dataset[MediaFeature] = {
    import spark.implicits._
    Tables(spark, dir).documents
      .select(col("doc_id"), payload(col("doc_id"), col("text")).as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          // --- decoder stub: a real implementation would decode the
          // container (PNG/JPEG/WAV) and emit model-ready features ---
          val n = bytes.length
          var s = 0.0
          var s2 = 0.0
          bytes.foreach { b =>
            val v = (b & 0xff).toDouble
            s += v
            s2 += v * v
          }
          val mean = if (n == 0) 0.0 else s / n
          val variance = if (n == 0) 0.0 else math.max(s2 / n - mean * mean, 0.0)
          MediaFeature(id, n.toLong, mean, math.sqrt(variance))
        }
      }
  }

  /** m12: FRAME-level media near-dup — d15's sub-document tier applied to
    * the perceptual family (m5/m6 fingerprint whole payloads; a video
    * that reuses another's intro, or a re-encoded clip embedded in a
    * longer reel, shares FRAMES while the whole-payload hashes diverge):
    * m2's deterministic frame sampling (64-byte frame every 256 bytes —
    * the decode stub's stand-in for keyframe extraction), one
    * `BlockAvgHash60` per frame SLICE (the codegen'd kernel runs on the
    * binary substring — no frame bytes ever leave their row before the
    * fingerprint), frame ids packed `doc_id·2²⁰ + frame_no` so the shared
    * banded pairing stage ([[graft.dedup.Dedup.bandedHammingPairs]],
    * salted-skew escape included) moves 8-byte keys, then cross-MEDIA
    * pairs only (intra-payload repetition is the byte-level analog of
    * t14's domain). Fan-out is n_bytes/stride frames per payload —
    * linear in payload volume, the m2 bound.
    */
  def m12FrameNearDup(
      spark: SparkSession,
      dir: String,
      frameBytes: Int = 64,
      strideBytes: Int = 256,
      maxHamming: Int = 6,
      blockThreshold: Int = 100000,
      nBlocks: Int = 0): DataFrame = {
    val nPart = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val media = Tables(spark, dir).documents
      .repartition(nPart)
      .select(col("doc_id"), payload(col("doc_id"), col("text")).as("payload"))
    frameNearDupOf(media, frameBytes, strideBytes, maxHamming, blockThreshold, nBlocks)
  }

  /** The frame pipeline over an arbitrary (doc_id, payload) frame —
    * factored so the spec can pin shared-frame detection and the
    * cross-media-only contract on crafted payloads.
    */
  def frameNearDupOf(
      media: DataFrame,
      frameBytes: Int = 64,
      strideBytes: Int = 256,
      maxHamming: Int = 6,
      blockThreshold: Int = 100000,
      nBlocks: Int = 0,
      subSplit: Boolean = true,
      candFactor: Long = 20L): DataFrame = {
    val frames = media
      .select(
        col("doc_id"),
        col("payload"),
        posexplode(sequence(
          lit(0L),
          greatest(length(col("payload")).cast("long") - frameBytes, lit(0L)),
          lit(strideBytes.toLong))))
      .select(
        (col("doc_id") * 1048576L + col("pos")).as("doc_id"),
        org.apache.spark.sql.graft.VectorExpressions
          .blockAvgHash60(expr(s"substring(payload, col + 1, $frameBytes)"))
          .as("phash"))
    graft.dedup.Dedup.bandedHammingPairs(frames, "phash", maxHamming, blockThreshold, nBlocks,
        subSplit, candFactor)
      .select(
        expr("doc_id1 DIV 1048576").as("media_id1"),
        pmod(col("doc_id1"), lit(1048576L)).as("frame1"),
        expr("doc_id2 DIV 1048576").as("media_id2"),
        pmod(col("doc_id2"), lit(1048576L)).as("frame2"),
        col("hamming"))
      .filter(col("media_id1") =!= col("media_id2"))
    // No terminal sort: frame-pair mass is quadratic in shared-frame
    // cluster sizes (35.5M rows at sf3) — Verify canonicalizes row
    // order at dump time, production consumers are order-free.
  }
}
