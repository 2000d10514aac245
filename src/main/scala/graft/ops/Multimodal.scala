package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Decoded media metadata row (the output shape of a real image/audio
  * decode stage). */
case class MediaMeta(doc_id: Long, n_bytes: Long, width: Long, height: Long,
                     frames: Long, chunk_id: String)

/** Multimodal-column plumbing (task brief: treat image/audio/video as
  * opaque binary columns with typed metadata). No media libraries exist in
  * this container, so the *decode* step is a clearly-marked deterministic
  * stub; everything around it — binary column handling, schema, batch
  * shape, partition-parallel decode — is real Spark plumbing.
  *
  * Two paths:
  *  - `meta` (oracle-checked): pure Column expressions over the binary
  *    payload — the metadata-extraction shape (size, fake dimensions,
  *    content chunk id). Codegen'd, no shuffle.
  *  - `decodeBatch` (unit-tested): the typed mapPartitions path a real
  *    decoder would use — one decoder init per partition, row-at-a-time
  *    decode inside. At 100 TB this is the only per-row imperative stage
  *    in the engine, and it is embarrassingly parallel.
  */
object Multimodal {

  /** Metadata extraction over an opaque binary payload column. The fixture
    * has no binary table, so the payload is the utf8 encoding of
    * documents.text — the operator only sees bytes. */
  def meta(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.t(spark, dir, "documents"))
      .withColumn("payload", col("text").cast("binary"))
      .select(
        col("doc_id"),
        octet_length(col("payload")).cast("long").as("n_bytes"),
        (lit(64) + octet_length(col("payload")).cast("long") * 7 % 512)
          .as("width"),
        (lit(64) + octet_length(col("payload")).cast("long") * 13 % 512)
          .as("height"),
        (floor(octet_length(col("payload")) / lit(4096.0)).cast("long") + 1)
          .as("frames"),
        substring(md5(col("payload")), 1, 8).as("chunk_id"))
      .orderBy(col("doc_id"))

  /** STUB: a real implementation would decode the payload with an image /
    * audio library here (one decoder instance per partition). This
    * deterministic fake derives the same fields as `meta` so the plumbing
    * is testable; swap the body for e.g. javax.imageio when available. */
  private def fakeDecode(docId: Long, payload: Array[Byte]): MediaMeta = {
    val n = payload.length.toLong
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(payload).take(4).map("%02x".format(_)).mkString
    MediaMeta(docId, n, 64 + n * 7 % 512, 64 + n * 13 % 512,
      n / 4096 + 1, hex)
  }

  /** Partition-parallel typed decode: the batch shape a real decoder
    * needs — `mapPartitions` so decoder init happens once per partition,
    * not per row. */
  def decodeBatch(spark: SparkSession, dir: String): Dataset[MediaMeta] = {
    import spark.implicits._
    Tables.t(spark, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // decoder init would go here, once per partition
        it.map { case (id, bytes) => fakeDecode(id, bytes) }
      }
  }

  /** Frame sampling: expand each media payload into per-frame rows
    * (frame index, byte offset, timestamp) — the generator shape a video
    * pipeline needs before per-frame feature extraction. posexplode over
    * a sequence; fan-out happens map-side before any shuffle. */
  def frames(spark: SparkSession, dir: String): DataFrame =
    meta(spark, dir)
      .select(col("doc_id"), col("frames"),
        posexplode(sequence(lit(0L), col("frames") - 1)))
      .select(col("doc_id"),
              col("col").as("frame_idx"),
              (col("col") * 4096).as("byte_offset"),
              round(col("col") / lit(24.0) + 1e-9, 4).as("frame_ts"))
      .orderBy(col("doc_id"), col("frame_idx"))

  /** Resize / downsample: a fixed-width "thumbnail" of each payload by
    * stride-sampling 16 evenly spaced bytes (rendered as characters here —
    * the fixture payload is utf8 text). The shape of any media resize:
    * output size is constant per row regardless of input size, and the
    * whole pass is a map-side projection (array-index sampling, no
    * shuffle). */
  def resize(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.t(spark, dir, "documents"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("stride", greatest(lit(1L), expr("n_chars div 16")))
      .select(col("doc_id"), col("n_chars"), col("stride"),
        expr("""array_join(transform(sequence(0, 15),
               |  i -> substr(text, CAST(i * stride + 1 AS INT), 1)), '')"""
          .stripMargin).as("thumb"))
      .orderBy(col("doc_id"))

  /** Fixed-window chunking: split each payload into contiguous 64-unit
    * windows — the "cut audio into 30 s segments / video into GOPs"
    * layout step before parallel per-chunk feature extraction. Emits one
    * row per (payload, window) with the chunk's length and content
    * fingerprint. Windows are character-addressed here (the fixture
    * payload is utf8 text; md5 hashes the chunk's utf8 BYTES, so the
    * fingerprint is byte-faithful either way).
    *
    * Scale: chunk boundaries are arithmetic on the row — the expansion
    * is a map-side posexplode of array-local slices (same shape as
    * mm_frames), no shuffle until the presentation sort; downstream
    * per-chunk extraction inherits Θ(chunks) parallelism. */
  def chunks(spark: SparkSession, dir: String): DataFrame = {
    val w = 64
    Tables.spread(Tables.t(spark, dir, "documents"))
      .filter(col("text").isNotNull && length(col("text")) > 0)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0),
            expr(s"(n_chars + ${w - 1}) div $w").cast("int") - 1),
          i => col("text").substr(i * w + 1, lit(w)))))
      .select(col("doc_id"),
        col("pos").cast("long").as("chunk_idx"),
        length(col("col")).cast("long").as("chunk_chars"),
        md5(col("col").cast("binary")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** Overlapping-window framing: 64-unit frames advancing by a 32-unit
    * hop (50% overlap) — the STFT / acoustic-feature frame layout that
    * precedes any audio analysis, where mm_chunks is the storage-split
    * layout. Each payload yields ⌈n/hop⌉ frames (tail frames run
    * short); framing is a map-side posexplode over a per-row sequence —
    * zero hash exchanges, fan-out ≈ 2× the chunk layout by
    * construction. */
  def frames5050(spark: SparkSession, dir: String): DataFrame = {
    val w = 64
    val hop = 32
    Tables.spread(Tables.t(spark, dir, "documents"))
      .filter(col("text").isNotNull && length(col("text")) > 0)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0),
            expr(s"(n_chars + ${hop - 1}) div $hop").cast("int") - 1),
          i => col("text").substr(i * hop + 1, lit(w)))))
      .select(col("doc_id"),
        col("pos").cast("long").as("frame_idx"),
        (col("pos") * hop).cast("long").as("offset"),
        length(col("col")).cast("long").as("frame_chars"),
        md5(col("col").cast("binary")).as("frame_md5"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** Cross-asset shared-segment audit — crossdoc_dedup's multimodal
    * twin at the storage-chunk granularity: a chunk fingerprint held by
    * ≥ 2 DISTINCT assets marks a copied media segment (intro cards,
    * watermarks, re-uploaded spans), and each asset reports how much of
    * it is such shared material. Within-asset repeats deliberately do
    * NOT count (intradoc_dedup's jurisdiction).
    *
    * Scale: rides the mm_chunks layout, so only 16-byte digests ever
    * shuffle — the multi-asset fingerprint set is one digest-keyed
    * aggregate, membership flows back as a digest-keyed SEMI join
    * (never broadcast: shared fingerprints grow with the corpus), and
    * the per-asset report is Θ(assets). */
  def sharedSegments(spark: SparkSession, dir: String): DataFrame = {
    val ch = chunks(spark, dir)
      .select(col("doc_id"), col("chunk_md5"))
    val multi = ch.groupBy(col("chunk_md5"))
      .agg(countDistinct(col("doc_id")).as("n_assets"))
      .filter(col("n_assets") >= 2)
      .select(col("chunk_md5"))
    val flagged = ch.join(multi, Seq("chunk_md5"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("shared"))
    ch.groupBy(col("doc_id")).agg(count(lit(1)).as("n_chunks"))
      .join(flagged, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("shared"), lit(0L)).as("n_shared"),
        round(coalesce(col("shared"), lit(0L)) / col("n_chunks")
          + 1e-9, 4).as("shared_frac"))
      .orderBy(col("doc_id"))
  }

  /** Exact binary dedup over the opaque payload column — the asset-level
    * twin of Dedup.exact: identical media files collapse to one digest
    * group (min doc_id canonical), with copy count and reclaimable
    * bytes. The md5 digest is computed MAP-SIDE so only 16-byte keys
    * shuffle, never payloads — at 100 TB of media that is the difference
    * between shuffling hashes and shuffling the corpus. */
  def payloadDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.t(spark, dir, "documents")
      .select(col("doc_id"),
        md5(col("text").cast("binary")).as("digest"),
        octet_length(col("text").cast("binary")).cast("long").as("n_bytes"))
      .groupBy(col("digest"))
      .agg(min(col("doc_id")).as("canonical_doc"),
           count(lit(1)).as("n_copies"),
           sum(col("n_bytes")).as("total_bytes"))
      .withColumn("reclaim_bytes",
        col("total_bytes") - col("total_bytes") / col("n_copies"))
      .select(col("digest"), col("canonical_doc"), col("n_copies"),
              col("total_bytes"),
              round(col("reclaim_bytes"), 2).as("reclaim_bytes"))
      .orderBy(col("digest"))

  /** Perceptual near-dup over media assets — payloadDedup's
    * jitter-tolerant sibling, completing the exact→near progression the
    * text family has (dedup_exact → minhash): an md5 avalanche means ONE
    * changed byte defeats exact dedup, but a re-encoded / lightly-edited
    * asset should still collapse. This is the dHash recipe every image
    * pipeline runs, expressed over the payload's cell statistics:
    *
    *  1. resize: each payload maps onto a fixed grid of bits+1 cells
    *     (17 at every fixture scale — perceptualBits below grows the
    *     signature with the corpus; stride = ⌊len/cells⌋, the length
    *     normalization that makes signatures comparable across asset
    *     sizes, exactly pHash's resize-to-8×8);
    *  2. cell statistic: the codepoint sum per cell (the "brightness"
    *     of the cell — a local, jitter-stable quantity, unlike a hash);
    *  3. signature: bit i = sum(cell i) > sum(cell i+1)
    *     (dHash's adjacent-gradient comparison — invariant to global
    *     brightness shifts, and a small edit only perturbs the bits
    *     whose cells it touches);
    *  4. banded blocking: the signature splits into 4 equal bands;
    *     candidates share ≥ 1 band (the MinHash-band doctrine —
    *     Hamming ≤ 2 pairs are GUARANTEED to agree on some band by
    *     pigeonhole over 4 bands, so blocking loses nothing the
    *     verdict would keep);
    *  5. verify: exact Hamming over the full signature, near-dup ⇔ ≤ 2.
    *
    * Scale: steps 1-3 are array-local map-side work (Θ(payload) per
    * asset, zero exchanges); only (id, 8-byte integer signature,
    * 8-byte packed combo key) tuples ever shuffle — payloads never
    * leave their scan partition (the mm_dedup digest-only doctrine);
    * the band join is bounded blocking, never all-pairs.
    *
    * Payload encoding: the cell sums iterate CODEPOINTS via the native
    * PerceptualCellSums expression (a direct UTF-8 decode of the
    * payload's bytes) — the same unit the DuckDB oracle's
    * substr/len/unicode() recipe iterates, so signatures are
    * well-defined and engine-identical on ARBITRARY payloads including
    * astral-plane characters (the round-8 split('')+ascii() form
    * iterated UTF-16 code units and held parity on ASCII/BMP only; a
    * non-BMP payload is planted in ExtendedOpsSpec). A true binary
    * payload column would use the same expression over its transport
    * encoding, or a byte-level twin — the dataflow is unchanged. */
  /** Perceptual-signature width that SCALES WITH THE CORPUS — the
    * banding-power defense (Similarity.adaptiveBits' doctrine applied
    * to the dHash): bands stay FOUR (pigeonhole: a Hamming ≤ 2 pair
    * always leaves ≥ 2 clean bands, at any width), but each band's
    * width w grows so its 2^w key space keeps the expected band bucket
    * at ≤ ~64 assets. A fixed 16-bit signature has 16 values per 4-bit
    * band forever: at 50k assets every band bucket holds ~3k docs and
    * in-band pairing is N²/16 — quadratic, the fixed-IVF-codebook
    * failure class. w = min(16, max(4, ⌈log2(N/64)⌉)) → 16 bits at
    * every fixture scale (the oracles' constant, pinned by
    * PropertySpec), 40 bits at 50k, 64 from ~4.2M assets up.
    *
    * CAP AT 64 (w ≤ 16): the whole signature then fits ONE BIGINT, so
    * Hamming is a single xor+popcount and band keys are shift/mask
    * extracts — vs 40+ per-character substr compares on the string
    * form, the dominant CPU of the 500k-asset pair-generation wall.
    * The cap does NOT revive the quadratic failure the width defends
    * against, because blocking keys are the 6 choose-2 COMPOSITE band
    * pairs (see perceptualPairs): past the cap the SINGLE-band key
    * space freezes at 2^16 (expected bucket N/65536 — ~76 at 5M,
    * heavy at 10⁹) but the composite key space is 2^32, keeping the
    * expected combo bucket ≤ ~0.25 assets at 10⁹. The Hamming ≤ 2
    * verdict is width-independent ("a couple of local edits"); more
    * cells = finer grid, so the gate tightens as the corpus grows —
    * the conservative direction for a dedup gate — until the cap,
    * where the 64-cell grid granularity simply holds. Payloads shorter
    * than the cell count degrade to stride-1 cells with empty tails
    * (their signatures cluster — short assets were never this
    * operator's jurisdiction; payloadDedup's exact hash covers
    * them). */
  private[graft] def perceptualBits(n: Long): Int = {
    val w = math.min(16, math.max(4, math.ceil(
      math.log(math.max(1.0, n / 64.0)) / math.log(2.0)).toInt))
    4 * w
  }

  /** Band k (0-based, MSB-first) of a width-`bits` integer signature:
    * logical shift + mask, so extraction is two codegen'd integer ops
    * regardless of width (bits ≤ 64 by the perceptualBits cap; the
    * unsigned shift keeps bit 63 — set only at the cap — from smearing
    * sign bits into narrower bands). */
  private def bandVal(sig: Column, k: Int, bits: Int): Column = {
    val bandW = bits / 4
    shiftrightunsigned(sig, bits - (k + 1) * bandW)
      .bitwiseAND(lit((1L << bandW) - 1))
  }

  /** Hamming distance between two width-≤64 integer signatures: ONE
    * xor + popcount (codegen'd), replacing the round-13 string form's
    * 40 substr comparisons per candidate — the round-9 sign-LSH
    * integer-signature doctrine applied to the perceptual family. */
  private def hammingInt(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast("long")

  /** The 6 choose-2 combo index order (0,1),(0,2),(0,3),(1,2),(1,3),
    * (2,3) — shared by pair generation, the admission index and the
    * oracles, so blocking cannot drift between them. */
  private val bandCombos: Seq[(Int, Int)] =
    for (i <- 0 until 4; j <- i + 1 until 4) yield (i, j)

  /** Composite blocking key of combo (i,j): both band values packed in
    * one long (bandW ≤ 16 so each value < 2^16 and the pack is exact —
    * a single 8-byte shuffle key per candidate row). */
  private def comboKey(sig: Column, i: Int, j: Int, bits: Int): Column =
    bandVal(sig, i, bits) * lit(1L << (bits / 4)) + bandVal(sig, j, bits)

  /** The perceptual signature relation (doc_id, sig) over any documents
    * frame — the shared stage-1-to-3 of the dHash recipe (fixed cell
    * grid, codepoint sums, adjacent-comparison bits), factored so the
    * batch pair-finder (perceptualDedup), the admission gate
    * (perceptualAdmission) and the streaming admission twin all compute
    * signatures from ONE definition and cannot drift. Entirely
    * array-local map-side work.
    *
    * The signature is ONE BIGINT (bits ≤ 64 by the perceptualBits
    * cap): comparison i occupies bit (bits-1-i), MSB-first, so band k
    * of the old string form's substr(k·w+1, w) is exactly the
    * shift/mask extract bandVal(sig, k) — same partition of the same
    * comparisons, integer-coded. Disjoint single-bit terms sum without
    * carries, so the + reduce IS the bitwise or (and stays a flat
    * codegen'd add chain). */
  private[graft] def perceptualSigs(docs: DataFrame, bits: Int): DataFrame = {
    val cells = bits + 1
    docs
      .filter(col("text").isNotNull && length(col("text")) > 0)
      .withColumn("cs",
        graft.functions.PerceptualCellSums.sums(col("text"), cells))
      .select(col("doc_id"),
        (0 until bits).map(i =>
          when(element_at(col("cs"), i + 1) > element_at(col("cs"), i + 2),
               lit(1L << (bits - 1 - i))).otherwise(lit(0L)))
          .reduce(_ + _).as("sig"))
  }

  def perceptualDedup(spark: SparkSession, dir: String): DataFrame =
    stagedPerceptualPairs(spark, dir)
      .orderBy(col("doc_a"), col("doc_b"))

  /** Materialize-once staging of the perceptual-signature pair relation
    * per (dir, content fingerprint) — shared by mm_neardup, the cluster
    * labeler (mm_clusters) and any downstream survivorship consumer, so
    * the banded pair GENERATION (the 2,050 s stage at the 500k-asset
    * probe) runs once per corpus, like the written candidate table a
    * 100 TB media-dedup deploy would publish. */
  private[graft] def stagedPerceptualPairs(spark: SparkSession,
      dir: String): DataFrame =
    graft.Staged.layer(spark,
      graft.Staged.key("mm_pairs", dir, "documents"))(
      perceptualPairs(spark, dir))

  // private[graft]: PlanSpec audits the GENERATION plan (the staged
  // read-back the query surface serves is just a parquet scan)
  private[graft] def perceptualPairs(spark: SparkSession,
      dir: String): DataFrame = {
    // once-computed footer count, no data scan
    val bits = perceptualBits(Tables.footerCount(spark, dir, "documents"))
    val sig = perceptualSigs(
      Tables.spread(Tables.t(spark, dir, "documents")), bits)
    // Blocking key = the 6 choose-2 COMPOSITE band pairs, not the 4
    // single bands. Same pigeonhole, one step further: ≤ 2 bit errors
    // dirty ≤ 2 of the 4 bands, so ≥ 2 bands are clean — i.e. some PAIR
    // of bands is JOINTLY clean, and every Hamming ≤ 2 pair meets in
    // that combo's bucket (lossless; the emitted set is unchanged and
    // the oracle needs no edit). What changes is enumeration: single-
    // band buckets are heavy-tailed on real signatures — text whose
    // adjacent cell sums oscillate piles into the alternating-pattern
    // values (measured at 500k docs, bandW=13: avg bucket 238 vs the 61
    // uniform model predicts, max 6,499, Σ sz² = 1.25G in-band pair
    // enumerations = the 1,698 s generation wall). A doc lands in a hot
    // single-band bucket whenever ONE band degenerates; a composite
    // bucket needs TWO bands to collide jointly, so the 2^(2w) key
    // space absorbs the tail (same corpus: avg 91, max 699,
    // Σ sz² = 329M — 3.8× less, within ~2× of the answer-driven floor
    // of pairs × ≤ 6 combo meetings). Cost: 6 exploded rows per doc
    // instead of 4 and an 8-byte packed key — both Θ(docs), trivial
    // beside the Σ sz² term they buy down.
    val bands = sig.select(col("doc_id"), col("sig"),
      posexplode(array(bandCombos.map { case (i, j) =>
        comboKey(col("sig"), i, j, bits) }: _*)))
      .select(col("doc_id"), col("sig"),
              col("pos").as("band_id"), col("col").as("band"))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band") === col("b.band") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
              col("a.sig").as("sa"), col("b.sig").as("sb"),
              col("a.band_id").as("band_id"))
    // A pair whose signatures share k combo buckets meets k times; the
    // round-13 form deduplicated those meetings with a .distinct() —
    // a whole extra exchange carrying every candidate. OWNERSHIP
    // replaces it: the meeting's combo set is a pure function of
    // (sa, sb), so each meeting checks map-side whether ITS combo is
    // the FIRST matching one and only that meeting survives — exactly
    // one row per pair, zero dedup shuffle (the coalesce(when...) is
    // never null: the join guarantees the row's own combo matches).
    val bandMatch = (0 until 4).map(k =>
      bandVal(col("sa"), k, bits) === bandVal(col("sb"), k, bits))
    val firstCombo = coalesce(bandCombos.zipWithIndex.map {
      case ((i, j), k) => when(bandMatch(i) && bandMatch(j), lit(k)) }: _*)
    cand.filter(col("band_id") === firstCombo)
      .select(col("doc_a"), col("doc_b"),
              hammingInt(col("sa"), col("sb")).as("hamming"),
              col("sa").as("sig_a"), col("sb").as("sig_b"))
      .filter(col("hamming") <= 2) // order applied at the query surface
  }

  /** The corpus band INDEX of the perceptual admission gate: one row
    * per (combo_id, packed combo value, member) — a NORMALIZED inverted
    * index (6 rows per asset), not per-bucket member arrays. Keys are
    * the 6 choose-2 COMPOSITE band pairs — the same blocking
    * perceptualPairs uses, for the same measured reason: single-band
    * buckets are heavy-tailed on real signatures (max 6,499 members at
    * the 500k-asset probe; the single-band gate measured 2,703 s there
    * vs 31 s composite) and a hot bucket is per-new-asset probe cost
    * here. Normalized rows rather than collect_list arrays because a
    * clique-structured corpus (the 5M probe plants 1000-copy cliques)
    * makes even composite buckets thousands deep — per-row member
    * ARRAYS then concat/array_distinct into multi-thousand-element
    * structs per probe (measured 2,217 s at 5M), where normalized rows
    * flow through the same hash-join + 16-byte-row aggregate shape as
    * perceptualPairs (which pushed 2.7G candidates in 95 s on the same
    * corpus). This relation IS the deployed index, rebuilt by the
    * offline batch run whenever the corpus grows. Pigeonhole keeps the
    * ≤ 2 verdict lossless: ≥ 2 clean bands ⇒ some jointly-clean
    * combo. */
  private[graft] def perceptualBandIndex(sigs: DataFrame,
      bits: Int): DataFrame =
    sigs
      .select(col("doc_id").as("c_id"), col("sig").as("c_sig"),
        posexplode(array(bandCombos.map { case (i, j) =>
          comboKey(col("sig"), i, j, bits) }: _*)))
      .select(col("pos").as("band_id"), col("col").as("band"),
              col("c_id"), col("c_sig"))

  /** The per-candidate relation of the admission gate: each probe row
    * explodes its 6 combo keys map-side and meets the index through ONE
    * stateless hash equi-join on (combo position, packed combo value) —
    * so the identical plan runs batch or per-micro-batch on a stream
    * (every candidate row derives from its probe's single input row by
    * stateless operators, the annAdmissionStream argument). LEFT join:
    * probes whose buckets are all empty keep null candidate rows, so
    * the downstream aggregate is total without a re-join against the
    * probe set. A candidate sharing k jointly-clean combos meets k
    * times; rather than a dedup shuffle, each row carries `valid` —
    * computed MAP-SIDE from the two signatures: real candidate, not
    * self, and THIS combo is the pair's first matching one (the
    * perceptualPairs ownership rule) — so exactly one row per (probe,
    * candidate) counts. Hamming is one xor+popcount per row. */
  private[graft] def admissionCandidates(probes: DataFrame,
      index: DataFrame, bits: Int): DataFrame = {
    val probeBands = probes.select(col("doc_id"), col("sig"),
        posexplode(array(bandCombos.map { case (i, j) =>
          comboKey(col("sig"), i, j, bits) }: _*)))
      .select(col("doc_id"), col("sig"),
              col("pos").as("band_id"), col("col").as("band"))
    val bandMatch = (0 until 4).map(k =>
      bandVal(col("sig"), k, bits) === bandVal(col("c_sig"), k, bits))
    val firstCombo = coalesce(bandCombos.zipWithIndex.map {
      case ((i, j), k) => when(bandMatch(i) && bandMatch(j), lit(k)) }: _*)
    probeBands.join(index, Seq("band_id", "band"), "left")
      .select(col("doc_id"), col("c_id"),
        (col("c_id").isNotNull && col("c_id") =!= col("doc_id") &&
          col("band_id") === firstCombo).as("valid"),
        hammingInt(col("sig"), col("c_sig")).as("ham"))
  }

  /** Shared verdict tail of the perceptual admission gate — used by the
    * batch operator and the streaming twin's per-micro-batch finish
    * (StreamingBatch.streamingMmAdmission), so the two cannot drift:
    * reduce the per-candidate relation to one verdict row per probe.
    * Only `valid` rows count (the in-aggregate filter keeps the
    * relation total — every probe contributes its 6 probeBand rows even
    * when all its candidates are invalid); best = integer
    * min(struct(hamming, c_id)); admitted ⇔ no candidate within
    * Hamming ≤ 2 (blocking-invariant by pigeonhole; the n_candidates /
    * best_match diagnostics are combo-blocking-defined and
    * oracle-mirrored). */
  private[graft] def admissionFromCandidates(cands: DataFrame): DataFrame =
    cands
      .groupBy(col("doc_id"))
      .agg(count(when(col("valid"), lit(1))).as("n_candidates"),
           min(when(col("valid"),
             struct(col("ham"), col("c_id")))).as("m"))
      .select(col("doc_id"), col("n_candidates"),
        col("m")("c_id").as("best_match"),
        col("m")("ham").as("best_hamming"),
        coalesce(col("m")("ham") > 2, lit(true)).as("admit"))

  private[graft] def admissionVerdicts(probes: DataFrame, index: DataFrame,
      bits: Int): DataFrame =
    admissionFromCandidates(admissionCandidates(probes, index, bits))

  /** Perceptual media ADMISSION gate — neardup_incremental /
    * ann_incremental's shape for assets, proving the adaptive-width
    * perceptual index works INCREMENTALLY: the corpus (even doc_ids)
    * stands as the band index; each new asset (odd doc_ids) probes only
    * its own 6 combo buckets and is admitted iff no corpus asset sits
    * within Hamming ≤ 2 of its signature. Per-asset cost is Θ(6 ·
    * combo-bucket density) — bounded by the composite key space even
    * where single-band buckets are heavy-tailed — and the corpus side
    * is index maintenance, never rescanned per probe. */
  def perceptualAdmission(spark: SparkSession, dir: String): DataFrame = {
    val bits = perceptualBits(Tables.footerCount(spark, dir, "documents"))
    val sigs = perceptualSigs(
      Tables.spread(Tables.t(spark, dir, "documents")), bits)
    admissionVerdicts(
      sigs.filter(col("doc_id") % 2 === 1),
      perceptualBandIndex(sigs.filter(col("doc_id") % 2 === 0), bits),
      bits)
      .orderBy(col("doc_id"))
  }

  /** Perceptual near-dup CLUSTER assignment — the media twin of
    * dedup_clusters / semantic_dedup, completing the family's
    * exact → near → clusters progression: connected components over the
    * perceptual-signature pairs, every asset labeled with the minimum
    * doc_id reachable in its component, `is_canonical` marking the one
    * survivor a keep-one media dedup would retain. Rides the shared
    * adaptive labeler (Dedup.labelComponents: driver union-find under
    * 1M edges, GraphX Pregel above); universe = assets that received a
    * signature (non-empty payloads). */
  def payloadClusters(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.labelComponents(spark,
      stagedPerceptualPairs(spark, dir).select(col("doc_a"), col("doc_b")),
      Tables.t(spark, dir, "documents")
        .filter(col("text").isNotNull && length(col("text")) > 0)
        .select(col("doc_id")), "doc_id")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_admission" -> (perceptualAdmission _),
    "mm_clusters" -> (payloadClusters _),
    "mm_neardup" -> (perceptualDedup _),
    "mm_dedup"  -> (payloadDedup _),
    "mm_shared_segments" -> (sharedSegments _),
    "mm_frames5050" -> (frames5050 _),
    "mm_meta"   -> (meta _),
    "mm_frames" -> (frames _),
    "mm_chunks" -> (chunks _),
    "mm_resize" -> (resize _))

  /** Oracle fragments of the perceptual signature — same fixed-grid /
    * codepoint-sum / adjacent-comparison recipe stated in DuckDB, in
    * the same INTEGER form the engine ships: comparison i at bit
    * (15-i) of one BIGINT (bits = 16 at every gate scale — the
    * PropertySpec pin), band k = (sig >> (12-4k)) & 15, Hamming =
    * bit_count(xor). Parity holds on ARBITRARY payloads: both engines
    * iterate codepoints (unicode() here, the native PerceptualCellSums
    * UTF-8 decode on the Spark side — see the encoding note on
    * perceptualDedup). */
  private def pCell(i: Int): String =
    s"substr(text, CAST($i*stride+1 AS INT), CAST(stride AS INT))"
  private def pSum(i: Int): String =
    s"COALESCE(list_sum(list_transform(split(${pCell(i)}, ''), " +
      s"x -> unicode(x))), 0)"
  private val pSig = (0 until 16).map(i =>
    s"CASE WHEN ${pSum(i)} > ${pSum(i + 1)} " +
      s"THEN ${1L << (15 - i)} ELSE 0 END")
    .mkString("CAST((", " + ", ") AS BIGINT)")
  private def pBand(sig: String, k: Int): String =
    s"(($sig >> ${12 - 4 * k}) & 15)"
  private val pHam = "CAST(bit_count(xor(sa, sb)) AS BIGINT)"
  // the composite candidate rule of the admission gate: some PAIR of
  // bands jointly equal (6 choose-2 disjunction, same order as
  // bandCombos)
  private def pComboMatch(a: String, b: String): String =
    (for (i <- 0 until 4; j <- i + 1 until 4) yield
      s"(${pBand(a, i)} = ${pBand(b, i)} AND " +
        s"${pBand(a, j)} = ${pBand(b, j)})").mkString("(", " OR ", ")")

  val oracle: Map[String, String] = Map(
    "mm_admission" ->
      s"""WITH s AS (
         |  SELECT doc_id, GREATEST(1, length(text) // 17) AS stride, text
         |  FROM documents
         |  WHERE text IS NOT NULL AND length(text) > 0),
         |sig AS (SELECT doc_id, $pSig AS sig FROM s),
         |c AS (SELECT doc_id AS c_id, sig AS c_sig FROM sig
         |      WHERE doc_id % 2 = 0),
         |b AS (SELECT doc_id, sig FROM sig WHERE doc_id % 2 = 1),
         |cand AS (
         |  SELECT DISTINCT b.doc_id, c.c_id, b.sig AS sa, c.c_sig AS sb
         |  FROM b JOIN c ON ${pComboMatch("b.sig", "c.c_sig")}
         |  WHERE c.c_id <> b.doc_id),
         |h AS (
         |  SELECT doc_id, c_id, $pHam AS ham FROM cand),
         |agg AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_candidates
         |  FROM h GROUP BY doc_id),
         |best AS (
         |  SELECT doc_id, c_id AS best_match, ham AS best_hamming FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY doc_id ORDER BY ham, c_id) AS rn
         |    FROM h)
         |  WHERE rn = 1)
         |SELECT b.doc_id,
         |  COALESCE(agg.n_candidates, 0) AS n_candidates,
         |  best.best_match, best.best_hamming,
         |  COALESCE(best.best_hamming > 2, TRUE) AS admit
         |FROM b
         |  LEFT JOIN agg ON agg.doc_id = b.doc_id
         |  LEFT JOIN best ON best.doc_id = b.doc_id
         |ORDER BY b.doc_id""".stripMargin,
    "mm_clusters" ->
      s"""WITH RECURSIVE s AS (
         |  SELECT doc_id, GREATEST(1, length(text) // 17) AS stride, text
         |  FROM documents
         |  WHERE text IS NOT NULL AND length(text) > 0),
         |sig AS (SELECT doc_id, $pSig AS sig FROM s),
         |bands AS (
         |  SELECT doc_id, sig, b,
         |         (sig >> (12 - 4*b)) & 15 AS band
         |  FROM sig CROSS JOIN (SELECT unnest(range(0,4)) AS b)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |                  a.sig AS sa, b.sig AS sb
         |  FROM bands a JOIN bands b
         |    ON a.b = b.b AND a.band = b.band AND a.doc_id < b.doc_id),
         |p AS (SELECT doc_a, doc_b FROM cand WHERE $pHam <= 2),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM p
         |  UNION ALL SELECT doc_b, doc_a FROM p),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM s
         |  UNION
         |  SELECT re.id, ed.dst FROM reach re JOIN edges ed ON ed.src = re.r)
         |SELECT id AS doc_id, min(r) AS cluster_id,
         |       (min(r) = id) AS is_canonical
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    // blocking form differs from the engine's (single-band here,
    // composite there) — legitimate because BOTH candidate sets contain
    // every Hamming ≤ 2 pair (pigeonhole), so after the ≤ 2 filter the
    // emitted relations are equal; the simpler single-band SQL keeps
    // the oracle readable and DuckDB at sf0.01 never sees the skew the
    // composite key exists to absorb
    "mm_neardup" ->
      s"""WITH s AS (
         |  SELECT doc_id, GREATEST(1, length(text) // 17) AS stride, text
         |  FROM documents
         |  WHERE text IS NOT NULL AND length(text) > 0),
         |sig AS (SELECT doc_id, $pSig AS sig FROM s),
         |bands AS (
         |  SELECT doc_id, sig, b,
         |         (sig >> (12 - 4*b)) & 15 AS band
         |  FROM sig CROSS JOIN (SELECT unnest(range(0,4)) AS b)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |                  a.sig AS sa, b.sig AS sb
         |  FROM bands a JOIN bands b
         |    ON a.b = b.b AND a.band = b.band AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, $pHam AS hamming,
         |       sa AS sig_a, sb AS sig_b
         |FROM cand WHERE $pHam <= 2
         |ORDER BY doc_a, doc_b""".stripMargin,
    "mm_frames5050" ->
      """WITH t AS (
        |  SELECT doc_id, text, length(text)::BIGINT AS n_chars
        |  FROM documents WHERE text IS NOT NULL AND length(text) > 0),
        |c AS (
        |  SELECT doc_id, list_transform(range(0, (n_chars + 31) // 32),
        |      i -> substr(text, CAST(i * 32 + 1 AS INT), 64)) AS frames
        |  FROM t),
        |u AS (
        |  SELECT doc_id, unnest(frames) AS frame,
        |         generate_subscripts(frames, 1) AS p
        |  FROM c)
        |SELECT doc_id, (p - 1)::BIGINT AS frame_idx,
        |       ((p - 1) * 32)::BIGINT AS offset,
        |       length(frame)::BIGINT AS frame_chars,
        |       md5(frame) AS frame_md5
        |FROM u ORDER BY doc_id, frame_idx""".stripMargin,
    "mm_dedup" ->
      """WITH p AS (
        |  SELECT doc_id, md5(text) AS digest,
        |         octet_length(encode(text))::BIGINT AS n_bytes
        |  FROM documents),
        |g AS (
        |  SELECT digest, MIN(doc_id) AS canonical_doc,
        |         COUNT(*) AS n_copies,
        |         CAST(SUM(n_bytes) AS BIGINT) AS total_bytes
        |  FROM p GROUP BY 1)
        |SELECT digest, canonical_doc, n_copies, total_bytes,
        |       ROUND(total_bytes - total_bytes / n_copies, 2)
        |         AS reclaim_bytes
        |FROM g ORDER BY digest""".stripMargin,
    "mm_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, text, length(text)::BIGINT AS n_chars
        |  FROM documents WHERE text IS NOT NULL AND length(text) > 0),
        |c AS (
        |  SELECT doc_id, list_transform(range(0, (n_chars + 63) // 64),
        |      i -> substr(text, CAST(i * 64 + 1 AS INT), 64)) AS chunks
        |  FROM t),
        |u AS (
        |  SELECT doc_id, unnest(chunks) AS chunk,
        |         generate_subscripts(chunks, 1) AS p
        |  FROM c)
        |SELECT doc_id, (p - 1)::BIGINT AS chunk_idx,
        |       length(chunk)::BIGINT AS chunk_chars,
        |       md5(chunk) AS chunk_md5
        |FROM u ORDER BY doc_id, chunk_idx""".stripMargin,
    "mm_shared_segments" ->
      """WITH t AS (
        |  SELECT doc_id, text, length(text)::BIGINT AS n_chars
        |  FROM documents WHERE text IS NOT NULL AND length(text) > 0),
        |ch AS (
        |  SELECT doc_id, md5(unnest(list_transform(
        |      range(0, (n_chars + 63) // 64),
        |      i -> substr(text, CAST(i * 64 + 1 AS INT), 64)))) AS m
        |  FROM t),
        |multi AS (
        |  SELECT m FROM ch GROUP BY 1
        |  HAVING COUNT(DISTINCT doc_id) >= 2),
        |f AS (
        |  SELECT doc_id, COUNT(*)::BIGINT AS n_shared
        |  FROM ch JOIN multi USING (m) GROUP BY 1),
        |tot AS (
        |  SELECT doc_id, COUNT(*)::BIGINT AS n_chunks FROM ch GROUP BY 1)
        |SELECT tot.doc_id, n_chunks,
        |       COALESCE(n_shared, 0)::BIGINT AS n_shared,
        |       ROUND(COALESCE(n_shared, 0) / n_chunks::DOUBLE + 1e-9, 4)
        |         AS shared_frac
        |FROM tot LEFT JOIN f USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "mm_meta" ->
      """WITH t AS (
        |  SELECT doc_id, encode(text) AS payload FROM documents)
        |SELECT doc_id,
        |  octet_length(payload)::BIGINT AS n_bytes,
        |  64 + octet_length(payload)::BIGINT * 7 % 512 AS width,
        |  64 + octet_length(payload)::BIGINT * 13 % 512 AS height,
        |  CAST(FLOOR(octet_length(payload) / 4096.0) AS BIGINT) + 1 AS frames,
        |  substring(md5(decode(payload)), 1, 8) AS chunk_id
        |FROM t ORDER BY doc_id""".stripMargin,
    "mm_resize" ->
      """WITH t AS (
        |  SELECT doc_id, text, length(text)::BIGINT AS n_chars,
        |         GREATEST(1, length(text)::BIGINT // 16) AS stride
        |  FROM documents)
        |SELECT doc_id, n_chars, stride,
        |  array_to_string(list_transform(generate_series(0, 15),
        |    i -> substr(text, CAST(i * stride + 1 AS INT), 1)), '') AS thumb
        |FROM t ORDER BY doc_id""".stripMargin,
    "mm_frames" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(FLOOR(octet_length(encode(text)) / 4096.0) AS BIGINT) + 1
        |      AS frames
        |  FROM documents)
        |SELECT doc_id, f AS frame_idx, f * 4096 AS byte_offset,
        |       ROUND(f / 24.0 + 1e-9, 4) AS frame_ts
        |FROM t CROSS JOIN LATERAL (
        |  SELECT unnest(generate_series(0, frames - 1)) AS f) u
        |ORDER BY doc_id, frame_idx""".stripMargin)
}
