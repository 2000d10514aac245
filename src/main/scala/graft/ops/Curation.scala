package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Training-corpus curation operators beyond the dedup/quality families:
  * sequence packing, repetition filtering, PII redaction, and benchmark
  * contamination checks — the remaining standard stages of an LLM
  * pre-training data pipeline (north-star surface; the reference itself
  * has no text pipeline — its cleaning analog is the null-drop + feature
  * stage at transformer.py:70-116).
  *
  * Scale stance (same rules as the rest of the engine): per-document work
  * is map-only Column expressions; cross-document state goes through
  * map-side-combinable aggregations or bounded windows; nothing collects
  * to the driver.
  */
object Curation {

  /** Sequence packing: assign documents to fixed token-budget packs
    * (budget = 2048) by contiguous concatenation order — the layout step
    * that turns a curated corpus into fixed-length training rows.
    *
    * Packing is inherently sequential *within* a stream, so the scale
    * unit is the SHARD: documents are range-bucketed into bounded shards
    * (≤ 200 docs here; in production a shard = one output file's worth,
    * sized so a task holds it) and packs never cross a shard boundary —
    * exactly how distributed packing ships (each writer task packs its
    * own shard). The cumulative-sum window partitions on (lang, shard),
    * so per-task state is one bounded shard, never a whole language. */
  def docPack(spark: SparkSession, dir: String): DataFrame = {
    val budget = 2048
    val t = Tables.spread(Tables.t(spark, dir, "documents"))
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"),
        size(Text.tokens(col("text"))).cast("long").as("n_tokens"),
        // integer `div`, not floor(x / y): Column `/` computes in double,
        // which drops low-order bits past 2^53 — snowflake-scale ids
        // would land in the wrong shard (the oracle's // is exact)
        expr("doc_id div 200").as("shard"))
    val wc = Window.partitionBy(col("lang"), col("shard"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = t.withColumn("tok_offset",
        sum(col("n_tokens")).over(wc) - col("n_tokens"))
      .withColumn("pack_id", expr(s"tok_offset div $budget"))
    val wp = Window.partitionBy(col("lang"), col("shard"), col("pack_id"))
      .orderBy(col("doc_id"))
    c.select(col("doc_id"), col("lang"), col("shard"), col("n_tokens"),
        col("tok_offset"), col("pack_id"),
        row_number().over(wp).cast("long").as("pack_pos"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic global training-order shuffle + shard assignment —
    * the permutation step between curation and packing: every epoch
    * reader must see the same pseudorandom document order, independent
    * of cluster layout or task scheduling. The shuffle key is a seeded
    * md5 of the doc id, the shard is its leading hex byte mod S, and
    * the in-shard position is the key's rank — all integer/string
    * comparisons, so the permutation is reproducible on any engine.
    *
    * Scale: one hash shuffle on `shard` and one in-shard sort; S is
    * picked ≈ cluster task count (here 8) so each shard sorts in one
    * task's memory — exactly how distributed training-data writers lay
    * out epoch files (the in-shard rank IS the write order). The hash
    * key makes the sort skew-proof: shards are uniform by construction
    * regardless of how doc ids cluster. */
  def docShuffle(spark: SparkSession, dir: String): DataFrame = {
    val shards = 8
    val t = Tables.spread(Tables.t(spark, dir, "documents"))
      .select(col("doc_id"),
        md5(concat(lit("shuf|"), col("doc_id").cast("string"))
          .cast("binary")).as("skey"))
      .withColumn("shard",
        (conv(substring(col("skey"), 1, 2), 16, 10).cast("long") %
          shards).cast("long"))
    t.select(col("doc_id"), col("shard"),
        row_number().over(Window.partitionBy(col("shard"))
          .orderBy(col("skey"), col("doc_id"))).cast("long").as("pos"))
      .orderBy(col("shard"), col("pos"))
  }

  /** Per-shard integrity manifest over the training-order shuffle — the
    * audit artifact an epoch writer emits next to its shard files so a
    * reader (or a re-run) can verify them without re-deriving anything:
    * document count, token total, densest-position check (max_pos ==
    * n_docs ⇔ the in-shard ranks are gapless), and an ORDER-INSENSITIVE
    * content checksum (bit_xor of a per-doc 60-bit hash over id+length) —
    * XOR's commutativity makes the checksum independent of task/partition
    * order, so any two runs on any cluster layout must byte-match.
    *
    * Scale: one left join of the shuffle assignment to per-doc token
    * counts (both keyed by doc_id) and one 8-group aggregate; every
    * aggregate here (count/sum/max/bit_xor) is map-side combinable. */
  def shardManifest(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.spread(Tables.t(spark, dir, "documents"))
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        size(Text.tokens(col("text"))).cast("long").as("n_tok"))
    docShuffle(spark, dir)
      .join(toks, Seq("doc_id"), "left")
      .withColumn("n_tok", coalesce(col("n_tok"), lit(0L)))
      .withColumn("h", conv(substring(md5(
          concat_ws("|", lit("man"), col("doc_id").cast("string"),
            col("n_tok").cast("string")).cast("binary")),
          1, 15), 16, 10).cast("long"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tok")).as("n_tokens"),
           max(col("pos")).as("max_pos"),
           expr("bit_xor(h)").as("checksum"))
      .orderBy(col("shard"))
  }

  /** Gopher-style repetition statistics: per document, the fraction of
    * all word 2-grams held by the most frequent 2-gram (top_frac) and
    * the fraction that are repeats of an earlier 2-gram (dup_frac) —
    * the standard repetitious-text quality filters.
    *
    * Shape: bigram explode → count per (doc, gram) → per-doc roll-up.
    * Both aggregations are map-side combinable and keyed by doc (plus
    * gram), so the shuffle volume is Θ(distinct bigrams), bounded by
    * corpus token count — no hot key can exceed one document's grams. */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables.spread(Tables.t(spark, dir, "documents"))
      .filter(col("text").isNotNull)
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"),
        // bigram i = toks[i] + " " + toks[i+1], i in [1, n-1] (1-based,
        // mirroring the oracle's list indexing)
        explode(transform(sequence(lit(1), size(col("toks")) - 1),
          i => concat_ws(" ",
            element_at(col("toks"), i),
            element_at(col("toks"), i + 1)))).as("gram"))
    grams.groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_grams"),
           max(col("cnt")).as("top_cnt"),
           count(lit(1)).as("n_distinct"))
      .select(col("doc_id"), col("n_grams"),
        // +1e-9: deterministic decimal-tie break, see Relational.q1Agg
        round(col("top_cnt").cast("double") / col("n_grams") + 1e-9, 4)
          .as("top_frac"),
        round((col("n_grams") - col("n_distinct")).cast("double") /
              col("n_grams") + 1e-9, 4).as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  /** PII redaction: scrub digit-run identifiers from free-text fields and
    * count the redactions — the masking pass run before text enters a
    * training corpus. Pattern is pluggable (emails, phones, SSNs are the
    * same regexp_replace shape); the fixture's PII-shaped content is the
    * numeric id embedded in customer names. Pure map-only codegen'd
    * string expressions — linear at any scale. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.t(spark, dir, "customer"))
      .select(col("c_custkey"),
        regexp_replace(col("c_name"), "[0-9]+", "<ID>").as("scrubbed"),
        size(regexp_extract_all(col("c_name"), lit("[0-9]+"), lit(0)))
          .cast("long").as("n_redacted"))
      .orderBy(col("c_custkey"))

  /** Benchmark contamination check: per document, the fraction of its
    * DISTINCT word 3-grams that also appear in a benchmark set (held-out
    * eval shards — here the deterministic doc_id % 50 = 0 slice). The
    * n-gram-overlap decontamination test run before training.
    *
    * Shape: distinct (doc, gram) → left join the distinct benchmark gram
    * set on gram → per-doc hit ratio. The benchmark side is aggregated
    * to distinct grams before the join, so its size is the benchmark
    * vocabulary (small); at 100 TB the same join runs as a broadcast or
    * bloom-filter semi-join — the per-doc side never re-shuffles beyond
    * the gram key. */
  /** Distinct (doc_id, gram) word-3-gram stream, shared by the
    * contamination checks. Per-doc distinct trigrams come from the native
    * Shingles expression (array-local distinct, one pass, no shuffle) — a
    * global explode + .distinct() would shuffle every trigram OCCURRENCE
    * in the corpus to dedup what is already per-row state. */
  /** Exploded (doc_id, 3-gram) relation — the shared front of the
    * contamination family (contamination, bloom_prefilter,
    * decontam_closure, heavy_hitters, the streaming decontamination
    * tagger). STAGED once per (dir, documents fingerprint) as a
    * committed layer (the termFreq doctrine): each consumer previously
    * re-ran the tokenize + shingle + explode lineage — contamination and
    * bloom_prefilter twice within one query (corpus side + benchmark
    * side) — where a deployment reads the gram index it already
    * maintains. Θ(tokens) rows, column-pruned scans on read. */
  private[graft] def docGrams(spark: SparkSession, dir: String): DataFrame =
    graft.Staged.layer(spark,
      graft.Staged.key("doc_grams", dir, "documents")) {
      Tables.spread(Tables.t(spark, dir, "documents"))
        .filter(col("text").isNotNull &&
          size(Text.tokens(col("text"))) >= 3)
        .select(col("doc_id"),
          explode(Dedup.shingles(col("text"))).as("gram"))
    }

  def contamination(spark: SparkSession, dir: String): DataFrame = {
    val grams = docGrams(spark, dir)
    val bench = grams.filter(col("doc_id") % 50 === 0)
      .select(col("gram")).distinct()
      .withColumn("hit", lit(1L))
    grams.join(bench, Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
           sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("doc_id"),
        (col("doc_id") % 50 === 0).as("is_benchmark"),
        col("n_grams"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_grams") + 1e-9, 4)
          .as("contamination"))
      .orderBy(col("doc_id"))
  }

  /** Bloom-prefiltered decontamination — the 100 TB execution shape of
    * `contamination`'s join, made an explicit operator: flag every
    * TRAINING document (doc_id % 50 ≠ 0) that shares ≥ 1 distinct 3-gram
    * with the benchmark set, with its exact overlapping-gram count.
    *
    * Why a bloom: at corpus scale the (doc, gram) stream is ~10¹²–10¹³
    * rows while the benchmark vocabulary is millions — a plain semi-join
    * shuffles the ENTIRE gram stream on the gram key just to discard
    * ~99.99% of it. Here the benchmark grams are folded into a Bloom
    * sketch (built distributively — per-partition partials merged — then
    * collected as a ~1.2 MB-per-million-items model parameter) and the
    * stream is prefiltered MAP-SIDE at the scan: only grams the sketch
    * might contain ever enter the join. The exact broadcast semi-join on
    * the survivors then kills the sketch's ~1% false positives, so the
    * RESULT is exact and oracle-checkable — the bloom changes the
    * dataflow, never the answer. (Spark's InjectRuntimeFilter applies
    * the same trick to shuffle joins adaptively; a curation pipeline
    * wants it unconditionally and against a persisted benchmark set that
    * may not even be a join input — e.g. reused across daily runs.) */
  /** Bloom sketch over the benchmark's distinct 3-grams — built
    * distributively, collected as a model-parameter-sized artifact.
    * Shared by the batch prefilter below and the streaming ingest tagger
    * (EventStream.decontaminateStream): in deployment this is the
    * PUBLISHED output of the offline decontamination run that online
    * consumers load as a constant. */
  private[graft] def benchBloom(spark: SparkSession, dir: String)
      : org.apache.spark.util.sketch.BloomFilter =
    // Computed once per documents content — the psiEdges doctrine: the
    // sketch is the PUBLISHED offline artifact, but every
    // bloom_prefilter / streaming_decontaminate invocation re-ran the
    // gram distinct + count + bloom aggregate (two corpus gram passes)
    // to rebuild the identical filter.
    graft.Staged.value(graft.Staged.key("bench_bloom", dir, "documents")) {
      // ONE gram pass, not two (round-15, guide §1.2): Bloom insertion is
      // idempotent, so the pre-insert DISTINCT — whose only purpose was
      // sizing expectedNumItems — is dropped, and with it both the gram
      // distinct exchange and its second execution (the old shape ran the
      // distinct lineage once for .count() and again for the filter
      // aggregate). expectedNumItems is now the bench slice's OCCURRENCE
      // count (a doc_id-column-only scan of the staged gram layer) — an
      // upper bound on its distinct grams, so the realized FPP is ≤ the
      // nominal 1% (a few× more bits for per-doc-distinct shingles whose
      // cross-doc duplication is modest; the filter stays a bounded model
      // artifact, and the exact join behind it is what decides anyway).
      val bench = docGrams(spark, dir).filter(col("doc_id") % 50 === 0)
        .select(col("gram"))
      bench.stat.bloomFilter("gram", math.max(bench.count(), 1L), 0.01)
    }

  def bloomPrefilter(spark: SparkSession, dir: String): DataFrame = {
    val grams = docGrams(spark, dir)
    val bench = grams.filter(col("doc_id") % 50 === 0)
      .select(col("gram")).distinct()
    val bloom = benchBloom(spark, dir)
    grams.filter(col("doc_id") % 50 =!= 0)
      .filter(graft.functions.BloomMightContain.contains(col("gram"), bloom))
      .join(broadcast(bench), Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit"))
      .orderBy(col("doc_id"))
  }

  /** Hard cap on the unigram model collected to the driver by
    * [[lmScore]]. Everything past the top-LmVocabCap terms (by count,
    * ties by term) shares one OOV bucket — so the driver-side relation
    * is ≤ LmVocabCap rows REGARDLESS of corpus size. Word vocabulary in
    * curated text sits well under this cap; the cap exists for the raw
    * web-scrape case where URLs/hashes/typos push distinct tokens into
    * the billions and an uncapped collect would OOM the driver. */
  val LmVocabCap = 32768

  /** Capped bigram-LM unigram model: (top-K unigram rows, V, oovMass).
    * V = |in-vocab terms| + 1 (the OOV bucket counts as one vocabulary
    * entry); oovMass = total token occurrences outside the top-K — every
    * OOV context word is scored as that single shared `<unk>` bucket,
    * i.e. its Laplace denominator is oovMass + V. Factored out of
    * [[lmScore]] so the cap is pinnable by spec at a small k. */
  private[graft] def lmModel(toks: DataFrame, k: Int): (Array[org.apache.spark.sql.Row], Long, Long) = {
    val uCnt = toks.select(explode(col("toks")).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("u_cnt"))
    // Deterministic top-k: (count DESC, term ASC) is a total order, so
    // the vocabulary boundary is stable across partitionings and matches
    // the oracle's ORDER BY ... LIMIT k exactly.
    val topRows = uCnt
      .orderBy(col("u_cnt").desc, col("term"))
      .limit(k)
      .collect()
    val totalToks = toks
      .agg(coalesce(sum(size(col("toks"))), lit(0L)))
      .head().getLong(0)
    val inVocabMass = topRows.iterator.map(_.getLong(1)).sum
    (topRows, topRows.length.toLong + 1L, totalToks - inVocabMass)
  }

  /** Perplexity-style quality scoring: average Laplace-smoothed bigram
    * log-probability of each document under a bigram LM trained on the
    * corpus itself — ln((B(a,b)+1) / (U(a)+V)) averaged over the doc's
    * bigram occurrences. The "perplexity filter" stage of a training
    * pipeline, with the n-gram LM standing in for the neural scorer
    * (identical dataflow: per-doc stream scored against broadcast model
    * statistics).
    *
    * Model statistics (bigram counts, unigram counts, vocabulary size)
    * are map-side-combinable aggregates over the token stream; the
    * per-doc side shuffles once on the gram key. Same skew stance as
    * tfidf's df: never a term-partitioned window. The unigram model that
    * ships to the driver (and back out as a broadcast) is BOUNDED at
    * [[LmVocabCap]] rows — top-K by (count, term), with all tail terms
    * merged into one `<unk>` bucket whose mass enters the Laplace
    * denominator (see [[lmModel]]). The bigram counts stay fully
    * distributed: bigram vocabulary grows near-linearly with corpus
    * tokens, so it is never collected or broadcast-hinted. */
  def lmScore(spark: SparkSession, dir: String): DataFrame =
    // The per-doc score table is a derived relation consumed by several
    // operators (the lm_score query itself; quality_tradeoff references
    // it TWICE — once under its decile-edges subtree, once as the main
    // binning input — so the bigram lineage ran twice per call there).
    // Staged once per (dir, documents fingerprint) as a committed layer
    // (the stagedPairs/termFreq doctrine): in deployment this is the
    // published scoring run a threshold analysis reads, not a lineage
    // each consumer re-derives.
    // the presentation sort re-applies on the read side: a parquet
    // read-back guarantees no row order
    graft.Staged.layer(spark,
      graft.Staged.key("lm_score", dir, "documents")) {
      lmScoreCompute(spark, dir)
    }.orderBy(col("doc_id"))

  /** Spec window into the staging lineage (PlanSpec asserts its shape —
    * unigram broadcast, no gram window — which the staged read hides). */
  private[graft] def lmScoreComputeForSpec(spark: SparkSession,
      dir: String): DataFrame = lmScoreCompute(spark, dir)

  private def lmScoreCompute(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.spread(Tables.t(spark, dir, "documents"))
      .filter(col("text").isNotNull)
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
    // unigram model computed once per (documents content, cap) — the
    // psiEdges doctrine: the ≤ LmVocabCap-row model is a learned
    // parameter both lm_score and quality_tradeoff re-collected per
    // invocation (top-k + total-mass jobs). lmModel itself stays the
    // pure spec-pinnable compute.
    val (uRows, v, oovMass) = graft.Staged.value(
      graft.Staged.key("lm_model", dir, "documents", LmVocabCap))(
      lmModel(toks, LmVocabCap))
    val uSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("term", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("u_cnt", org.apache.spark.sql.types.LongType)))
    val uDf = spark.createDataFrame(
      spark.sparkContext.parallelize(uRows.toSeq, 1), uSchema)
    val bigrams = toks.filter(size(col("toks")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("toks")) - 1),
          i => struct(
            element_at(col("toks"), i).as("a"),
            concat_ws(" ",
              element_at(col("toks"), i),
              element_at(col("toks"), i + 1)).as("gram")))).as("g"))
      .select(col("doc_id"), col("g.a").as("a"), col("g.gram").as("gram"))
    val bCnt = bigrams.groupBy(col("gram"))
      .agg(count(lit(1)).as("b_cnt"))
    bigrams
      // no broadcast hint on bCnt: bigram vocabulary grows near-linearly
      // with corpus tokens (unlike word vocab), so the planner must be
      // free to fall back to a shuffle join past the broadcast threshold
      .join(bCnt, "gram")
      // LEFT join: context words outside the top-K vocabulary take the
      // shared <unk> mass in the denominator instead of dropping rows
      .join(broadcast(uDf.withColumnRenamed("term", "a")), Seq("a"), "left")
      .withColumn("logp",
        log((col("b_cnt") + 1.0) /
          (coalesce(col("u_cnt"), lit(oovMass)) + lit(v.toDouble))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        // +1e-9: deterministic decimal-tie break, see Relational.q1Agg
        round(avg(col("logp")) + 1e-9, 4).as("avg_logp"))
      .orderBy(col("doc_id"))
  }

  /** Quality-vs-quantity tradeoff curve — the measurement that SETS a
    * quality filter's threshold: for each candidate lm_score cutoff
    * (the score's own deciles), how many documents and tokens survive.
    * seqlen_budget sizes the context window, calibration_ece checks the
    * score is trustworthy; this prices what a given strictness COSTS in
    * training data — the frontier every filtering pipeline plots before
    * committing a cutoff.
    *
    * Shape (the psi_drift decile doctrine): exact score deciles as a
    * 1-row broadcast, map-side CASE binning on the shared bin text,
    * then survivors-from-the-top cumulated by windows over the 10-row
    * bin relation only — the corpus crosses one |bins|-keyed aggregate
    * and nothing row-level survives it. Scores are lm_score's (already
    * 4-dp rounded), so edges interpolate identical doubles in both
    * engines and bin membership cannot wobble. Docs too short to score
    * (< 2 tokens) are outside the curve by definition. */
  def qualityTradeoff(spark: SparkSession, dir: String): DataFrame = {
    val scored = lmScore(spark, dir).select(col("doc_id"), col("avg_logp"))
    val toks = Tables.spread(Tables.t(spark, dir, "documents"))
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        size(Text.tokens(col("text"))).cast("long").as("n_tokens"))
    val docs = scored.join(toks, "doc_id")
    // edges rounded at 6 dp (+1e-9 decimal-tie break): the two engines'
    // linear-interpolation FORMULAS differ — lo + (hi-lo)*f vs
    // lo*(1-f) + hi*f — which lands 1 ulp apart exactly when lo == hi
    // (tied 4-dp scores), and a 1-ulp edge wobble next to a real data
    // value flips bin membership. Scores are 4-dp quantized, so 6-dp
    // edges lose nothing and cannot wobble.
    // one bounded-memory grouped-quantile pass (constant group) instead
    // of 9 scalar percentile() buffers; groupedQuantiles replicates the
    // percentile interpolation bit-for-bit, so the 6-dp rounding below
    // sees identical doubles
    val edges = {
      val q = Relational.exactQuantiles(
        docs.select(lit(1).as("_all"), col("avg_logp")),
        "_all", "avg_logp",
        (1 to 9).map(k => (s"q$k", s"0.$k".toDouble)),
        Tables.footerCount(spark, dir, "documents"))
      q.select((1 to 9).map(k =>
        round(col(s"q$k") + 1e-9, 6).as(s"e$k")): _*)
    }
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    // keeping bin b means keeping every bin ABOVE it too: cumulate from
    // the top bin down (both windows run over the 10-row relation)
    val wFromTop = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.crossJoin(broadcast(edges))
      .withColumn("bin", expr(qtBinExpr).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        round(min(col("avg_logp")), 4).as("bin_floor"))
      .withColumn("docs_kept", sum(col("n_docs")).over(wFromTop))
      .withColumn("tokens_kept", sum(col("n_tokens")).over(wFromTop))
      .select(col("bin"), col("bin_floor"), col("n_docs"), col("n_tokens"),
        col("docs_kept"), col("tokens_kept"),
        round(col("docs_kept") / sum(col("n_docs")).over(wAll) + 1e-9, 6)
          .as("docs_frac"),
        round(col("tokens_kept") / sum(col("n_tokens")).over(wAll) + 1e-9, 6)
          .as("tokens_frac"))
      .orderBy(col("bin"))
  }

  /** Decile-bin id over the lm score as one shared CASE-sum text (the
    * psiBinExpr doctrine — valid Spark SQL AND DuckDB SQL). */
  private[ops] val qtBinExpr: String = (1 to 9)
    .map(k => s"(CASE WHEN avg_logp > e$k THEN 1 ELSE 0 END)")
    .mkString(" + ")

  /** Hashed-n-gram importance resampling — the data-selection stage that
    * picks raw documents LOOKING LIKE a small target corpus (DSIR; Xie
    * et al. 2023, "Data Selection for Language Models via Importance
    * Resampling" — public method, re-derived here on hashed unigram
    * features). The benchmark slice (doc_id % 50 == 0, the same target
    * convention as `contamination`/`bloom_prefilter`) plays the target
    * distribution; everything else is the raw pool being scored.
    *
    * Model: tokens hash into B = 64 buckets (seeded-md5 prefix mod B —
    * the engine's standard cross-engine hash, see docShuffle), and each
    * side's bucket histogram becomes a Laplace-smoothed unigram model.
    * A document's importance weight is Σ_tokens [ln p_target(b(tok)) −
    * ln p_raw(b(tok))]; the keep rule is weight > corpus-mean weight
    * ("more target-like than the average raw doc" — the deterministic,
    * RNG-free analog of DSIR's Gumbel resampling; an absolute
    * weight > 0 cut is degenerate whenever T ≪ R, because the target
    * model's heavier Laplace smoothing shifts every weight negative).
    * The mean is a 1-row broadcast cut (winsorize doctrine: the compared
    * weight is 4-dp rounded, so membership can't flip on a cut ulp).
    *
    * Scale shape: BOTH models are Θ(B) = 64 rows at ANY corpus size (the
    * fixed bucket count is the whole point of hashed features — contrast
    * lmScore, whose unigram vocabulary needed an explicit top-K cap), so
    * the per-bucket log-ratio table broadcasts; token→bucket is a pure
    * map-side projection; the model aggregate and the per-doc score
    * aggregate are both map-side combinable. Nothing unbounded ever
    * ships: this is the selection stage that runs over 100 TB of raw
    * scrape against a megabyte of benchmark text. Float doctrine follows
    * lmScore: ln on identical doubles both engines, decision on the
    * 4-dp-rounded sum (+1e-9 decimal-tie nudge). */
  def importanceResample(spark: SparkSession, dir: String): DataFrame = {
    val b = 64
    val tok = Tables.spread(Tables.t(spark, dir, "documents"))
      .filter(col("text").isNotNull)
      .select(col("doc_id"), (col("doc_id") % 50 === 0).as("is_target"),
        explode(transform(Text.tokens(col("text")),
          x => conv(substring(md5(x.cast("binary")), 1, 2), 16, 10)
            .cast("int") % b)).as("b"))
    // FIT: one pass over the token stream builds both bucket histograms;
    // λ_b is collected as a ≤64-row model parameter (codebook doctrine —
    // the bound is the fixed bucket count, stated here: B = 64 rows
    // regardless of corpus size). Collecting it keeps the APPLY plan
    // free of the fit lineage: the scoring join builds from a local
    // 64-row relation, not a re-derivation of the model aggregate.
    // Both fitted parameters — the 64-row λ table and the mean-weight
    // threshold — are computed once per documents content (the
    // psiEdges doctrine): every invocation previously re-ran the FIT
    // pass (bucket histograms) AND the threshold pass (a full scoring
    // aggregate), three token-stream passes where the APPLY needs one.
    val (lam, wCut) = graft.Staged.value(
      graft.Staged.key("dsir_model", dir, "documents")) {
        val m = tok.groupBy(col("b")).agg(
          sum(when(col("is_target"), 1L).otherwise(0L)).as("t_cnt"),
          sum(when(!col("is_target"), 1L).otherwise(0L)).as("r_cnt"))
          .collect()
        val tt = m.iterator.map(_.getLong(1)).sum.toDouble
        val rt = m.iterator.map(_.getLong(2)).sum.toDouble
        val lamRows = m.toSeq.map(r => (r.getInt(0),
          math.log((r.getLong(1) + 1.0) / (tt + b)) -
            math.log((r.getLong(2) + 1.0) / (rt + b))))
        // The selection threshold is itself a fitted model parameter
        // (one double), published by a second pass exactly like a
        // production selection run fits-then-applies.
        val cut = scoredOf(tok, lamDfOf(spark, lamRows))
          .agg(round(avg(col("weight")) + 1e-9, 4))
          .head().get(0) match {
            case null => 0.0
            case d: java.lang.Double => d.doubleValue()
          }
        (lamRows, cut)
      }
    // APPLY: one broadcast join + one map-side-combinable doc aggregate
    // against the published literals.
    scoredOf(tok, lamDfOf(spark, lam))
      .withColumn("kept", col("weight") > lit(wCut))
      .orderBy(col("doc_id"))
  }

  private def lamDfOf(spark: SparkSession,
                      rows: Seq[(Int, Double)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map(r => org.apache.spark.sql.Row(r._1, r._2)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("b",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("lam",
          org.apache.spark.sql.types.DoubleType))))

  private def scoredOf(tok: DataFrame, lamDf: DataFrame): DataFrame =
    tok.filter(!col("is_target"))
      .join(broadcast(lamDf), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"),
        round(sum(col("lam")) + 1e-9, 4).as("weight"))

  /** The ensemble's signal + rule chain on any documents-shaped relation
    * — factored so the batch operator and its streaming twin run ONE
    * definition (the heavy-hitters gram-shaping doctrine: twins that
    * recompute rules independently drift). Entirely map-side. */
  private[graft] def qualityVerdicts(docs: DataFrame): DataFrame = {
    val toks = Text.tokens(col("text"))
    docs
      .filter(col("text").isNotNull)
      .withColumn("toks", toks)
      .withColumn("n_toks", size(col("toks")).cast("long"))
      .withColumn("mean_tok_len", round(
        aggregate(col("toks"), lit(0L), (acc, x) => acc + length(x))
          .cast("double") / col("n_toks") + 1e-9, 4))
      .withColumn("stop_frac", round(
        size(filter(col("toks"), t => t.isin("the", "a", "of", "and")))
          .cast("double") / col("n_toks") + 1e-9, 4))
      .withColumn("digit_frac", round(
        length(regexp_replace(col("text"), "[^0-9]", ""))
          .cast("double") / length(col("text")) + 1e-9, 4))
      .withColumn("bg",
        when(size(col("toks")) >= 2,
          transform(sequence(lit(1), size(col("toks")) - 1),
            i => concat_ws(" ", element_at(col("toks"), i),
                                element_at(col("toks"), i + 1)))))
      .withColumn("dup_bigram_frac", round(
        when(col("bg").isNotNull,
          (size(col("bg")) - size(array_distinct(col("bg"))))
            .cast("double") / size(col("bg")))
          .otherwise(lit(0.0)) + 1e-9, 4))
      .withColumn("r_len", col("n_toks") >= 30)
      .withColumn("r_wordlen",
        col("mean_tok_len") >= 3.0 && col("mean_tok_len") <= 5.0)
      .withColumn("r_stop", col("stop_frac") >= 0.02)
      .withColumn("r_digit", col("digit_frac") <= 0.2)
      .withColumn("r_rep", col("dup_bigram_frac") <= 0.1)
      .withColumn("n_passed",
        (Seq("r_len", "r_wordlen", "r_stop", "r_digit", "r_rep")
          .map(r => when(col(r), 1L).otherwise(0L)).reduce(_ + _)))
      .withColumn("keep", col("n_passed") === 5)
  }

  /** One-pass quality-filter ensemble — the production filter STACK
    * (FineWeb/Gopher-style rule sets: length, mean word length, stopword
    * presence, digit density, bigram repetition) evaluated as a single
    * map-side pass with every rule verdict kept for auditability. The
    * point of the operator is the SHAPE: five signals that separately
    * would be five jobs (text_quality, repetition_stats, …) fold into
    * one projection — every signal is array-local (higher-order
    * functions over the token array; no explode, no groupBy, no join),
    * so the whole gate runs at scan speed and composes with partition
    * pruning at 100 TB. Per-rule flags + pass count make the drop
    * REASON queryable (the audit a curation run must publish); keep
    * requires all five.
    *
    * Float doctrine: every signal is a ratio of integers — exact double
    * division in both engines, no transcendental on data values — and
    * every threshold compares the ROUNDED signal to a literal, so rule
    * membership cannot flip on a ulp. */
  def qualityEnsemble(spark: SparkSession, dir: String): DataFrame =
    qualityVerdicts(Tables.spread(Tables.t(spark, dir, "documents")))
      .select(col("doc_id"), col("n_toks"), col("mean_tok_len"),
        col("stop_frac"), col("digit_frac"), col("dup_bigram_frac"),
        col("r_len"), col("r_wordlen"), col("r_stop"), col("r_digit"),
        col("r_rep"), col("n_passed"), col("keep"))
      .orderBy(col("doc_id"))

  /** Deterministic stratified train/val/test split: every document gets
    * a split label from a seeded hash of (lang | doc_id), thresholded at
    * 0xcc (~79.7% train) and 0xe6 (~10.2% val, remainder test). Because
    * lang is inside the hash key, the draw is uniform WITHIN each
    * language — per-stratum fractions hold without a count pass or any
    * shuffle at all: the label is a pure map-side expression that
    * composes with partition pruning (same stance as stratified_sample).
    * Output includes the per-(lang, split) tallies a release manifest
    * records; the tally aggregate is the only exchange. */
  def datasetSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.t(spark, dir, "documents")
      .withColumn("h", substring(
        md5(concat(lit("split42|"), col("lang"), lit("|"),
                   col("doc_id").cast("string")).cast("binary")), 1, 2))
      .withColumn("split",
        when(col("h") < "cc", lit("train"))
          .when(col("h") < "e6", lit("val"))
          .otherwise(lit("test")))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_chars")).as("n_chars"),
           min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("lang"), col("split"))

  /** Leakage-safe split audit — the group-aware variant of
    * [[datasetSplit]]. Hashing each DOCUMENT id into train/val/test
    * leaks near-duplicates across the boundary (a test doc's twin sits
    * in train: the classic contamination path an eval suite never
    * forgives), so a production split hashes the dedup CLUSTER label —
    * every member of a near-dup family lands in one split by
    * construction. This audit runs BOTH strategies over the staged
    * cluster labels ([[Dedup.stagedLabels]] — the written table a 100 TB
    * deployment reads, not a lineage recompute) and reports, per
    * strategy, the split sizes plus the count of clusters whose members
    * straddle >1 split: >0 for doc_hash on any corpus with near-dups,
    * provably 0 for cluster_hash.
    *
    * Scale shape: the label table already carries every doc_id, so there
    * is NO join at all — the two strategy assignments explode map-side
    * (2 rows/doc, pure projection: md5 split keys, the datasetSplit
    * thresholds), and the only doc-sized exchange is the one map-side-
    * combinable groupBy onto (strategy, cluster_id, split). Both report
    * legs (split tallies, straddle counts) then read that Θ(clusters)
    * relation, persisted so the doc pass runs once; the final join
    * broadcasts a 2-row leak table. Counts are all integers → exact
    * cross-engine parity. */
  /** Seeded hash split assignment shared by [[groupSplit]] and the
    * composed curation funnel (Corpus.curateV2): thresholds match
    * [[datasetSplit]]'s (~80/10/10), key is caller's choice — doc_id
    * leaks near-dup families across the boundary, cluster_id doesn't. */
  private[ops] def gsplitOf(k: Column): Column = {
    val h = substring(md5(concat(lit("gsplit42|"),
      k.cast("string")).cast("binary")), 1, 2)
    when(h < "cc", lit("train"))
      .when(h < "e6", lit("val"))
      .otherwise(lit("test"))
  }

  /** The lazy report dataflow behind [[groupSplit]], factored out so its
    * plan shape stays pinnable (PlanSpec) — groupSplit executes exactly
    * this plan and then re-hosts the 6-row result locally so the
    * persisted intermediate can be released. Returns (report, persisted
    * handle); the CALLER owns the unpersist. */
  private[graft] def groupSplitReport(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val splitOf = gsplitOf _
    val assign = Dedup.stagedLabels(spark, dir)
      .select(col("doc_id"), col("cluster_id"),
        explode(array(
          struct(lit("doc_hash").as("strategy"),
            splitOf(col("doc_id")).as("split")),
          struct(lit("cluster_hash").as("strategy"),
            splitOf(col("cluster_id")).as("split")))).as("s"))
      .select(col("cluster_id"),
        col("s.strategy").as("strategy"), col("s.split").as("split"))
    val pcs = assign
      .groupBy(col("strategy"), col("cluster_id"), col("split"))
      .agg(count(lit(1)).as("nd"))
      .persist()
    val leaks = pcs
      .groupBy(col("strategy"), col("cluster_id"))
      .agg(count(lit(1)).as("n_splits"))
      .groupBy(col("strategy"))
      .agg(sum(when(col("n_splits") > 1, 1L).otherwise(0L))
        .as("leaked_clusters"))
    val report = pcs.groupBy(col("strategy"), col("split"))
      .agg(sum(col("nd")).as("n_docs"), count(lit(1)).as("n_clusters"))
      .join(broadcast(leaks), "strategy")
      .orderBy(col("strategy"), col("split"))
    (report, pcs)
  }

  def groupSplit(spark: SparkSession, dir: String): DataFrame = {
    val (report, pcs) = groupSplitReport(spark, dir)
    try {
      // The final report is BOUNDED at |strategies|·|splits| = 6 rows, so
      // it materializes eagerly (the same collect-the-small-table pattern
      // as Dedup's label broadcast) — which gives the persist inside
      // groupSplitReport a definite end of life. Returning a lazy plan
      // over a persisted relation has no safe unpersist point, and a
      // long-lived session embedding the operator would accumulate cached
      // partitions per call (exchange reuse does NOT collapse the two
      // report legs: measured, the aggregate subtrees plan as separate
      // stages).
      val rows = report.collect()
      spark.createDataFrame(
          spark.sparkContext.parallelize(rows.toSeq, 1), report.schema)
        .orderBy(col("strategy"), col("split"))
    } finally pcs.unpersist(blocking = false)
  }

  /** Holdout-shard LEAKAGE audit — the measurement that closes the split
    * family: [[groupSplit]] proves cluster-hash assignment never
    * straddles a cluster and [[decontamClosure]] computes which clusters
    * are benchmark-tainted, but nothing yet verified the two TOGETHER on
    * the same staged lineage — a taint-positive cluster straddling
    * train/test is the eval-leakage event (a contaminated train doc's
    * twin sits in the test shard), and it is exactly what the doc_hash
    * strategy permits. Reports, per strategy: total clusters, straddling
    * clusters (members in >1 split), tainted clusters, and the audit
    * headline — tainted AND straddling. cluster_hash must report 0
    * there by construction; doc_hash demonstrably doesn't
    * (CurationSpec's planted fixture).
    *
    * Scale shape: assignments explode map-side from the staged label
    * table (2 rows/doc, pure projection — no join on the doc tier); the
    * per-cluster distinct-split count is a two-phase aggregate onto the
    * (strategy, cluster) key; the taint bit joins CLUSTER-keyed
    * (Θ(clusters), the same key the aggregate just shuffled on); the
    * report is 2 rows. All-integer counts → exact cross-engine parity. */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val assign = Dedup.stagedLabels(spark, dir)
      .select(col("cluster_id"),
        explode(array(
          struct(lit("doc_hash").as("strategy"),
            gsplitOf(col("doc_id")).as("split")),
          struct(lit("cluster_hash").as("strategy"),
            gsplitOf(col("cluster_id")).as("split")))).as("s"))
      .select(col("cluster_id"),
        col("s.strategy").as("strategy"), col("s.split").as("split"))
    assign
      .groupBy(col("strategy"), col("cluster_id"))
      .agg(countDistinct(col("split")).as("n_splits"))
      .join(clusterTaint(spark, dir), Seq("cluster_id"))
      .groupBy(col("strategy"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(when(col("n_splits") > 1, 1L).otherwise(0L))
          .as("n_straddling"),
        sum(col("tainted")).as("n_tainted"),
        sum(when(col("n_splits") > 1 && col("tainted") === 1, 1L)
          .otherwise(0L)).as("n_tainted_straddling"))
      .orderBy(col("strategy"))
  }

  /** Decontamination over the near-dup closure — the removal policy a
    * production eval-hygiene pass actually ships. [[contamination]] and
    * [[bloomPrefilter]] flag training docs that SHARE GRAMS with the
    * benchmark; but a paraphrased or lightly-edited copy of a flagged
    * doc is just as contaminated and may dodge the gram threshold, so
    * the removal set is closed over the dedup clusters: a training doc
    * is removed when ITS CLUSTER contains a direct gram hit or a
    * benchmark member. Reports, per source, the training-doc count, the
    * direct-hit count, the removed count, the closure's extra removals
    * (cluster-mates the gram join alone would have kept — the docs this
    * operator exists to catch), and the surviving count.
    *
    * Scale shape: the gram join is bloomPrefilter's (map-side sketch
    * prune at 100 TB; exact join decides), the cluster labels come from
    * the staged table ([[Dedup.stagedLabels]]), the taint bit is one
    * map-side-combinable max per cluster, and the final aggregate is
    * |sources|-bounded. Direct hits join back by KEY (they grow with
    * the corpus — never broadcast). All-integer counts → exact parity. */
  /** Benchmark direct-hit set: training docs (doc_id % 50 ≠ 0) sharing
    * ≥1 trigram with a benchmark doc — bloomPrefilter's exact-join
    * decision, shared by [[decontamClosure]] and Corpus.curateV2. */
  private[ops] def directHits(spark: SparkSession, dir: String): DataFrame = {
    val grams = docGrams(spark, dir)
    val bench = grams.filter(col("doc_id") % 50 === 0)
      .select(col("gram")).distinct()
    grams.filter(col("doc_id") % 50 =!= 0)
      .join(bench, Seq("gram"))
      .select(col("doc_id")).distinct()
      .withColumn("is_direct", lit(1L))
  }

  /** Per-cluster taint bit over the staged labels: a cluster is tainted
    * when any member is a direct gram hit OR a benchmark doc — one
    * map-side-combinable MAX per cluster (see [[decontamClosure]] for
    * the scale argument). Shared with Corpus.curateV2. */
  private[graft] def clusterTaint(spark: SparkSession, dir: String): DataFrame =
    Dedup.stagedLabels(spark, dir)
      .select(col("doc_id"), col("cluster_id"))
      .join(directHits(spark, dir), Seq("doc_id"), "left")
      .groupBy(col("cluster_id"))
      .agg(max(when(col("is_direct").isNotNull ||
          col("doc_id") % 50 === 0, 1L).otherwise(0L)).as("tainted"))

  def decontamClosure(spark: SparkSession, dir: String): DataFrame = {
    val labels = Dedup.stagedLabels(spark, dir)
      .select(col("doc_id"), col("cluster_id"))
    val direct = directHits(spark, dir)
    val taint = clusterTaint(spark, dir)
    Tables.t(spark, dir, "documents")
      .select(col("doc_id"), col("source"))
      .filter(col("doc_id") % 50 =!= 0)
      .join(labels, Seq("doc_id"))
      .join(direct, Seq("doc_id"), "left")
      .join(taint, Seq("cluster_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_train"),
        sum(when(col("is_direct").isNotNull, 1L).otherwise(0L))
          .as("n_direct"),
        sum(col("tainted")).as("n_removed"))
      .withColumn("n_closure_extra", col("n_removed") - col("n_direct"))
      .withColumn("n_kept", col("n_train") - col("n_removed"))
      .orderBy(col("source"))
  }

  /** Corpus novelty curve — how much NEW text each slice of the corpus
    * contributes, the measurement behind "does more data still help":
    * a gram is novel for the doc where it FIRST appears (min doc_id —
    * ingestion order here), and each ingestion decile reports the
    * novel fraction of its grams. A healthy growing corpus decays
    * slowly; a scrape looping over the same sites decays to ~0, and
    * this curve is the cheapest way to see that before training on it.
    *
    * Scale shape: first-seen is one map-side-combinable MIN over the
    * gram key (Θ(vocab) output); the grams⋈first_seen join is the same
    * inverted-index shape contamination/tfidf already ship (gram-keyed,
    * AQE-skew-safe); per-doc and per-decile aggregates are map-side
    * combinable, the decile table is 10 rows. N (max id + 1) is a
    * 1-row broadcast. Counts are integers; the one division rounds at
    * 6 dp with the +1e-9 tie-break. */
  def noveltyCurve(spark: SparkSession, dir: String): DataFrame = {
    val grams = docGrams(spark, dir)
    val first = grams.groupBy(col("gram"))
      .agg(min(col("doc_id")).as("first_seen"))
    val perDoc = grams.join(first, Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_seen") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
    val n = Tables.t(spark, dir, "documents")
      .agg((max(col("doc_id")) + 1L).as("n"))
    perDoc.crossJoin(broadcast(n))
      .withColumn("bin",
        floor(col("doc_id") * lit(10.0) / col("n")).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_grams")).as("n_grams"),
        sum(col("n_novel")).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_grams") + 1e-9, 6))
      .orderBy(col("bin"))
  }

  /** Temperature-weighted source mixing — the sampling schedule a
    * multi-source training corpus uses to keep small sources from
    * vanishing (α < 1 flattens the distribution; the mT5/XLM-R
    * convention, here α = 0.3). Per-source counts are one map-side
    * combinable aggregate (|sources| rows); the Σ n_i^α normalizer is a
    * one-row broadcast back over it. expected_docs derives from the
    * ALREADY-6dp-ROUNDED mixing weight (floor(p·budget + 0.5)), so the
    * integer column can never disagree across engines on a pow() ulp. */
  def sourceTemperature(spark: SparkSession, dir: String): DataFrame = {
    val cnt = Tables.t(spark, dir, "documents")
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .withColumn("w", pow(col("n_docs").cast("double"), 0.3))
    val tot = cnt.agg(sum(col("n_docs")).as("tn"), sum(col("w")).as("tw"))
    cnt.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        round(col("n_docs") / col("tn") + 1e-9, 6).as("p_raw"),
        round(col("w") / col("tw") + 1e-9, 6).as("p_temp"))
      .withColumn("expected_docs",
        floor(col("p_temp") * 10000 + 0.5).cast("long"))
      .orderBy(col("source"))
  }

  /** Token-budget epoch planning — the step between sourceTemperature's
    * mixing weights and an actual training run: given a token budget
    * (2× the corpus here — multi-epoch training budgets exceed unique
    * data), each source's temperature share becomes a target token
    * count, and epochs = target / available, CAPPED at 4 (past ~4
    * repetitions additional epochs of the same data stop paying — the
    * data-constrained-scaling rule of thumb), with the capped flag
    * telling the operator which sources are data-bound rather than
    * budget-bound. Weights follow α = 0.3 over TOKEN counts (tokens
    * are the budget's unit; sourceTemperature weights doc counts).
    *
    * Scale: one map-side-combinable per-source aggregate (token counts
    * sum partially; |sources| rows shuffle), a 1-row broadcast
    * normalizer, then pure row-local arithmetic. Determinism: p_temp is
    * 6-dp-rounded BEFORE the target derives from it (absorbing the
    * pow() libm ulp — the sourceTemperature doctrine), target is a
    * half-up-floored integer, and the cap compares the 4-dp-rounded
    * epochs_raw, so no column can disagree on a float boundary. */
  def epochPlan(spark: SparkSession, dir: String): DataFrame = {
    val perSource = Tables.spread(Tables.t(spark, dir, "documents"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(graft.ops.Text.tokens(col("text"))).cast("long"))
          .as("n_tokens"))
      .withColumn("w", pow(col("n_tokens").cast("double"), 0.3))
    val tot = perSource
      .agg(sum(col("n_tokens")).as("tot_tokens"), sum(col("w")).as("tw"))
    perSource.crossJoin(broadcast(tot))
      // +1e-9: deterministic decimal-tie break, see q1Agg
      .withColumn("p_temp", round(col("w") / col("tw") + 1e-9, 6))
      .withColumn("target_tokens",
        floor(col("p_temp") * lit(2.0) * col("tot_tokens") + 0.5)
          .cast("long"))
      .withColumn("epochs_raw",
        round(col("target_tokens").cast("double") / col("n_tokens")
          + 1e-9, 4))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("p_temp"),
        col("target_tokens"),
        least(col("epochs_raw"), lit(4.0)).as("epochs"),
        least(col("target_tokens"), col("n_tokens") * 4L)
          .as("planned_tokens"),
        (col("epochs_raw") > 4.0).as("capped"))
      .orderBy(col("source"))
  }

  /** Binned quantile normalization — every document's length mapped to
    * its SOURCE-relative quantile on a shared global grid, the
    * cross-source score calibration step (a "long doc" means different
    * things on different crawls; the normalized score is comparable).
    * 19 global ventile edges (1-row broadcast, winsorize cut-ulp
    * safety) bin every doc map-side via one shared CASE text; each
    * source's CDF at the 20 bin boundaries is a \|sources\|·20-row
    * table (windows run over THAT, never the corpus) broadcast back
    * onto the binned stream. Integer counts make the CDF engine-exact
    * before the one rounded division. */
  def quantileNorm(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.t(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
    // one bounded-memory grouped-quantile pass (constant group) instead
    // of 19 scalar percentile() buffers — bit-identical edges
    val edges = Relational.exactQuantiles(
        d.select(lit(1).as("_all"), col("n_chars")),
        "_all", "n_chars",
        (1 to 19).map(k => (s"q$k", f"${k / 20.0}%.2f".toDouble)),
        Tables.footerCount(spark, dir, "documents"))
      .drop("_all")
    val binned = d.crossJoin(broadcast(edges))
      .withColumn("bin", expr(qnBinExpr).cast("long"))
      .select(col("doc_id"), col("source"), col("n_chars"), col("bin"))
    val wCum = Window.partitionBy(col("source")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(col("source"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cdf = binned.groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n"))
      .withColumn("q",
        sum(col("n")).over(wCum) / sum(col("n")).over(wTot))
      .select(col("source"), col("bin"), col("q"))
    binned.join(broadcast(cdf), Seq("source", "bin"))
      .select(col("doc_id"), col("source"), col("n_chars"), col("bin"),
        round(col("q") + 1e-9, 6).as("norm_q"))
      .orderBy(col("doc_id"))
  }

  /** Ventile-bin id over the 19 global edges, one shared CASE text for
    * both engines (the psiBinExpr doctrine). */
  private[ops] val qnBinExpr: String = (1 to 19)
    .map(k => s"(CASE WHEN n_chars > q$k THEN 1 ELSE 0 END)")
    .mkString(" + ")

  /** Padding-waste audit — the training-throughput question behind
    * length-bucketed batching: with fixed batch size 8 and per-batch
    * padding to the longest member, how many pad tokens does
    * ARRIVAL-order batching burn vs LENGTH-SORTED batching? Token
    * lengths are the n_chars div 4 estimate capped at 2048 (integer,
    * engine-exact). Both strategies need a global row number — computed
    * with [[Relational.distributedRank]] (range-bucketed parallel
    * sorts, never a single-task window); batch id is rank div 8,
    * per-batch padded cost is max·8, and the strategy rollup is a
    * 2-row table. The sorted strategy's waste fraction is the number a
    * batching scheduler acts on (sort-by-length is the standard fix,
    * and the audit quantifies exactly what it buys). */
  def paddingAudit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.t(spark, dir, "documents")
      .select(col("doc_id"),
        least(expr("n_chars div 4"), lit(2048L)).as("t"))
    def waste(ranked: DataFrame, strategy: String) =
      ranked.withColumn("batch", expr("(rn - 1) div 8"))
        .groupBy(col("batch"))
        .agg(count(lit(1)).as("bn"), sum(col("t")).as("toks"),
             max(col("t")).as("mx"))
        // a partial final batch pads its OWN rows to its max, so the
        // cost is mx·bn, not mx·8
        .withColumn("padded", col("mx") * col("bn"))
        .agg(count(lit(1)).as("n_batches"),
             sum(col("toks")).as("total_tokens"),
             sum(col("padded")).as("padded_tokens"))
        .select(lit(strategy).as("strategy"),
          col("n_batches"), col("total_tokens"), col("padded_tokens"),
          round((col("padded_tokens") - col("total_tokens"))
                  .cast("double") / col("padded_tokens") + 1e-9, 6)
            .as("waste_frac"))
    val sorted = Relational.distributedRank(
      docs.withColumn("tneg", -col("t")), "tneg", asc = true,
      Seq(col("t").desc, col("doc_id")), "rn")
    val arrival = Relational.distributedRank(
      docs.withColumn("did", col("doc_id").cast("double")), "did",
      asc = true, Seq(col("doc_id")), "rn")
    waste(sorted, "sorted").unionByName(waste(arrival, "arrival"))
      .orderBy(col("strategy"))
  }

  /** Dataset card — the release-manifest summary block a published
    * corpus ships with (docs, language/source diversity, length
    * profile, blank and duplicate rates, language entropy), computed in
    * TWO aggregate passes total: one 1-row corpus aggregate (counts,
    * distincts, exact median) and one |langs|-row entropy aggregate,
    * joined by broadcast and unpivoted into the (stat, value) long
    * form. Nothing here is ever wider than one row per statistic, so
    * the card costs two scans at any corpus size (the exact median is
    * the documented approx_percentile swap at 100 TB). */
  def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.t(spark, dir, "documents")
    val a = d.agg(
      count(lit(1)).cast("double").as("n_docs"),
      countDistinct(col("lang")).cast("double").as("n_langs"),
      countDistinct(col("source")).cast("double").as("n_sources"),
      sum(col("n_chars")).cast("double").as("total_chars"),
      avg(col("n_chars")).as("mean_raw"),
      expr("percentile(n_chars, 0.5)").as("p50_raw"),
      sum(when(col("text").isNull || trim(col("text")) === "", 1L)
        .otherwise(0L)).cast("double").as("blanks"),
      countDistinct(md5(coalesce(col("text"), lit(""))))
        .cast("double").as("ndt"))
    val ent = d.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(a.select(col("n_docs").as("nd"))))
      .agg((-sum((col("n") / col("nd")) * log(col("n") / col("nd"))))
        .as("h"))
    def row(name: String, v: org.apache.spark.sql.Column) =
      struct(lit(name).as("stat"), v.as("value"))
    a.crossJoin(broadcast(ent))
      .select(explode(array(
        row("blank_frac", round(col("blanks") / col("n_docs") + 1e-9, 6)),
        row("distinct_text_frac",
            round(col("ndt") / col("n_docs") + 1e-9, 6)),
        row("lang_entropy", round(col("h") + 1e-9, 6)),
        row("mean_chars", round(col("mean_raw") + 1e-9, 4)),
        row("n_docs", col("n_docs")),
        row("n_langs", col("n_langs")),
        row("n_sources", col("n_sources")),
        row("p50_chars", round(col("p50_raw") + 1e-9, 4)),
        row("total_chars", col("total_chars")))).as("s"))
      .select(col("s.stat").as("stat"), col("s.value").as("value"))
      .orderBy(col("stat"))
  }

  /** Contrastive negative sampling — 3 deterministic negatives per
    * anchor document, the pair-generation step a contrastive embedding
    * trainer (or a hard-negative miner) runs over the whole corpus.
    * Negatives come from fixed modular strides over the dense doc-id
    * space (id + j·7919 mod N, j = 1..3): reproducible across engines
    * and runs (no RNG), collision-free per anchor (the strides are
    * distinct mod N), and — the scale point — realized as ONE ordinary
    * key join against the corpus, never a cross join or a per-anchor
    * sample scan. Self-pairs (stride wrapping to the anchor) are
    * dropped. same_lang marks in-batch negatives that are linguistic
    * near-misses — the "hard negative" signal. N is footer metadata. */
  def negativePairs(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.t(spark, dir, "documents")
    val n = d.count()
    d.select(col("doc_id"), col("lang").as("a_lang"),
        explode(typedLit(Seq(1, 2, 3))).as("j"))
      .withColumn("neg_id", (col("doc_id") + col("j") * lit(7919L)) % lit(n))
      .filter(col("neg_id") =!= col("doc_id"))
      .join(d.select(col("doc_id").as("neg_id"), col("lang").as("n_lang")),
            Seq("neg_id"))
      .select(col("doc_id"), col("j"), col("neg_id"),
              (col("a_lang") === col("n_lang")).as("same_lang"))
      .orderBy(col("doc_id"), col("j"))
  }

  /** Z-order clustering audit — the file-layout decision behind
    * multi-dimensional data skipping (Delta/Iceberg OPTIMIZE ZORDER):
    * interleaving the bits of two 8-bit rank keys (customer, order-day)
    * gives every one of 16 z-range files a bounded min-max span on BOTH
    * dimensions (~64/256 each), where a single-dimension sort leaves
    * the other dimension's zone map useless (full 256 span — a scan
    * planner can prune nothing). The audit emits per-file zone maps for
    * both layouts side by side; span arithmetic is pure integers, so
    * the comparison is hash-exact. The z computation itself is the
    * shared [[zExpr]] div/mod SQL text — the SAME string runs in Spark
    * and the oracle, so bit semantics cannot drift. Everything before
    * the 32-group aggregate is a map-side projection. */
  def zorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.t(spark, dir, "orders")
    val rng = o.agg(max(col("o_custkey")).as("maxc"),
                    min(to_date(col("o_orderdate"))).as("mind"),
                    max(to_date(col("o_orderdate"))).as("maxd"))
    val keyed = o.crossJoin(broadcast(rng))
      .withColumn("c8", expr("(o_custkey * 256) div (maxc + 1)"))
      .withColumn("dday",
        datediff(to_date(col("o_orderdate")), col("mind")))
      .withColumn("d8", expr(
        "(CAST(dday AS BIGINT) * 256) div (CAST(datediff(maxd, mind) AS BIGINT) + 1)"))
      .withColumn("z", expr(zExpr))
    val zfiles = keyed
      .withColumn("layout", lit("zorder"))
      .withColumn("file_id", expr("z div 4096"))
    val dfiles = keyed
      .withColumn("layout", lit("bydate"))
      .withColumn("file_id", expr("d8 div 16"))
    zfiles.unionByName(dfiles)
      .groupBy(col("layout"), col("file_id"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("c8")).as("c_lo"), max(col("c8")).as("c_hi"),
        min(col("d8")).as("d_lo"), max(col("d8")).as("d_hi"))
      .withColumn("c_span", col("c_hi") - col("c_lo") + 1)
      .withColumn("d_span", col("d_hi") - col("d_lo") + 1)
      .orderBy(col("layout"), col("file_id"))
  }

  /** 8+8-bit Morton interleave as div/mod arithmetic — no engine bit
    * intrinsics, so the identical text is valid Spark SQL and DuckDB
    * SQL (DuckDB spells integer division `//`; the oracle swaps that
    * token). Even bits carry the date rank, odd bits the customer. */
  private[ops] val zExpr: String = (0 until 8).map { i =>
    val p = 1L << i
    s"((d8 div $p) % 2) * ${1L << (2 * i)} + ((c8 div $p) % 2) * ${1L << (2 * i + 1)}"
  }.mkString(" + ")

  /** Center (chars) of the length-logistic quality classifier — shared
    * by calibrationEce (logistic center) and kappaAgreement (the
    * logistic's 0.5 point as a threshold) and interpolated into both
    * oracles, so retuning the classifier edits exactly one number. */
  private[graft] val QualityConfCenter = 400

  /** Calibration audit (reliability table + expected calibration error)
    * of a cheap length-based quality classifier against the rule
    * ensemble's verdict — the check a pipeline runs before using a
    * scalar "quality score" to THRESHOLD a corpus: a miscalibrated score
    * silently shifts the retention rate. Confidence is a logistic over
    * doc length (center 400 chars, scale 150 — spans the fixture's
    * length range); the outcome is qualityEnsemble's keep bit, REUSED
    * from the operator itself so classifier and referee can't drift.
    *
    * Parity: conf is rounded to 6 dp per doc before binning (bin
    * membership can't flip on an exp() ulp); per-bin means average
    * already-rounded values; ECE folds ≤10 products, rounded at 6 dp.
    *
    * Scale: one doc_id equi-join between two single-scan projections,
    * then a map-side-combinable groupBy onto ≤10 bins; ECE is a second
    * aggregate over the 10-row relation, broadcast back. */
  def calibrationEce(spark: SparkSession, dir: String): DataFrame = {
    val conf = Tables.spread(Tables.t(spark, dir, "documents"))
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        round(lit(1.0) / (lit(1.0) +
            exp((lit(QualityConfCenter) - col("n_chars"))
              .cast("double") / 150.0))
          + 1e-9, 6).as("conf"))
    val outcome = qualityEnsemble(spark, dir)
      .select(col("doc_id"), col("keep"))
    val bins = conf.join(outcome, Seq("doc_id"))
      .withColumn("bin",
        least(floor(col("conf") * 10), lit(9.0)).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
           round(avg(col("conf")), 6).as("mean_conf"),
           round(avg(when(col("keep"), 1.0).otherwise(0.0)), 6)
             .as("frac_keep"))
      .withColumn("abs_gap",
        round(abs(col("mean_conf") - col("frac_keep")) + 1e-9, 6))
    val ece = bins.agg(
      round(sum(col("n") * col("abs_gap")) / sum(col("n")) + 1e-9, 6)
        .as("ece"))
    bins.crossJoin(broadcast(ece))
      .select(col("bin"), col("n"), col("mean_conf"), col("frac_keep"),
              col("abs_gap"), col("ece"))
      .orderBy(col("bin"))
  }

  /** Sequence-length budget planning: for each candidate max-seq-len,
    * how many docs fit untruncated and what fraction of the corpus's
    * tokens survive truncation — the measurement that sizes a training
    * run's context window (too short throws tokens away; too long pays
    * padding, which padding_audit prices). Budgets are powers of two
    * spanning the fixture's length range; the operator shape (multi-
    * budget conditional sums in ONE aggregate pass) is what scales, not
    * the budget list.
    *
    * All counts are integers (exact parity); the two fractions are
    * integer ratios under the +1e-9 decimal-tie doctrine. Scale: a
    * single map-side-combinable aggregate over one scan — no joins, no
    * windows — unpivoted to a fixed 4-row report. */
  def seqlenBudget(spark: SparkSession, dir: String): DataFrame = {
    val budgets = Seq(32L, 64L, 128L, 256L)
    val base = Tables.spread(Tables.t(spark, dir, "documents"))
      .filter(col("text").isNotNull)
      .select(size(Text.tokens(col("text"))).cast("long").as("n_toks"))
    val measures = Seq(
      count(lit(1)).as("n_docs"),
      sum(col("n_toks")).as("total_toks")) ++
      budgets.flatMap { b =>
        Seq(sum(when(col("n_toks") <= b, 1L).otherwise(0L)).as(s"fit_$b"),
            sum(least(col("n_toks"), lit(b))).as(s"kept_$b"))
      }
    val stacked = budgets.map(b =>
      s"CAST($b AS BIGINT), fit_$b, kept_$b").mkString(",\n  ")
    base.agg(measures.head, measures.tail: _*)
      .select(
        expr(s"stack(${budgets.size},\n  $stacked) " +
             "AS (budget, n_docs_fit, toks_kept)"),
        col("n_docs"), col("total_toks"))
      .select(col("budget"), col("n_docs_fit"), col("toks_kept"),
        round(col("n_docs_fit").cast("double") / col("n_docs") + 1e-9, 6)
          .as("frac_docs_fit"),
        round(col("toks_kept").cast("double") / col("total_toks") + 1e-9, 6)
          .as("frac_toks_kept"))
      .orderBy(col("budget"))
  }

  /** Inter-judge agreement (Cohen's kappa) between two independent
    * quality filters — the rule ensemble's keep bit vs a length-threshold
    * classifier (calibration_ece's logistic at its 0.5 point, i.e.
    * n_chars ≥ 400, kept integer-exact). Raw agreement overstates
    * reliability when both judges mostly say "keep"; kappa subtracts the
    * chance-agreement floor, which is the number a labeling pipeline
    * quotes before trusting a cheap filter as a stand-in for the
    * expensive one.
    *
    * Parity: po and pe come from INTEGER confusion counts with exactly
    * one division each — pe's numerator is Σ_v nA_v·nB_v with the
    * marginals promoted to DOUBLE before the product (a BIGINT n²
    * would overflow ANSI-loudly at ~3e9 docs; the IEEE product and the
    * ≤2-term commutative sum are bit-identical in both engines) —
    * never a sum of per-class quotients whose fold order could differ.
    * The degenerate no-variation case (pe = 1) reports kappa 0 by
    * convention instead of dividing by zero, in both engines.
    *
    * Scale: judging is map-side; the only shuffle is a groupBy onto ≤4
    * confusion cells with map-side partials; marginals and kappa run
    * over that relation. One audit row out at any corpus size. */
  def kappaAgreement(spark: SparkSession, dir: String): DataFrame = {
    val ens = qualityEnsemble(spark, dir)
      .select(col("doc_id"), col("keep").as("pred_a"))
    val len = Tables.spread(Tables.t(spark, dir, "documents"))
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
              (col("n_chars") >= QualityConfCenter).as("pred_b"))
    val conf = ens.join(len, Seq("doc_id"))
      .groupBy(col("pred_a"), col("pred_b"))
      .agg(count(lit(1)).as("n"))
    val stats = conf.agg(
      sum(col("n")).as("n_docs"),
      sum(when(col("pred_a") === col("pred_b"), col("n")).otherwise(0L))
        .as("n_agree"))
    val peNum = conf.groupBy(col("pred_a").as("v"))
      .agg(sum(col("n")).as("na"))
      .join(conf.groupBy(col("pred_b").as("v"))
              .agg(sum(col("n")).as("nb")), Seq("v"))
      .agg(coalesce(sum(col("na").cast("double") * col("nb")), lit(0.0))
        .as("pe_num"))
    val po = col("n_agree").cast("double") / col("n_docs")
    val pe = col("pe_num") /
      (col("n_docs").cast("double") * col("n_docs"))
    stats.crossJoin(peNum)
      .select(col("n_docs"), col("n_agree"),
        round(po + 1e-9, 6).as("po"),
        round(pe + 1e-9, 6).as("pe"),
        round(when(pe === 1.0, lit(0.0))
                .otherwise((po - pe) / (lit(1.0) - pe)) + 1e-9, 6)
          .as("kappa"))
  }

  /** Curriculum schedule: docs ranked by a difficulty proxy (token
    * count — the standard short-to-long curriculum) and cut into four
    * difficulty tiers, each reporting its size, token mass, length
    * range, and mean quality-rule pass count — the table a curriculum
    * trainer consumes as its epoch order (tier = epoch).
    *
    * Scale: the global ranking rides `Relational.distributedRank`
    * (range-bucketed parallel sorts + a P-row offset broadcast — never
    * a single-task unpartitioned window over a corpus-sized relation);
    * `ntileFromRank` derives exact ANSI NTILE(4) from the global rank,
    * which is what the oracle's plain NTILE computes. Mean quality is
    * an exact integer ratio (sum/count, one division both engines).
    * The tier aggregate is map-side-combinable onto 4 groups. */
  def curriculumSchedule(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.t(spark, dir, "documents"))
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
              size(Text.tokens(col("text"))).cast("long").as("n_toks"))
    // |docs with text| is a corpus scalar (the bm25 N): computed once
    // per documents content instead of one count job per invocation
    val n = graft.Staged.value(
      graft.Staged.key("doc_text_count", dir, "documents"))(
      Tables.t(spark, dir, "documents").filter(col("text").isNotNull)
        .count())
    val ranked = Relational.distributedRank(
      docs, "n_toks", asc = true,
      Seq(col("n_toks"), col("doc_id")), "rnk")
      .withColumn("tier", Relational.ntileFromRank(col("rnk"), n, 4))
    ranked
      .join(qualityEnsemble(spark, dir)
              .select(col("doc_id"), col("n_passed")), Seq("doc_id"))
      .groupBy(col("tier"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_toks")).as("total_toks"),
           min(col("n_toks")).as("min_toks"),
           max(col("n_toks")).as("max_toks"),
           round(sum(col("n_passed")).cast("double") / count(lit(1))
             + 1e-9, 6).as("mean_quality"))
      .orderBy(col("tier"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "curriculum_schedule" -> (curriculumSchedule _),
    "calibration_ece"  -> (calibrationEce _),
    "kappa_agreement"  -> (kappaAgreement _),
    "seqlen_budget"    -> (seqlenBudget _),
    "source_temperature" -> (sourceTemperature _),
    "epoch_plan"       -> (epochPlan _),
    "zorder_layout"    -> (zorderLayout _),
    "negative_pairs"   -> (negativePairs _),
    "dataset_card"     -> (datasetCard _),
    "padding_audit"    -> (paddingAudit _),
    "quantile_norm"    -> (quantileNorm _),
    "dataset_split"    -> (datasetSplit _),
    "group_split"      -> (groupSplit _),
    "split_leakage"    -> (splitLeakage _),
    "decontam_closure" -> (decontamClosure _),
    "novelty_curve"    -> (noveltyCurve _),
    "shard_manifest"   -> (shardManifest _),
    "doc_shuffle"      -> (docShuffle _),
    "lm_score"         -> (lmScore _),
    "quality_tradeoff" -> (qualityTradeoff _),
    "importance_resample" -> (importanceResample _),
    "quality_ensemble" -> (qualityEnsemble _),
    "doc_pack"         -> (docPack _),
    "repetition_stats" -> (repetitionStats _),
    "pii_scrub"        -> (piiScrub _),
    "contamination"    -> (contamination _),
    "bloom_prefilter"  -> (bloomPrefilter _))

  /** Shared oracle CTE chain (appended after Dedup.duckReachCtes):
    * cluster labels → doc trigrams → benchmark grams → direct hits →
    * per-cluster taint bit. Single source for the decontam_closure
    * oracle AND Corpus's corpus_curate_v2 — a gram or taint rule change
    * edits exactly one string. */
  private[ops] val duckTaintCtes: String =
    """,
      |labels AS (
      |  SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
      |tx AS (
      |  SELECT doc_id, string_split_regex(text, '\s+') AS toks
      |  FROM documents WHERE text IS NOT NULL),
      |g AS (
      |  SELECT doc_id,
      |    unnest(list_distinct(list_transform(range(1, len(toks) - 1),
      |      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])))
      |      AS gram
      |  FROM tx WHERE len(toks) >= 3),
      |b AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
      |direct AS (
      |  SELECT DISTINCT g.doc_id FROM g JOIN b ON g.gram = b.gram
      |  WHERE g.doc_id % 50 <> 0),
      |cl AS (
      |  SELECT l.cluster_id,
      |    MAX(CASE WHEN d.doc_id IS NOT NULL OR l.doc_id % 50 = 0
      |        THEN 1 ELSE 0 END) AS tainted
      |  FROM labels l LEFT JOIN direct d ON l.doc_id = d.doc_id
      |  GROUP BY 1)""".stripMargin

  /** Shared oracle CTE chain for the quality-filter rule stack (signals
    * + per-rule verdicts) — single source for the quality_ensemble and
    * calibration_ece oracles, so a threshold change edits one string. */
  private[graft] val duckQualityCtes: String =
    """WITH t AS (
      |  SELECT doc_id, text, string_split_regex(text, '\s+') AS toks
      |  FROM documents WHERE text IS NOT NULL),
      |s AS (
      |  SELECT doc_id,
      |    len(toks)::BIGINT AS n_toks,
      |    ROUND(CAST(list_aggregate(list_transform(toks, x -> len(x)),
      |        'sum') AS DOUBLE) / len(toks) + 1e-9, 4) AS mean_tok_len,
      |    ROUND(len(list_filter(toks,
      |        x -> x IN ('the', 'a', 'of', 'and')))::DOUBLE
      |      / len(toks) + 1e-9, 4) AS stop_frac,
      |    ROUND(len(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE
      |      / len(text) + 1e-9, 4) AS digit_frac,
      |    ROUND(CASE WHEN len(toks) >= 2 THEN
      |        (len(list_transform(range(1, len(toks)),
      |            i -> toks[i] || ' ' || toks[i + 1]))
      |         - len(list_distinct(list_transform(range(1, len(toks)),
      |            i -> toks[i] || ' ' || toks[i + 1]))))::DOUBLE
      |        / len(list_transform(range(1, len(toks)),
      |            i -> toks[i] || ' ' || toks[i + 1]))
      |      ELSE 0.0 END + 1e-9, 4) AS dup_bigram_frac
      |  FROM t),
      |r AS (
      |  SELECT *,
      |    (n_toks >= 30) AS r_len,
      |    (mean_tok_len >= 3.0 AND mean_tok_len <= 5.0) AS r_wordlen,
      |    (stop_frac >= 0.02) AS r_stop,
      |    (digit_frac <= 0.2) AS r_digit,
      |    (dup_bigram_frac <= 0.1) AS r_rep
      |  FROM s)""".stripMargin

  /** The bigram-LM scoring chain (tokens → top-K vocab + OOV mass →
    * bigram counts) as shared CTE text — lm_score's definition, reused
    * verbatim by the quality_tradeoff oracle so the two cannot drift.
    * Declared ABOVE the oracle map: object vals initialize in order and
    * a forward reference here would read null into every string. */
  private val lmScoreCtes: String =
    """t AS (
      |  SELECT doc_id, string_split_regex(text, '\s+') AS toks
      |  FROM documents WHERE text IS NOT NULL),
      |u AS (
      |  SELECT unnest(toks) AS term FROM t),
      |uc AS (SELECT term, COUNT(*) AS u_cnt FROM u GROUP BY 1),
      |top AS (SELECT term, u_cnt FROM uc
      |        ORDER BY u_cnt DESC, term LIMIT 32768),
      |stats AS (SELECT
      |    (SELECT COUNT(*) FROM top) + 1 AS v,
      |    (SELECT COALESCE(SUM(u_cnt), 0) FROM uc)
      |      - (SELECT COALESCE(SUM(u_cnt), 0) FROM top) AS oov_mass),
      |bg AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(toks)),
      |      i -> toks[i])) AS a,
      |    unnest(list_transform(range(1, len(toks)),
      |      i -> toks[i] || ' ' || toks[i + 1])) AS gram
      |  FROM t WHERE len(toks) >= 2),
      |bc AS (SELECT gram, COUNT(*) AS b_cnt FROM bg GROUP BY 1)""".stripMargin

  val oracle: Map[String, String] = Map(
    "quantile_norm" ->
      s"""WITH edges AS (
         |  SELECT quantile_cont(n_chars, 0.05) AS q1,
         |         quantile_cont(n_chars, 0.10) AS q2,
         |         quantile_cont(n_chars, 0.15) AS q3,
         |         quantile_cont(n_chars, 0.20) AS q4,
         |         quantile_cont(n_chars, 0.25) AS q5,
         |         quantile_cont(n_chars, 0.30) AS q6,
         |         quantile_cont(n_chars, 0.35) AS q7,
         |         quantile_cont(n_chars, 0.40) AS q8,
         |         quantile_cont(n_chars, 0.45) AS q9,
         |         quantile_cont(n_chars, 0.50) AS q10,
         |         quantile_cont(n_chars, 0.55) AS q11,
         |         quantile_cont(n_chars, 0.60) AS q12,
         |         quantile_cont(n_chars, 0.65) AS q13,
         |         quantile_cont(n_chars, 0.70) AS q14,
         |         quantile_cont(n_chars, 0.75) AS q15,
         |         quantile_cont(n_chars, 0.80) AS q16,
         |         quantile_cont(n_chars, 0.85) AS q17,
         |         quantile_cont(n_chars, 0.90) AS q18,
         |         quantile_cont(n_chars, 0.95) AS q19
         |  FROM documents),
         |binned AS (
         |  SELECT doc_id, source, n_chars,
         |         CAST($qnBinExpr AS BIGINT) AS bin
         |  FROM documents, edges),
         |cdf AS (
         |  SELECT source, bin, COUNT(*) AS n FROM binned GROUP BY 1, 2),
         |c2 AS (
         |  SELECT source, bin,
         |    SUM(n) OVER (PARTITION BY source ORDER BY bin
         |                 ROWS UNBOUNDED PRECEDING)
         |      / CAST(SUM(n) OVER (PARTITION BY source) AS DOUBLE) AS q
         |  FROM cdf)
         |SELECT b.doc_id, b.source, b.n_chars, b.bin,
         |       ROUND(c2.q + 1e-9, 6) AS norm_q
         |FROM binned b JOIN c2 ON b.source = c2.source AND b.bin = c2.bin
         |ORDER BY b.doc_id""".stripMargin,
    "padding_audit" ->
      """WITH d AS (
        |  SELECT doc_id, LEAST(n_chars // 4, 2048) AS t FROM documents),
        |s AS (SELECT t, ROW_NUMBER() OVER (ORDER BY t DESC, doc_id)
        |        AS rn FROM d),
        |a AS (SELECT t, ROW_NUMBER() OVER (ORDER BY doc_id) AS rn FROM d),
        |bs AS (
        |  SELECT (rn - 1) // 8 AS batch, COUNT(*) AS bn,
        |         SUM(t) AS toks, MAX(t) AS mx
        |  FROM s GROUP BY 1),
        |ba AS (
        |  SELECT (rn - 1) // 8 AS batch, COUNT(*) AS bn,
        |         SUM(t) AS toks, MAX(t) AS mx
        |  FROM a GROUP BY 1),
        |r AS (
        |  SELECT 'sorted' AS strategy, COUNT(*) AS n_batches,
        |    SUM(toks) AS total_tokens, SUM(mx * bn) AS padded_tokens
        |  FROM bs
        |  UNION ALL
        |  SELECT 'arrival', COUNT(*), SUM(toks), SUM(mx * bn) FROM ba)
        |SELECT strategy, n_batches,
        |  CAST(total_tokens AS BIGINT) AS total_tokens,
        |  CAST(padded_tokens AS BIGINT) AS padded_tokens,
        |  ROUND(CAST(padded_tokens - total_tokens AS DOUBLE)
        |        / padded_tokens + 1e-9, 6) AS waste_frac
        |FROM r ORDER BY strategy""".stripMargin,
    "dataset_card" ->
      """WITH a AS (
        |  SELECT COUNT(*) AS n_docs,
        |    COUNT(DISTINCT lang) AS n_langs,
        |    COUNT(DISTINCT source) AS n_sources,
        |    SUM(n_chars) AS total_chars,
        |    AVG(n_chars) AS mean_raw,
        |    quantile_cont(n_chars, 0.5) AS p50_raw,
        |    SUM(CASE WHEN text IS NULL OR trim(text) = ''
        |             THEN 1 ELSE 0 END) AS blanks,
        |    COUNT(DISTINCT md5(COALESCE(text, ''))) AS ndt
        |  FROM documents),
        |e AS (
        |  SELECT -SUM((n / CAST(nd AS DOUBLE))
        |              * LN(n / CAST(nd AS DOUBLE))) AS h
        |  FROM (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
        |       (SELECT COUNT(*) AS nd FROM documents))
        |SELECT stat, value FROM (
        |  SELECT 'blank_frac' AS stat,
        |    ROUND(blanks / CAST(n_docs AS DOUBLE) + 1e-9, 6) AS value
        |  FROM a
        |  UNION ALL SELECT 'distinct_text_frac',
        |    ROUND(ndt / CAST(n_docs AS DOUBLE) + 1e-9, 6) FROM a
        |  UNION ALL SELECT 'lang_entropy', ROUND(h + 1e-9, 6) FROM e
        |  UNION ALL SELECT 'mean_chars', ROUND(mean_raw + 1e-9, 4) FROM a
        |  UNION ALL SELECT 'n_docs', CAST(n_docs AS DOUBLE) FROM a
        |  UNION ALL SELECT 'n_langs', CAST(n_langs AS DOUBLE) FROM a
        |  UNION ALL SELECT 'n_sources', CAST(n_sources AS DOUBLE) FROM a
        |  UNION ALL SELECT 'p50_chars', ROUND(p50_raw + 1e-9, 4) FROM a
        |  UNION ALL SELECT 'total_chars', CAST(total_chars AS DOUBLE)
        |  FROM a)
        |ORDER BY stat""".stripMargin,
    "negative_pairs" ->
      """WITH n AS (SELECT COUNT(*) AS n FROM documents),
        |a AS (
        |  SELECT doc_id, lang AS a_lang, j
        |  FROM documents, (VALUES (1), (2), (3)) AS t(j)),
        |p AS (
        |  SELECT doc_id, j, (doc_id + j * 7919) % n.n AS neg_id, a_lang
        |  FROM a, n)
        |SELECT p.doc_id, p.j, p.neg_id,
        |       (p.a_lang = d.lang) AS same_lang
        |FROM p JOIN documents d ON d.doc_id = p.neg_id
        |WHERE p.neg_id <> p.doc_id
        |ORDER BY p.doc_id, p.j""".stripMargin,
    "epoch_plan" ->
      """WITH t AS (
        |  SELECT source, COUNT(*)::BIGINT AS n_docs,
        |    CAST(SUM(len(string_split_regex(text, '\s+'))) AS BIGINT)
        |      AS n_tokens
        |  FROM documents GROUP BY source),
        |w AS (SELECT *, POW(n_tokens::DOUBLE, 0.3) AS w FROM t),
        |tot AS (
        |  SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens,
        |         SUM(w) AS tw
        |  FROM w),
        |p AS (
        |  SELECT source, n_docs, n_tokens, tot_tokens,
        |         ROUND(w / tw + 1e-9, 6) AS p_temp
        |  FROM w CROSS JOIN tot),
        |x AS (
        |  SELECT source, n_docs, n_tokens, p_temp,
        |    CAST(FLOOR(p_temp * 2.0 * tot_tokens + 0.5) AS BIGINT)
        |      AS target_tokens
        |  FROM p)
        |SELECT source, n_docs, n_tokens, p_temp, target_tokens,
        |  LEAST(ROUND(target_tokens::DOUBLE / n_tokens + 1e-9, 4), 4.0)
        |    AS epochs,
        |  CAST(LEAST(target_tokens, n_tokens * 4) AS BIGINT)
        |    AS planned_tokens,
        |  (ROUND(target_tokens::DOUBLE / n_tokens + 1e-9, 4) > 4.0)
        |    AS capped
        |FROM x ORDER BY source""".stripMargin,
    "source_temperature" ->
      """WITH c AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |         POW(COUNT(*), 0.3) AS w
        |  FROM documents GROUP BY source),
        |t AS (SELECT SUM(n_docs) AS tn, SUM(w) AS tw FROM c)
        |SELECT source, n_docs,
        |  ROUND(n_docs / tn + 1e-9, 6) AS p_raw,
        |  ROUND(w / tw + 1e-9, 6) AS p_temp,
        |  CAST(FLOOR(ROUND(w / tw + 1e-9, 6) * 10000 + 0.5) AS BIGINT)
        |    AS expected_docs
        |FROM c, t ORDER BY source""".stripMargin,
    // zorder_layout: the interleave is the SAME zExpr text (DuckDB
    // spells integer division `//`), so the bit semantics are shared
    // by construction, not re-derived.
    "zorder_layout" ->
      s"""WITH rng AS (
         |  SELECT MAX(o_custkey) AS maxc,
         |         MIN((o_orderdate::TIMESTAMP)::DATE) AS mind,
         |         MAX((o_orderdate::TIMESTAMP)::DATE) AS maxd
         |  FROM orders),
         |k AS (
         |  SELECT (o_custkey * 256) // (maxc + 1) AS c8,
         |    (CAST(date_diff('day', mind,
         |       (o_orderdate::TIMESTAMP)::DATE) AS BIGINT) * 256)
         |      // (CAST(date_diff('day', mind, maxd) AS BIGINT) + 1) AS d8
         |  FROM orders, rng),
         |z AS (SELECT c8, d8,
         |        ${zExpr.replace(" div ", " // ")} AS z FROM k),
         |f AS (
         |  SELECT 'zorder' AS layout, z // 4096 AS file_id, c8, d8 FROM z
         |  UNION ALL
         |  SELECT 'bydate' AS layout, d8 // 16 AS file_id, c8, d8 FROM z)
         |SELECT layout, file_id, COUNT(*) AS n_rows,
         |  MIN(c8) AS c_lo, MAX(c8) AS c_hi,
         |  MIN(d8) AS d_lo, MAX(d8) AS d_hi,
         |  MAX(c8) - MIN(c8) + 1 AS c_span,
         |  MAX(d8) - MIN(d8) + 1 AS d_span
         |FROM f GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "novelty_curve" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])))
        |      AS gram
        |  FROM t WHERE len(toks) >= 3),
        |fs AS (SELECT gram, MIN(doc_id) AS first_seen FROM g GROUP BY 1),
        |p AS (
        |  SELECT g.doc_id, COUNT(*)::BIGINT AS n_grams,
        |    SUM(CASE WHEN f.first_seen = g.doc_id THEN 1 ELSE 0 END)::BIGINT
        |      AS n_novel
        |  FROM g JOIN fs f ON g.gram = f.gram GROUP BY 1),
        |nn AS (SELECT MAX(doc_id) + 1 AS n FROM documents)
        |SELECT CAST(FLOOR(p.doc_id * 10.0 / nn.n) AS BIGINT) AS bin,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_grams) AS BIGINT) AS n_grams,
        |  CAST(SUM(n_novel) AS BIGINT) AS n_novel,
        |  ROUND(SUM(n_novel)::DOUBLE / SUM(n_grams) + 1e-9, 6) AS novelty
        |FROM p, nn GROUP BY 1 ORDER BY 1""".stripMargin,
    "decontam_closure" ->
      (Dedup.duckReachCtes + duckTaintCtes +
        """,
          |f AS (
          |  SELECT dd.source,
          |    CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_direct,
          |    c.tainted
          |  FROM documents dd
          |    JOIN labels l ON dd.doc_id = l.doc_id
          |    LEFT JOIN direct d ON l.doc_id = d.doc_id
          |    JOIN cl c ON l.cluster_id = c.cluster_id
          |  WHERE l.doc_id % 50 <> 0)
          |SELECT source, COUNT(*) AS n_train,
          |  CAST(SUM(is_direct) AS BIGINT) AS n_direct,
          |  CAST(SUM(tainted) AS BIGINT) AS n_removed,
          |  CAST(SUM(tainted) - SUM(is_direct) AS BIGINT) AS n_closure_extra,
          |  CAST(COUNT(*) - SUM(tainted) AS BIGINT) AS n_kept
          |FROM f GROUP BY 1 ORDER BY 1""".stripMargin),
    "group_split" ->
      (Dedup.duckReachCtes +
        """,
          |labels AS (
          |  SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
          |a AS (
          |  SELECT doc_id, cluster_id, 'doc_hash' AS strategy,
          |    substring(md5('gsplit42|' || CAST(doc_id AS VARCHAR)), 1, 2) AS h
          |  FROM labels
          |  UNION ALL
          |  SELECT doc_id, cluster_id, 'cluster_hash' AS strategy,
          |    substring(md5('gsplit42|' || CAST(cluster_id AS VARCHAR)), 1, 2)
          |  FROM labels),
          |sp AS (
          |  SELECT doc_id, cluster_id, strategy,
          |    CASE WHEN h < 'cc' THEN 'train'
          |         WHEN h < 'e6' THEN 'val' ELSE 'test' END AS split
          |  FROM a),
          |lk AS (
          |  SELECT strategy,
          |    CAST(SUM(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
          |      AS leaked_clusters
          |  FROM (SELECT strategy, cluster_id,
          |          COUNT(DISTINCT split) AS n_splits
          |        FROM sp GROUP BY 1, 2) GROUP BY 1)
          |SELECT s.strategy, s.split, COUNT(*) AS n_docs,
          |  COUNT(DISTINCT s.cluster_id) AS n_clusters,
          |  ANY_VALUE(lk.leaked_clusters) AS leaked_clusters
          |FROM sp s JOIN lk ON s.strategy = lk.strategy
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    "split_leakage" ->
      (Dedup.duckReachCtes + duckTaintCtes +
        """,
          |a AS (
          |  SELECT doc_id, cluster_id, 'doc_hash' AS strategy,
          |    substring(md5('gsplit42|' || CAST(doc_id AS VARCHAR)), 1, 2) AS h
          |  FROM labels
          |  UNION ALL
          |  SELECT doc_id, cluster_id, 'cluster_hash' AS strategy,
          |    substring(md5('gsplit42|' || CAST(cluster_id AS VARCHAR)), 1, 2)
          |  FROM labels),
          |sp AS (
          |  SELECT cluster_id, strategy,
          |    CASE WHEN h < 'cc' THEN 'train'
          |         WHEN h < 'e6' THEN 'val' ELSE 'test' END AS split
          |  FROM a),
          |pc AS (
          |  SELECT strategy, cluster_id, COUNT(DISTINCT split) AS n_splits
          |  FROM sp GROUP BY 1, 2)
          |SELECT pc.strategy, COUNT(*) AS n_clusters,
          |  CAST(SUM(CASE WHEN pc.n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_straddling,
          |  CAST(SUM(c.tainted) AS BIGINT) AS n_tainted,
          |  CAST(SUM(CASE WHEN pc.n_splits > 1 AND c.tainted = 1
          |      THEN 1 ELSE 0 END) AS BIGINT) AS n_tainted_straddling
          |FROM pc JOIN cl c ON pc.cluster_id = c.cluster_id
          |GROUP BY 1 ORDER BY 1""".stripMargin),
    "dataset_split" ->
      """WITH s AS (
        |  SELECT lang, n_chars, doc_id,
        |    substring(md5('split42|' || lang || '|'
        |      || CAST(doc_id AS VARCHAR)), 1, 2) AS h
        |  FROM documents)
        |SELECT lang,
        |  CASE WHEN h < 'cc' THEN 'train'
        |       WHEN h < 'e6' THEN 'val' ELSE 'test' END AS split,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
        |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "shard_manifest" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         md5('shuf|' || CAST(doc_id AS VARCHAR)) AS skey
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, skey,
        |    CAST(('0x' || substring(skey, 1, 2))::INT % 8 AS BIGINT)
        |      AS shard
        |  FROM t),
        |r AS (
        |  SELECT doc_id, shard,
        |    CAST(row_number() OVER (
        |      PARTITION BY shard ORDER BY skey, doc_id) AS BIGINT) AS pos
        |  FROM s),
        |d AS (
        |  SELECT doc_id,
        |         len(string_split_regex(text, '\s+'))::BIGINT AS n_tok
        |  FROM documents WHERE text IS NOT NULL),
        |j AS (
        |  SELECT r.shard, r.pos, r.doc_id,
        |         COALESCE(d.n_tok, 0) AS n_tok
        |  FROM r LEFT JOIN d USING (doc_id)),
        |h AS (
        |  SELECT shard, pos, n_tok,
        |    ('0x' || substring(md5('man|' || CAST(doc_id AS VARCHAR) ||
        |      '|' || CAST(n_tok AS VARCHAR)), 1, 15))::BIGINT AS hv
        |  FROM j)
        |SELECT shard, COUNT(*)::BIGINT AS n_docs,
        |       SUM(n_tok)::BIGINT AS n_tokens,
        |       MAX(pos)::BIGINT AS max_pos,
        |       BIT_XOR(hv)::BIGINT AS checksum
        |FROM h GROUP BY shard ORDER BY shard""".stripMargin,
    "doc_shuffle" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         md5('shuf|' || CAST(doc_id AS VARCHAR)) AS skey
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, skey,
        |    CAST(('0x' || substring(skey, 1, 2))::INT % 8 AS BIGINT)
        |      AS shard
        |  FROM t)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (
        |    PARTITION BY shard ORDER BY skey, doc_id) AS BIGINT) AS pos
        |FROM s ORDER BY shard, pos""".stripMargin,
    "quality_ensemble" ->
      s"""$duckQualityCtes
        |SELECT doc_id, n_toks, mean_tok_len, stop_frac, digit_frac,
        |  dup_bigram_frac, r_len, r_wordlen, r_stop, r_digit, r_rep,
        |  (CASE WHEN r_len THEN 1 ELSE 0 END
        |   + CASE WHEN r_wordlen THEN 1 ELSE 0 END
        |   + CASE WHEN r_stop THEN 1 ELSE 0 END
        |   + CASE WHEN r_digit THEN 1 ELSE 0 END
        |   + CASE WHEN r_rep THEN 1 ELSE 0 END)::BIGINT AS n_passed,
        |  (r_len AND r_wordlen AND r_stop AND r_digit AND r_rep) AS keep
        |FROM r ORDER BY doc_id""".stripMargin,
    "calibration_ece" ->
      s"""$duckQualityCtes,
        |k AS (
        |  SELECT doc_id, (r_len AND r_wordlen AND r_stop AND r_digit
        |                  AND r_rep) AS keep
        |  FROM r),
        |c AS (
        |  SELECT doc_id,
        |    ROUND(1.0 / (1.0 + exp(($QualityConfCenter - n_chars)
        |                            / 150.0)) + 1e-9, 6)
        |      AS conf
        |  FROM documents WHERE text IS NOT NULL),
        |j AS (
        |  SELECT c.conf, k.keep,
        |    CAST(least(floor(c.conf * 10), 9) AS BIGINT) AS bin
        |  FROM c JOIN k USING (doc_id)),
        |bins AS (
        |  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
        |    ROUND(AVG(conf), 6) AS mean_conf,
        |    ROUND(AVG(CASE WHEN keep THEN 1.0 ELSE 0.0 END), 6)
        |      AS frac_keep
        |  FROM j GROUP BY 1),
        |b2 AS (
        |  SELECT *, ROUND(abs(mean_conf - frac_keep) + 1e-9, 6) AS abs_gap
        |  FROM bins),
        |e AS (
        |  SELECT ROUND(SUM(n * abs_gap) / SUM(n) + 1e-9, 6) AS ece
        |  FROM b2)
        |SELECT bin, n, mean_conf, frac_keep, abs_gap, ece
        |FROM b2 CROSS JOIN e ORDER BY bin""".stripMargin,
    "curriculum_schedule" ->
      s"""$duckQualityCtes,
        |np AS (
        |  SELECT doc_id, n_toks,
        |    (CASE WHEN r_len THEN 1 ELSE 0 END
        |     + CASE WHEN r_wordlen THEN 1 ELSE 0 END
        |     + CASE WHEN r_stop THEN 1 ELSE 0 END
        |     + CASE WHEN r_digit THEN 1 ELSE 0 END
        |     + CASE WHEN r_rep THEN 1 ELSE 0 END)::BIGINT AS n_passed
        |  FROM r),
        |nt AS (
        |  SELECT doc_id, n_toks, n_passed,
        |    CAST(NTILE(4) OVER (ORDER BY n_toks, doc_id) AS BIGINT)
        |      AS tier
        |  FROM np)
        |SELECT tier, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_toks) AS BIGINT) AS total_toks,
        |  MIN(n_toks) AS min_toks, MAX(n_toks) AS max_toks,
        |  ROUND(CAST(SUM(n_passed) AS DOUBLE) / COUNT(*) + 1e-9, 6)
        |    AS mean_quality
        |FROM nt GROUP BY tier ORDER BY tier""".stripMargin,
    "kappa_agreement" ->
      s"""$duckQualityCtes,
        |ka AS (
        |  SELECT doc_id, (r_len AND r_wordlen AND r_stop AND r_digit
        |                  AND r_rep) AS pred_a
        |  FROM r),
        |kb AS (
        |  SELECT doc_id, (n_chars >= $QualityConfCenter) AS pred_b
        |  FROM documents WHERE text IS NOT NULL),
        |conf AS (
        |  SELECT pred_a, pred_b, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM ka JOIN kb USING (doc_id) GROUP BY 1, 2),
        |st AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
        |    CAST(SUM(CASE WHEN pred_a = pred_b THEN n ELSE 0 END)
        |         AS BIGINT) AS n_agree
        |  FROM conf),
        |pn AS (
        |  SELECT COALESCE(SUM(CAST(na AS DOUBLE) * nb), 0.0) AS pe_num
        |  FROM (SELECT pred_a AS v, SUM(n) AS na FROM conf GROUP BY 1) x
        |  JOIN (SELECT pred_b AS v, SUM(n) AS nb FROM conf GROUP BY 1) y
        |    USING (v))
        |SELECT n_docs, n_agree,
        |  ROUND(CAST(n_agree AS DOUBLE) / n_docs + 1e-9, 6) AS po,
        |  ROUND(pe_num / (CAST(n_docs AS DOUBLE) * n_docs) + 1e-9, 6)
        |    AS pe,
        |  ROUND(CASE
        |      WHEN pe_num / (CAST(n_docs AS DOUBLE) * n_docs) = 1.0
        |        THEN 0.0
        |      ELSE (CAST(n_agree AS DOUBLE) / n_docs
        |            - pe_num / (CAST(n_docs AS DOUBLE) * n_docs))
        |           / (1.0 - pe_num / (CAST(n_docs AS DOUBLE) * n_docs))
        |      END + 1e-9, 6) AS kappa
        |FROM st CROSS JOIN pn""".stripMargin,
    "seqlen_budget" ->
      """WITH t AS (
        |  SELECT len(string_split_regex(text, '\s+'))::BIGINT AS n_toks
        |  FROM documents WHERE text IS NOT NULL),
        |a AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |         CAST(SUM(n_toks) AS BIGINT) AS total_toks,
        |         CAST(SUM(CASE WHEN n_toks <= 32 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS fit_32,
        |         CAST(SUM(least(n_toks, 32)) AS BIGINT) AS kept_32,
        |         CAST(SUM(CASE WHEN n_toks <= 64 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS fit_64,
        |         CAST(SUM(least(n_toks, 64)) AS BIGINT) AS kept_64,
        |         CAST(SUM(CASE WHEN n_toks <= 128 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS fit_128,
        |         CAST(SUM(least(n_toks, 128)) AS BIGINT) AS kept_128,
        |         CAST(SUM(CASE WHEN n_toks <= 256 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS fit_256,
        |         CAST(SUM(least(n_toks, 256)) AS BIGINT) AS kept_256
        |  FROM t)
        |SELECT budget, n_docs_fit, toks_kept,
        |  ROUND(CAST(n_docs_fit AS DOUBLE) / n_docs + 1e-9, 6)
        |    AS frac_docs_fit,
        |  ROUND(CAST(toks_kept AS DOUBLE) / total_toks + 1e-9, 6)
        |    AS frac_toks_kept
        |FROM (
        |  SELECT CAST(32 AS BIGINT) AS budget, fit_32 AS n_docs_fit,
        |         kept_32 AS toks_kept, n_docs, total_toks FROM a
        |  UNION ALL SELECT 64, fit_64, kept_64, n_docs, total_toks FROM a
        |  UNION ALL SELECT 128, fit_128, kept_128, n_docs, total_toks
        |    FROM a
        |  UNION ALL SELECT 256, fit_256, kept_256, n_docs, total_toks
        |    FROM a)
        |ORDER BY budget""".stripMargin,
    "importance_resample" ->
      """WITH t AS (
        |  SELECT doc_id, (doc_id % 50 = 0) AS is_target,
        |    string_split_regex(text, '\s+') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |tok AS (
        |  SELECT doc_id, is_target,
        |    unnest(list_transform(toks,
        |      x -> ('0x' || substring(md5(x), 1, 2))::INT % 64)) AS b
        |  FROM t),
        |m AS (
        |  SELECT b,
        |    CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT)
        |      AS t_cnt,
        |    CAST(SUM(CASE WHEN NOT is_target THEN 1 ELSE 0 END) AS BIGINT)
        |      AS r_cnt
        |  FROM tok GROUP BY 1),
        |tot AS (
        |  SELECT CAST(COALESCE(SUM(t_cnt), 0) AS BIGINT) AS tt,
        |         CAST(COALESCE(SUM(r_cnt), 0) AS BIGINT) AS rt
        |  FROM m),
        |lam AS (
        |  SELECT b,
        |    ln((t_cnt + 1.0) / (tt + 64.0))
        |      - ln((r_cnt + 1.0) / (rt + 64.0)) AS lam
        |  FROM m CROSS JOIN tot),
        |scored AS (
        |  SELECT doc_id, COUNT(*)::BIGINT AS n_toks,
        |    ROUND(SUM(lam) + 1e-9, 4) AS weight
        |  FROM tok JOIN lam USING (b)
        |  WHERE NOT is_target GROUP BY doc_id),
        |cut AS (SELECT ROUND(AVG(weight) + 1e-9, 4) AS w_cut FROM scored)
        |SELECT doc_id, n_toks, weight, (weight > w_cut) AS kept
        |FROM scored CROSS JOIN cut ORDER BY doc_id""".stripMargin,
    "lm_score" ->
      s"""WITH $lmScoreCtes
        |SELECT doc_id, COUNT(*)::BIGINT AS n_bigrams,
        |  ROUND(AVG(ln((b_cnt + 1.0)
        |    / (COALESCE(top.u_cnt, stats.oov_mass) + stats.v))) + 1e-9, 4)
        |    AS avg_logp
        |FROM bg
        |JOIN bc USING (gram)
        |LEFT JOIN top ON bg.a = top.term
        |CROSS JOIN stats
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "quality_tradeoff" ->
      s"""WITH $lmScoreCtes,
        |score AS (
        |  SELECT doc_id,
        |    ROUND(AVG(ln((b_cnt + 1.0)
        |      / (COALESCE(top.u_cnt, stats.oov_mass) + stats.v))) + 1e-9, 4)
        |      AS avg_logp
        |  FROM bg
        |  JOIN bc USING (gram)
        |  LEFT JOIN top ON bg.a = top.term
        |  CROSS JOIN stats
        |  GROUP BY doc_id),
        |nt AS (
        |  SELECT doc_id,
        |         len(string_split_regex(text, '\\s+'))::BIGINT AS n_tokens
        |  FROM documents WHERE text IS NOT NULL),
        |d AS (
        |  SELECT s.doc_id, s.avg_logp, nt.n_tokens
        |  FROM score s JOIN nt USING (doc_id)),
        |edges AS (
        |  SELECT ROUND(quantile_cont(avg_logp, 0.1) + 1e-9, 6) AS e1,
        |         ROUND(quantile_cont(avg_logp, 0.2) + 1e-9, 6) AS e2,
        |         ROUND(quantile_cont(avg_logp, 0.3) + 1e-9, 6) AS e3,
        |         ROUND(quantile_cont(avg_logp, 0.4) + 1e-9, 6) AS e4,
        |         ROUND(quantile_cont(avg_logp, 0.5) + 1e-9, 6) AS e5,
        |         ROUND(quantile_cont(avg_logp, 0.6) + 1e-9, 6) AS e6,
        |         ROUND(quantile_cont(avg_logp, 0.7) + 1e-9, 6) AS e7,
        |         ROUND(quantile_cont(avg_logp, 0.8) + 1e-9, 6) AS e8,
        |         ROUND(quantile_cont(avg_logp, 0.9) + 1e-9, 6) AS e9
        |  FROM d),
        |binned AS (
        |  SELECT CAST($qtBinExpr AS BIGINT) AS bin, n_tokens, avg_logp
        |  FROM d, edges),
        |g AS (
        |  SELECT bin, COUNT(*)::BIGINT AS n_docs,
        |         SUM(n_tokens)::BIGINT AS n_tokens,
        |         ROUND(MIN(avg_logp), 4) AS bin_floor
        |  FROM binned GROUP BY bin),
        |f AS (
        |  SELECT *,
        |    (SUM(n_docs) OVER (ORDER BY bin DESC
        |       ROWS UNBOUNDED PRECEDING))::BIGINT AS docs_kept,
        |    (SUM(n_tokens) OVER (ORDER BY bin DESC
        |       ROWS UNBOUNDED PRECEDING))::BIGINT AS tokens_kept
        |  FROM g)
        |SELECT bin, bin_floor, n_docs, n_tokens, docs_kept, tokens_kept,
        |  ROUND(docs_kept / CAST(SUM(n_docs) OVER () AS DOUBLE) + 1e-9, 6)
        |    AS docs_frac,
        |  ROUND(tokens_kept / CAST(SUM(n_tokens) OVER () AS DOUBLE)
        |        + 1e-9, 6) AS tokens_frac
        |FROM f ORDER BY bin""".stripMargin,
    "doc_pack" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    len(string_split_regex(text, '\s+'))::BIGINT AS n_tokens,
        |    (doc_id // 200)::BIGINT AS shard
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (
        |  SELECT doc_id, lang, shard, n_tokens,
        |    (SUM(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
        |       ROWS UNBOUNDED PRECEDING) - n_tokens)::BIGINT AS tok_offset
        |  FROM t)
        |SELECT doc_id, lang, shard, n_tokens, tok_offset,
        |  (tok_offset // 2048)::BIGINT AS pack_id,
        |  (ROW_NUMBER() OVER (PARTITION BY lang, shard, tok_offset // 2048
        |     ORDER BY doc_id))::BIGINT AS pack_pos
        |FROM c ORDER BY doc_id""".stripMargin,
    "repetition_stats" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(toks)),
        |      i -> toks[i] || ' ' || toks[i + 1])) AS gram
        |  FROM t WHERE len(toks) >= 2),
        |c AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2),
        |a AS (
        |  SELECT doc_id, SUM(cnt)::BIGINT AS n_grams,
        |         MAX(cnt)::BIGINT AS top_cnt, COUNT(*)::BIGINT AS n_distinct
        |  FROM c GROUP BY 1)
        |SELECT doc_id, n_grams,
        |  ROUND(top_cnt::DOUBLE / n_grams + 1e-9, 4) AS top_frac,
        |  ROUND((n_grams - n_distinct)::DOUBLE / n_grams + 1e-9, 4) AS dup_frac
        |FROM a ORDER BY doc_id""".stripMargin,
    "pii_scrub" ->
      """SELECT c_custkey,
        |  regexp_replace(c_name, '[0-9]+', '<ID>', 'g') AS scrubbed,
        |  len(regexp_extract_all(c_name, '[0-9]+'))::BIGINT AS n_redacted
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "contamination" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))) AS gram
        |  FROM t WHERE len(toks) >= 3),
        |b AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
        |a AS (
        |  SELECT g.doc_id, COUNT(*)::BIGINT AS n_grams,
        |         SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
        |           AS n_hit
        |  FROM g LEFT JOIN b ON g.gram = b.gram
        |  GROUP BY 1)
        |SELECT doc_id, doc_id % 50 = 0 AS is_benchmark, n_grams, n_hit,
        |  ROUND(n_hit::DOUBLE / n_grams + 1e-9, 4) AS contamination
        |FROM a ORDER BY doc_id""".stripMargin,
    // the bloom is a prefilter only — the exact-join result it feeds is
    // what the oracle states (no sketch semantics leak into the answer)
    "bloom_prefilter" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))) AS gram
        |  FROM t WHERE len(toks) >= 3),
        |b AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0)
        |SELECT g.doc_id, COUNT(*)::BIGINT AS n_hit
        |FROM g JOIN b ON g.gram = b.gram
        |WHERE g.doc_id % 50 <> 0
        |GROUP BY g.doc_id
        |ORDER BY g.doc_id""".stripMargin)
}
