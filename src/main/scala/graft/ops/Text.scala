package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Text-analysis operators over `documents` (SURVEY.md §2.11 X4 + the
  * training-data-pipeline surface): token statistics, quality scoring,
  * n-gram-heuristic language ID, regex (BPE-ish) token counting, and
  * document fingerprinting.
  *
  * Everything is per-row Column expressions (higher-order array functions,
  * no UDFs) — embarrassingly parallel, zero shuffles except the final
  * presentation sort, so it scales linearly with input splits at 100 TB.
  */
object Text {

  /** Whitespace tokenization shared by all operators. */
  def tokens(c: Column): Column = split(c, "\\s+")

  /** Token statistics: counts, distinct counts, type-token ratio, mean
    * token length. */
  def textStats(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.t(spark, dir, "documents"))
      .withColumn("toks", tokens(col("text")))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
        // +1e-9: integer-ratio outputs hit true decimal ties where engine
        // tie-break rules differ — deterministic upward break, see
        // Relational.q1Agg for the safety argument.
        round(size(array_distinct(col("toks"))).cast("double") /
              size(col("toks")) + 1e-9, 4).as("ttr"),
        round(aggregate(transform(col("toks"), t => length(t)),
                        lit(0), (a, x) => a + x).cast("double") /
              size(col("toks")) + 1e-9, 4).as("avg_token_len"))
      .orderBy(col("doc_id"))

  /** Quality scoring: stopword ratio, punctuation ratio, and a composite
    * quality score in [0,1] — the usual cheap pre-LLM filter features. */
  def textQuality(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.t(spark, dir, "documents"))
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("stop_ratio",
        round(size(filter(col("toks"), t => t.isin("the", "a", "of", "and")))
          .cast("double") / col("n_tokens") + 1e-9, 4))
      .withColumn("punct_ratio",
        round(length(regexp_replace(col("text"), "[a-z0-9\\s]", ""))
          .cast("double") / length(col("text")) + 1e-9, 4))
      .select(col("doc_id"), col("n_tokens"), col("stop_ratio"),
              col("punct_ratio"),
        round((lit(1.0) - col("punct_ratio")) *
              least(lit(1.0), col("n_tokens") / lit(100.0)) + 1e-9, 4)
          .as("quality"))
      .orderBy(col("doc_id"))

  /** Marker lists for langId, factored for reuse by future labelers. */
  private[ops] val LangMarkers = Seq(
    "en" -> Seq("the", "a", "of", "and"),
    "de" -> Seq("der", "die", "und", "ist"),
    "es" -> Seq("el", "la", "los", "que"),
    "fr" -> Seq("le", "les", "des", "est"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4"))

  /** N-gram/stopword-heuristic language ID: per-language marker-token hit
    * counts, argmax with a fixed priority order (deterministic, SQL-
    * expressible in the oracle). Marker lists are tiny — the operator shape
    * (score fan-out + argmax) is what scales, not the lists. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val markers = LangMarkers
    val base = Tables.spread(Tables.t(spark, dir, "documents"))
      .withColumn("toks", tokens(col("text")))
    val scored = markers.foldLeft(base) { case (d, (l, ws)) =>
      d.withColumn(s"hits_$l",
        size(filter(col("toks"), t => t.isin(ws.map(lit(_)): _*)))
          .cast("long"))
    }
    val Seq(en, de, es, fr, zh) =
      markers.map { case (l, _) => col(s"hits_$l") }
    scored.select(col("doc_id"), col("lang"),
        en.as("hits_en"), de.as("hits_de"), es.as("hits_es"),
        fr.as("hits_fr"), zh.as("hits_zh"),
        when(en >= de && en >= es && en >= fr && en >= zh, "en")
          .when(de >= es && de >= fr && de >= zh, "de")
          .when(es >= fr && es >= zh, "es")
          .when(fr >= zh, "fr")
          .otherwise("zh").as("pred_lang"))
      .orderBy(col("doc_id"))
  }

  /** Confusion matrix of the lang_id heuristic against the ground-truth
    * lang column — the evaluation loop that belongs next to every
    * classifier-style signal (ann_recall and cluster_purity are the
    * embedding-side precedents). Per (actual, predicted) cell: count and
    * row-normalized rate; plus each cell flags whether it sits on the
    * diagonal. The matrix aggregate is ≤ |langs|² rows at any corpus
    * size; the rate window runs over that aggregate. */
  def langConfusion(spark: SparkSession, dir: String): DataFrame = {
    val cells = langId(spark, dir)
      .groupBy(col("lang").as("actual"), col("pred_lang").as("predicted"))
      .agg(count(lit(1)).as("n"))
    cells
      .withColumn("rate", round(
        col("n") / sum(col("n")).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("actual"))) + 1e-9, 6))
      .withColumn("is_correct", col("actual") === col("predicted"))
      .orderBy(col("actual"), col("predicted"))
  }

  /** BPE-ish regex token counting: alpha runs, digit runs, other symbols —
    * the shape of a byte-pair pre-tokenizer's word splitter. */
  def tokenRegex(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.t(spark, dir, "documents"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0)))
          .cast("long").as("n_alpha"),
        size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0)))
          .cast("long").as("n_num"),
        size(regexp_extract_all(col("text"), lit("[^a-z0-9\\s]"), lit(0)))
          .cast("long").as("n_other"))
      .orderBy(col("doc_id"))

  /** Document fingerprint: md5 over whitespace-normalized lowercase text —
    * the exact-dedup key (X1's hash) exposed as its own operator. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.t(spark, dir, "documents"))
      .select(col("doc_id"),
        md5(lower(regexp_replace(col("text"), "\\s+", " ")).cast("binary"))
          .as("fp"))
      .orderBy(col("doc_id"))

  /** Text normalization (the pre-tokenization cleaner every LLM-data
    * pipeline runs first): lowercase → strip non-alphanumerics →
    * collapse whitespace → trim, plus the post-clean token count. Pure
    * codegen'd string expressions, map-only. */
  def textClean(spark: SparkSession, dir: String): DataFrame = {
    val clean = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    Tables.spread(Tables.t(spark, dir, "documents"))
      .select(col("doc_id"), clean.as("clean"),
              size(split(clean, " ")).cast("long").as("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Token-distribution Shannon entropy per document — the information-
    * density quality signal (near-zero entropy = repeated-token spam;
    * high entropy at short length = gibberish). Computed ARRAY-LOCALLY
    * with higher-order functions: per row O(distinct × tokens) over its
    * own array, no explode, no shuffle — the per-doc twin of the
    * corpus-level term statistics. The distinct-token iteration order is
    * SORTED so the float accumulation order is identical in both engines
    * (unordered distinct sets would differ at ulp level between Spark
    * and the oracle). */
  def tokenEntropy(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.t(spark, dir, "documents"))
      .filter(col("text").isNotNull)
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        round(expr(
          """-aggregate(
            |  transform(array_sort(array_distinct(toks)),
            |    t -> size(filter(toks, x -> x = t))
            |           / cast(size(toks) as double)),
            |  0D, (acc, p) -> acc + p * ln(p)) + 1e-9""".stripMargin), 4)
          .as("entropy"))
      .orderBy(col("doc_id"))

  /** Token-id encoding against a corpus-derived vocabulary — the final
    * text→training-input step (tokenize → count → pack → shuffle →
    * ENCODE): vocabulary = the 1024 most frequent tokens (count desc,
    * token asc — a deterministic total order, so the id assignment is
    * engine-independent), ids 1..1024, out-of-vocabulary → 0. Output per
    * document: token count, OOV count, and the id sequence (space-joined
    * for cross-engine comparison).
    *
    * Scale: vocabulary selection is a map-side-combinable term count
    * ending in a bounded top-k (TakeOrderedAndProject — k=1024 rows,
    * a MODEL PARAMETER like the IVF codebook, whatever the corpus size);
    * the id window runs on those 1024 rows only. Encoding is one
    * broadcast left join on the exploded token stream and one doc_id
    * re-aggregation — Θ(tokens) with no hot key (the shuffle key is
    * doc_id, never the token). */
  def tokenEncode(spark: SparkSession, dir: String): DataFrame = {
    val k = 1024
    val toks = Tables.spread(Tables.t(spark, dir, "documents"))
      .filter(col("text").isNotNull)
      .select(col("doc_id"), posexplode(tokens(col("text"))))
      .withColumnRenamed("col", "term")
    val order = Window.orderBy(col("cnt").desc, col("term"))
    val vocab = toks.groupBy(col("term"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term")).limit(k)
      .withColumn("id", row_number().over(order).cast("long"))
      .select(col("term"), col("id"))
    toks.join(broadcast(vocab), Seq("term"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("id").isNull, 1L).otherwise(0L)).as("n_oov"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"),
            coalesce(col("id"), lit(0L)).as("id")))),
          x => x("id").cast("string")), " ").as("ids_str"))
      .orderBy(col("doc_id"))
  }

  /** Sentence segmentation + per-sentence length stats — the NLP
    * preprocessing step between raw text and tokenization: split on
    * sentence-ending punctuation runs followed by whitespace, then
    * count/profile sentences ENTIRELY array-locally (split → filter →
    * transform → aggregate higher-order chain, zero data shuffles; the
    * only exchange is the presentation sort). The final sentence keeps
    * its terminal punctuation (no trailing separator to split on) —
    * stated so the oracle encodes the same convention. */
  def sentStats(spark: SparkSession, dir: String): DataFrame = {
    val sents = filter(
      split(col("text"), "[.!?]+\\s+"), s => trim(s) =!= "")
    val toks = transform(sents, s => size(split(trim(s), "\\s+")))
    Tables.spread(Tables.t(spark, dir, "documents"))
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        size(sents).cast("long").as("n_sents"),
        when(size(sents) > 0, round(
          aggregate(toks, lit(0L), (acc, x) => acc + x)
            / size(sents).cast("double") + 1e-9, 4)).as("avg_sent_toks"),
        when(size(sents) > 0, array_max(toks).cast("long"))
          .as("max_sent_toks"))
      .orderBy(col("doc_id"))
  }

  /** RAG-style overlapping chunking: fixed 200-char windows every 150
    * chars (50-char overlap keeps a sentence split across a boundary
    * recoverable from the next chunk). Start offsets come from a
    * sequence() the doc's own length bounds, so the whole operator is a
    * map-side explode + substring projection — zero shuffles before the
    * presentation sort, and each output row carries the chunk's md5
    * prefix, not the text, so downstream chunk-level dedup/shuffle
    * ships 8-char digests (the mm_dedup doctrine applied to text).
    * Char-position chunking (not token) is deliberate: it needs no
    * vocabulary and is reproducible across engines byte-for-byte. */
  def textChunks(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.t(spark, dir, "documents"))
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1), greatest(length(col("text")), lit(1)),
                         lit(150))).as("start"))
      .select(col("doc_id"),
        ((col("start") - 1) / 150).cast("long").as("chunk_id"),
        col("text").substr(col("start"), lit(200)).as("chunk"))
      .select(col("doc_id"), col("chunk_id"),
        length(col("chunk")).cast("long").as("chunk_chars"),
        substring(md5(col("chunk")), 1, 8).as("fp8"))
      .orderBy(col("doc_id"), col("chunk_id"))

  /** Flesch-style readability per document — the quality heuristic a
    * curation funnel adds next to length/stopword ratios. Syllables
    * are vowel RUNS per word (the standard cheap estimator), clamped
    * at ≥1 so vowel-less tokens ("7", "—") count one; sentences reuse
    * sent_stats' splitter, clamped at ≥1 for fragment docs so the
    * formula is total. The whole operator is array-local higher-order
    * functions over the tokens of one row — zero shuffles; both
    * engines evaluate the same regexes and the same literal formula,
    * with +1e-9 before the 4dp round (decimal-tie doctrine). */
  def readability(spark: SparkSession, dir: String): DataFrame = {
    val words = filter(tokens(col("text")), w => w =!= "")
    val sents = filter(split(col("text"), "[.!?]+\\s+"), s => trim(s) =!= "")
    Tables.spread(Tables.t(spark, dir, "documents"))
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        size(words).cast("long").as("n_words"),
        greatest(size(sents), lit(1)).cast("long").as("n_sents"),
        aggregate(
          transform(words,
            w => greatest(regexp_count(w, lit("[aeiouyAEIOUY]+")), lit(1))),
          lit(0L), (acc, x) => acc + x).as("n_syll"))
      .withColumn("flesch",
        when(col("n_words") > 0, round(
          lit(206.835)
            - lit(1.015) * (col("n_words").cast("double") / col("n_sents"))
            - lit(84.6) * (col("n_syll").cast("double") / col("n_words"))
            + 1e-9, 4)))
      .orderBy(col("doc_id"))
  }

  /** Number of BPE merge rounds learned by bpeMerges — fixed and unrolled
    * (the pagerank/kcore fixed-iteration stance), so the oracle can state
    * each round as its own CTE block and the learned table is a bounded,
    * reproducible artifact. */
  private[graft] val BpeRounds = 6

  /** BPE's working vocabulary: word types as character arrays with
    * corpus frequencies — the ONE corpus-sized pass (map-side-combinable
    * word count); every merge round after it is Θ(types). The word key
    * rides along so the final vocab doubles as the ENCODING table
    * (word → merged symbols) bpeEncode joins the corpus against. */
  private[graft] def bpeVocab(docs: DataFrame): DataFrame =
    docs
      .filter(col("text").isNotNull)
      .select(explode(
        expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(col("word"), split(col("word"), "").as("syms"), col("freq"))

  /** One round's pair-count relation: adjacent symbol pairs of every
    * vocab word, weighted by word frequency (overlapping occurrences
    * counted, the textbook Counter semantics — "aaa" holds (a,a) twice).
    * Pairs form ARRAY-LOCALLY per word (no explode-join), and the count
    * is a map-side-combinable aggregate — Θ(word types) rows shuffle,
    * never the corpus. */
  private[graft] def bpePairCounts(vocab: DataFrame): DataFrame =
    vocab
      .filter(size(col("syms")) > 1)
      .select(col("freq"), explode(
        transform(sequence(lit(1), size(col("syms")) - 1), i =>
          struct(element_at(col("syms"), i).as("l"),
                 element_at(col("syms"), i + 1).as("r")))).as("p"))
      .groupBy(col("p")("l").as("lhs"), col("p")("r").as("rhs"))
      .agg(sum(col("freq")).as("cnt"))

  /** Greedy left-to-right application of one merge (l, r) to a symbol
    * array — the sequential dependency (a merged pair consumes its right
    * symbol, so overlapping matches resolve left-first: "aaa" under
    * (a,a) → [aa, a]) is a fold with O(1) carried state (did the
    * previous position merge?), run entirely array-locally. */
  private def bpeApply(syms: Column, l: String, r: String): Column =
    aggregate(
      sequence(lit(1), size(syms)),
      struct(array().cast("array<string>").as("out"),
             lit(false).as("skip")),
      (acc, i) => {
        val cur = element_at(syms, i)
        val nxt = try_element_at(syms, i + 1)
        when(acc("skip"),
          struct(acc("out").as("out"), lit(false).as("skip")))
        .when(cur === lit(l) && nxt.isNotNull && nxt === lit(r),
          struct(concat(acc("out"), array(lit(l + r))).as("out"),
                 lit(true).as("skip")))
        .otherwise(
          struct(concat(acc("out"), array(cur)).as("out"),
                 lit(false).as("skip")))
      },
      acc => acc("out"))

  /** BPE-style merge learning — the step that completes the tokenizer
    * family's tokenize → count → LEARN → encode arc (token_encode ranks
    * a frequency vocabulary; real pipelines learn MERGES): BpeRounds
    * iterations of take-the-most-frequent-adjacent-symbol-pair and merge
    * it corpus-wide, over words initialised as character sequences.
    * Output is the learned merge table — round, pair, its count at
    * selection time, and the surviving symbol mass (Σ freq·|syms|), the
    * monotone audit trail showing each merge's compression bite.
    *
    * Scale: BPE's working set is the VOCABULARY (word types × freq),
    * never the corpus — the corpus is touched once by the
    * map-side-combinable word count; each round then runs Θ(types)
    * array-local work (pair projection + fold apply), one bounded pair
    * aggregate, and a 1-row argmax collect (count desc, pair asc
    * deterministic tie-break) — the merge pair is a MODEL PARAMETER,
    * the codebook-collect doctrine. Vocab persists per round so round r
    * doesn't replay rounds 1..r−1.
    *
    * Determinism: counts are integers, the argmax tie-break total, the
    * fold order fixed — both engines learn the identical merge sequence
    * (the oracle unrolls each round as CTEs, greedy application stated
    * as the odd-offsets-within-match-runs closed form). */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bpeModel(spark, dir)._1
      .toDF("merge_round", "lhs", "rhs", "pair_count", "symbols_after")
      .orderBy(col("merge_round"))
  }

  /** Learned BPE model for a fixture dir, computed once per documents
    * content ([[graft.Staged]]) — the psiEdges doctrine applied to the
    * tokenizer family's model parameters: the merge sequence (≤ BpeRounds
    * small tuples) is a value, the final vocab a committed staged layer,
    * and every later invocation rebuilds its relations from those instead
    * of re-running the 6-round learn loop (a pair-count aggregate +
    * argmax collect + mass aggregate per round — ~12 driver-visible jobs)
    * that EVERY bpe_merges / bpe_encode call previously paid. Returns
    * (merge rows, final vocab as a committed staged relation). */
  private def bpeModel(spark: SparkSession, dir: String)
      : (Seq[(Long, String, String, Long, Long)], DataFrame) = {
    def learn() = bpeLearn(spark,
      Tables.spread(Tables.t(spark, dir, "documents")))
    val mergesKey = graft.Staged.key("bpe_merges", dir, "documents")
    val vocab = graft.Staged.layer(spark,
        graft.Staged.key("bpe_vocab", dir, "documents")) {
      val (learned, v) = learn()
      graft.Staged.value(mergesKey)(learned) // registers with the vocab
      // v stays persisted through the staging write; hand it to the
      // holder so the next call (or the harness's clearCache) releases
      // it — the round-9 bounded-leak contract, now at most one learn
      // per documents content instead of one per call
      this.synchronized {
        lastBpeVocab.foreach(_.unpersist(blocking = false))
        lastBpeVocab = Some(v)
      }
      v
    }
    (graft.Staged.value(mergesKey)(learn()._1), vocab)
  }

  /** Corpus-parameterized body of bpeMerges — the planted-corpus entry
    * the spec drives directly. */
  /** The shared learning loop: runs BpeRounds merge rounds and returns
    * (learned merge rows, final vocab). The final vocab is handed back
    * STILL PERSISTED — bpeMerges drops it immediately, bpeEncode joins
    * the corpus against it (the caller owns the unpersist). */
  private def bpeLearn(spark: SparkSession, docs: DataFrame)
      : (Seq[(Long, String, String, Long, Long)], DataFrame) = {
    // NEGATIVE RESULT (round-15, recorded per guide §1): folding each
    // round's two actions (argmax collect + mass aggregate) into ONE
    // combined aggregate (min_by over the total order (-cnt, lhs, rhs) +
    // the identity Σ freq·|syms| = Σ pair counts + Σ freq) measured NO
    // win — cold bpe_merges 11.8→12.2 s min-of-3, per-round job walls are
    // 20-80 ms while the loop's real cost is the one corpus word-count
    // pass (~2 s of the ~4 s job wall) plus per-round driver
    // planning/codegen of the bpeApply fold, which the merged action does
    // not shrink. The two-action loop stays.
    var vocab = bpeVocab(docs).persist()
    val learned =
      collection.mutable.ArrayBuffer[(Long, String, String, Long, Long)]()
    var r = 1
    var exhausted = false
    while (r <= BpeRounds && !exhausted) {
      val top = bpePairCounts(vocab)
        .orderBy(col("cnt").desc, col("lhs"), col("rhs")).limit(1)
        .collect()
      if (top.isEmpty) exhausted = true // every word is one symbol
      else {
        val (l, rr, cnt) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        val next = vocab
          .select(col("word"), bpeApply(col("syms"), l, rr).as("syms"),
                  col("freq"))
          .persist()
        val symsAfter = next
          .agg(sum(col("freq") * size(col("syms")))).head().getLong(0)
        learned += ((r.toLong, l, rr, cnt, symsAfter))
        vocab.unpersist()
        vocab = next
        r += 1
      }
    }
    (learned.toSeq, vocab)
  }

  private[graft] def bpeMergesOf(spark: SparkSession,
      docs: DataFrame): DataFrame = {
    import spark.implicits._
    val (learned, vocab) = bpeLearn(spark, docs)
    vocab.unpersist()
    learned
      .toDF("merge_round", "lhs", "rhs", "pair_count", "symbols_after")
      .orderBy(col("merge_round"))
  }

  /** BPE encoding of the corpus under the learned merges — the ENCODE
    * end of the arc, using the final vocab as the encoding table (after
    * all merge rounds, each word type's symbol sequence IS its
    * encoding): per document, token count, encoded symbol count, and
    * the compression the merges bought. The corpus-side work is one
    * explode + one key join on `word` against the Θ(types) vocab +
    * one doc_id re-aggregation — the token_encode dataflow with the
    * merge table standing in for the id vocabulary. */
  /** The last learn-time persisted vocab (filled inside bpeModel's
    * staging compute, at most once per (dir, fp)) — unpersisted on the
    * NEXT learn, because the staging write may still be in flight at
    * registration time. Bounds a long-lived session that never calls
    * clearCache (ad-hoc / notebook use) to ONE cached vocab copy —
    * the round-9 ADVICE leak, now further bounded by the per-(dir, fp)
    * learn. */
  private var lastBpeVocab: Option[DataFrame] = None

  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.t(spark, dir, "documents"))
    // the encoding table is the staged final vocab (bpeModel) — the
    // corpus-side explode+join below recomputes from parquet every call
    val vocab = bpeModel(spark, dir)._2
    val enc = vocab.select(col("word"), size(col("syms")).as("n_syms"))
    docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), explode(
        expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
      .join(enc, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
           sum(col("n_syms")).cast("long").as("n_symbols"))
      .select(col("doc_id"), col("n_tokens"), col("n_symbols"),
        round(col("n_symbols").cast("double") / col("n_tokens") + 1e-9, 4)
          .as("syms_per_token"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bpe_merges"   -> (bpeMerges _),
    "bpe_encode"   -> (bpeEncode _),
    "readability"  -> (readability _),
    "text_chunks"  -> (textChunks _),
    "sent_stats"   -> (sentStats _),
    "lang_confusion" -> (langConfusion _),
    "token_encode"  -> (tokenEncode _),
    "token_entropy" -> (tokenEntropy _),
    "text_clean"   -> (textClean _),
    "text_stats"   -> (textStats _),
    "text_quality" -> (textQuality _),
    "lang_id"      -> (langId _),
    "token_regex"  -> (tokenRegex _),
    "fingerprint"  -> (fingerprint _))

  /** bpe_merges oracle: each learned round unrolled as its own CTE block
    * (the kcore doctrine) — pair counts from the round's vocab, the
    * argmax pair by (cnt DESC, lhs, rhs), and greedy application stated
    * as the gaps-and-islands closed form: a match position merges iff
    * its rank within its run of consecutive matches is odd (for lhs ≠
    * rhs runs have length 1, so every match merges; for lhs = rhs this
    * is exactly left-to-right greedy), and a position is consumed iff
    * its predecessor merged. */
  /** Shared CTE prefix of the bpe oracles: v1..v7 unrolled, each round
    * a MATERIALIZED block (DuckDB inlines plain CTEs exponentially
    * across the rounds — measured as fd exhaustion), with the word key
    * carried through so v7 doubles as the encoding table. */
  private lazy val bpeCtes: String = {
    val rounds = (1 to BpeRounds).map { r =>
      s"""p$r AS MATERIALIZED (
         |  SELECT e.syms[e.i] AS lhs, e.syms[e.i+1] AS rhs,
         |         CAST(SUM(e.freq) AS BIGINT) AS cnt
         |  FROM (SELECT syms, freq, unnest(range(1, len(syms))) AS i
         |        FROM v$r) e
         |  GROUP BY 1, 2),
         |t$r AS MATERIALIZED (
         |  SELECT lhs, rhs, cnt FROM p$r
         |  ORDER BY cnt DESC, lhs, rhs LIMIT 1),
         |x$r AS MATERIALIZED (
         |  SELECT e.word, e.freq, e.i AS pos, e.syms[e.i] AS sym
         |  FROM (SELECT word, freq, syms,
         |          unnest(range(1, len(syms) + 1)) AS i
         |        FROM v$r) e),
         |m$r AS MATERIALIZED (
         |  SELECT word, pos,
         |    (ROW_NUMBER() OVER (PARTITION BY word, grp ORDER BY pos)
         |       % 2 = 1) AS g
         |  FROM (
         |    SELECT word, pos,
         |      pos - ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos)
         |        AS grp
         |    FROM (
         |      SELECT word, pos, sym,
         |        LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
         |      FROM x$r)
         |    WHERE sym = (SELECT lhs FROM t$r)
         |      AND nxt = (SELECT rhs FROM t$r))),
         |v${r + 1} AS MATERIALIZED (
         |  SELECT x.word,
         |    LIST(CASE WHEN COALESCE(mg.g, FALSE)
         |              THEN (SELECT lhs FROM t$r) || (SELECT rhs FROM t$r)
         |              ELSE x.sym END ORDER BY x.pos) AS syms,
         |    MIN(x.freq) AS freq
         |  FROM x$r x
         |  LEFT JOIN m$r mg ON mg.word = x.word AND mg.pos = x.pos
         |  LEFT JOIN m$r mp ON mp.word = x.word AND mp.pos = x.pos - 1
         |  WHERE NOT COALESCE(mp.g, FALSE)
         |  GROUP BY x.word)""".stripMargin
    }.mkString(",\n")
    s"""v1 AS MATERIALIZED (
       |  SELECT word, string_split(word, '') AS syms, freq
       |  FROM (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
       |          SELECT unnest(regexp_extract_all(lower(text), '[a-z]+'))
       |            AS word
       |          FROM documents WHERE text IS NOT NULL)
       |        GROUP BY word)),
       |$rounds""".stripMargin
  }

  /** bpe_merges oracle: each learned round unrolled as its own CTE block
    * (the kcore doctrine) — pair counts from the round's vocab, the
    * argmax pair by (cnt DESC, lhs, rhs), and greedy application stated
    * as the gaps-and-islands closed form: a match position merges iff
    * its rank within its run of consecutive matches is odd (for lhs ≠
    * rhs runs have length 1, so every match merges; for lhs = rhs this
    * is exactly left-to-right greedy), and a position is consumed iff
    * its predecessor merged. */
  private lazy val bpeOracle: String = {
    val rows = (1 to BpeRounds).map { r =>
      s"""  SELECT CAST($r AS BIGINT) AS merge_round, lhs, rhs,
         |    cnt AS pair_count,
         |    (SELECT CAST(SUM(freq * len(syms)) AS BIGINT) FROM v${r + 1})
         |      AS symbols_after
         |  FROM t$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $bpeCtes
       |SELECT * FROM (
       |$rows
       |) ORDER BY merge_round""".stripMargin
  }

  /** bpe_encode oracle: the final vocab (v7) IS the encoding table —
    * join the exploded corpus tokens against it by word. */
  private lazy val bpeEncodeOracle: String =
    s"""WITH $bpeCtes,
       |tok AS (
       |  SELECT doc_id,
       |         unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
       |  FROM documents WHERE text IS NOT NULL)
       |SELECT doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(SUM(len(v.syms)) AS BIGINT) AS n_symbols,
       |  ROUND(SUM(len(v.syms))::DOUBLE / COUNT(*) + 1e-9, 4)
       |    AS syms_per_token
       |FROM tok JOIN v${BpeRounds + 1} v USING (word)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "bpe_merges" -> bpeOracle,
    "bpe_encode" -> bpeEncodeOracle,
    "readability" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'),
        |                x -> x <> '') AS words,
        |    list_filter(string_split_regex(text, '[.!?]+\s+'),
        |                x -> trim(x) <> '') AS sents
        |  FROM documents WHERE text IS NOT NULL),
        |s AS (
        |  SELECT doc_id,
        |    CAST(len(words) AS BIGINT) AS n_words,
        |    CAST(GREATEST(len(sents), 1) AS BIGINT) AS n_sents,
        |    CAST(COALESCE(list_sum(list_transform(words,
        |      x -> GREATEST(len(regexp_extract_all(x, '[aeiouyAEIOUY]+')),
        |                    1))), 0) AS BIGINT) AS n_syll
        |  FROM w)
        |SELECT doc_id, n_words, n_sents, n_syll,
        |  CASE WHEN n_words > 0 THEN
        |    ROUND(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sents)
        |          - 84.6 * (CAST(n_syll AS DOUBLE) / n_words) + 1e-9, 4)
        |  END AS flesch
        |FROM s ORDER BY doc_id""".stripMargin,
    "text_chunks" ->
      """WITH s AS (
        |  SELECT doc_id, text,
        |    unnest(generate_series(1, greatest(length(text), 1), 150)) AS s
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT doc_id,
        |  CAST((s - 1) // 150 AS BIGINT) AS chunk_id,
        |  CAST(length(substr(text, s, 200)) AS BIGINT) AS chunk_chars,
        |  substr(md5(substr(text, s, 200)), 1, 8) AS fp8
        |FROM s
        |ORDER BY doc_id, chunk_id""".stripMargin,
    "sent_stats" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '[.!?]+\s+'),
        |                x -> trim(x) <> '') AS sents
        |  FROM documents WHERE text IS NOT NULL),
        |t AS (
        |  SELECT doc_id, sents,
        |    list_transform(sents,
        |      x -> len(string_split_regex(trim(x), '\s+'))) AS toks
        |  FROM s)
        |SELECT doc_id,
        |  CAST(len(sents) AS BIGINT) AS n_sents,
        |  CASE WHEN len(sents) > 0 THEN
        |    ROUND(list_sum(toks) / CAST(len(sents) AS DOUBLE) + 1e-9, 4)
        |  END AS avg_sent_toks,
        |  CASE WHEN len(sents) > 0 THEN CAST(list_max(toks) AS BIGINT)
        |  END AS max_sent_toks
        |FROM t ORDER BY doc_id""".stripMargin,
    "token_encode" ->
      """WITH u AS (
        |  SELECT doc_id,
        |         unnest(string_split_regex(text, '\s+')) AS term,
        |         generate_subscripts(string_split_regex(text, '\s+'), 1)
        |           AS pos
        |  FROM documents WHERE text IS NOT NULL),
        |vocab AS (
        |  SELECT term,
        |         ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, term) AS id
        |  FROM u GROUP BY term
        |  QUALIFY id <= 1024),
        |e AS (
        |  SELECT u.doc_id, u.pos, COALESCE(v.id, 0) AS id
        |  FROM u LEFT JOIN vocab v ON u.term = v.term)
        |SELECT doc_id,
        |       COUNT(*)::BIGINT AS n_tokens,
        |       SUM(CASE WHEN id = 0 THEN 1 ELSE 0 END)::BIGINT AS n_oov,
        |       STRING_AGG(id::VARCHAR, ' ' ORDER BY pos) AS ids_str
        |FROM e GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "token_entropy" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT doc_id, len(toks)::BIGINT AS n_tokens,
        |  ROUND(-list_sum(list_transform(list_sort(list_distinct(toks)),
        |    t -> (len(list_filter(toks, x -> x = t))
        |            / CAST(len(toks) AS DOUBLE))
        |         * ln(len(list_filter(toks, x -> x = t))
        |            / CAST(len(toks) AS DOUBLE)))) + 1e-9, 4) AS entropy
        |FROM t ORDER BY doc_id""".stripMargin,
    "text_clean" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(lower(text),
        |         '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS clean
        |  FROM documents)
        |SELECT doc_id, clean,
        |       len(string_split(clean, ' '))::BIGINT AS n_tokens
        |FROM c ORDER BY doc_id""".stripMargin,
    "text_stats" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  len(toks)::BIGINT AS n_tokens,
        |  len(list_distinct(toks))::BIGINT AS n_distinct,
        |  ROUND(len(list_distinct(toks))::DOUBLE / len(toks) + 1e-9, 4) AS ttr,
        |  ROUND(CAST(list_sum(list_transform(toks, t -> length(t)))
        |        AS DOUBLE) / len(toks) + 1e-9, 4) AS avg_token_len
        |FROM t ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      """WITH t AS (
        |  SELECT doc_id, text, string_split_regex(text, '\s+') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    len(toks)::BIGINT AS n_tokens,
        |    ROUND(len(list_filter(toks,
        |      t -> t IN ('the', 'a', 'of', 'and')))::DOUBLE / len(toks)
        |      + 1e-9, 4) AS stop_ratio,
        |    ROUND(length(regexp_replace(text, '[a-z0-9\s]', '', 'g'))::DOUBLE
        |      / length(text) + 1e-9, 4) AS punct_ratio
        |  FROM t)
        |SELECT doc_id, n_tokens, stop_ratio, punct_ratio,
        |  ROUND((1.0 - punct_ratio) *
        |        LEAST(1.0, n_tokens / 100.0) + 1e-9, 4) AS quality
        |FROM m ORDER BY doc_id""".stripMargin,
    "lang_confusion" ->
      """WITH t AS (
        |  SELECT doc_id, lang, string_split_regex(text, '\s+') AS toks
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(toks, t -> t IN ('the','a','of','and')))::BIGINT AS hits_en,
        |    len(list_filter(toks, t -> t IN ('der','die','und','ist')))::BIGINT AS hits_de,
        |    len(list_filter(toks, t -> t IN ('el','la','los','que')))::BIGINT AS hits_es,
        |    len(list_filter(toks, t -> t IN ('le','les','des','est')))::BIGINT AS hits_fr,
        |    len(list_filter(toks, t -> t IN ('de5','shi4','le5','zai4')))::BIGINT AS hits_zh
        |  FROM t),
        |p AS (
        |  SELECT lang AS actual,
        |    CASE
        |      WHEN hits_en >= hits_de AND hits_en >= hits_es
        |       AND hits_en >= hits_fr AND hits_en >= hits_zh THEN 'en'
        |      WHEN hits_de >= hits_es AND hits_de >= hits_fr
        |       AND hits_de >= hits_zh THEN 'de'
        |      WHEN hits_es >= hits_fr AND hits_es >= hits_zh THEN 'es'
        |      WHEN hits_fr >= hits_zh THEN 'fr'
        |      ELSE 'zh' END AS predicted
        |  FROM h),
        |c AS (
        |  SELECT actual, predicted, COUNT(*) AS n FROM p GROUP BY 1, 2)
        |SELECT actual, predicted, n,
        |  ROUND(n / SUM(n) OVER (PARTITION BY actual)::DOUBLE + 1e-9, 6)
        |    AS rate,
        |  actual = predicted AS is_correct
        |FROM c ORDER BY actual, predicted""".stripMargin,
    "lang_id" ->
      """WITH t AS (
        |  SELECT doc_id, lang, string_split_regex(text, '\s+') AS toks
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(toks, t -> t IN ('the','a','of','and')))::BIGINT AS hits_en,
        |    len(list_filter(toks, t -> t IN ('der','die','und','ist')))::BIGINT AS hits_de,
        |    len(list_filter(toks, t -> t IN ('el','la','los','que')))::BIGINT AS hits_es,
        |    len(list_filter(toks, t -> t IN ('le','les','des','est')))::BIGINT AS hits_fr,
        |    len(list_filter(toks, t -> t IN ('de5','shi4','le5','zai4')))::BIGINT AS hits_zh
        |  FROM t)
        |SELECT doc_id, lang, hits_en, hits_de, hits_es, hits_fr, hits_zh,
        |  CASE
        |    WHEN hits_en >= hits_de AND hits_en >= hits_es
        |     AND hits_en >= hits_fr AND hits_en >= hits_zh THEN 'en'
        |    WHEN hits_de >= hits_es AND hits_de >= hits_fr
        |     AND hits_de >= hits_zh THEN 'de'
        |    WHEN hits_es >= hits_fr AND hits_es >= hits_zh THEN 'es'
        |    WHEN hits_fr >= hits_zh THEN 'fr'
        |    ELSE 'zh' END AS pred_lang
        |FROM h ORDER BY doc_id""".stripMargin,
    "token_regex" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '[a-z]+'))::BIGINT AS n_alpha,
        |  len(regexp_extract_all(text, '[0-9]+'))::BIGINT AS n_num,
        |  len(regexp_extract_all(text, '[^a-z0-9\s]'))::BIGINT AS n_other
        |FROM documents ORDER BY doc_id""".stripMargin,
    "fingerprint" ->
      """SELECT doc_id,
        |  md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin)
}
