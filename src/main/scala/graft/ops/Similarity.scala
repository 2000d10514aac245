package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Similarity search over the `embeddings` table (SURVEY.md §2.11 X3):
  * brute-force cosine top-k as the exact baseline, and an LSH-bucketed
  * approximate variant as the scale path.
  *
  * Scale notes: brute force broadcasts the (small) query side so the big
  * side streams through a BroadcastNestedLoopJoin with no shuffle of the
  * corpus; cost is |Q|×|C| dot products — fine for |Q| ≤ thousands, which
  * is the realistic "score a probe set" shape. For all-pairs ANN the LSH
  * variant buckets both sides on sign-bit hashes so candidates meet
  * through a hash join on the bucket key (|C|²/2^bits work instead of
  * |C|²). Similarity is ranked on a 6-dp-rounded value with an id
  * tie-break so rankings are reproducible across engines and runs.
  */
object Similarity {

  /** Rank candidates per query via the bounded-heap TopKAggregator instead
    * of a window row_number: the window form SORTS the full candidate set
    * (|queries|×|bucket| rows — measured as the memory blow-up on a 100×
    * scale probe); the aggregator's map-side partial reduces each map
    * task's contribution to k rows per query before the shuffle. Output
    * and ordering are identical to the window form (asserted in
    * TextSimilaritySpec), so the ROW_NUMBER-based oracle still matches. */
  private[ops] def rankTopK(pairs: DataFrame, k: Int): DataFrame =
    pairs // expects columns: query_id, neighbor_id, sim
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAggregator.topK(k)(
        col("sim"), col("neighbor_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"),
              col("col")("_2").as("neighbor_id"),
              col("col")("_1").as("sim"),
              (col("pos") + 1).cast("long").as("rnk"))
      .orderBy(col("query_id"), col("rnk"))

  /** Cosine similarity between two float-array columns: the native
    * codegen'd expression (graft.functions.CosineSimilarity) — one fused
    * loop, no per-row array allocation. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.cosineSim(a, b)

  /** Composable reference formulation via higher-order functions — kept as
    * the executable spec of `cosine` (bit-identical accumulation order;
    * equivalence asserted in TextSimilaritySpec). */
  def cosineHof(a: Column, b: Column): Column = {
    val ad = transform(a, x => x.cast("double"))
    val bd = transform(b, x => x.cast("double"))
    val dot = aggregate(zip_with(ad, bd, (x, y) => x * y),
                        lit(0.0), (s, x) => s + x)
    val na = aggregate(transform(ad, x => x * x), lit(0.0), (s, x) => s + x)
    val nb = aggregate(transform(bd, x => x * x), lit(0.0), (s, x) => s + x)
    // zero-norm → NULL (cosine undefined), matching both the native
    // expression and DuckDB's x/0.0; Spark's bare double division would
    // give NaN here
    val denom = sqrt(na) * sqrt(nb)
    when(denom =!= 0.0, dot / denom)
  }

  /** Sign-bit LSH signature over the first `bits` vector components, as a
    * BIGINT (bit i−1 set ⇔ component i ≥ 0). With zero-centered
    * components each bit splits ~50/50, giving 2^bits buckets. (A
    * production variant would use `bits` random hyperplanes; fixed axes
    * keep the oracle SQL-expressible and the semantics equal.) Integer
    * signatures replaced the round-8 string form: probe enumeration
    * becomes XOR against constant flip masks instead of per-probe
    * substr/concat string surgery (~2.3k string builds per query row at
    * 24 bits), and the bucket join key is 8 bytes instead of a
    * `bits`-char string. The terms being disjoint powers of two, the sum
    * is carry-free — equal to bitwise OR — so bits = 64 (the dim cap,
    * where 1L<<63 is the sign bit) still round-trips exactly. */
  def signBits(c: Column, bits: Int): Column =
    (1 to bits).map(i =>
      when(element_at(c, i) >= 0, lit(1L << (i - 1))).otherwise(lit(0L)))
      .reduce(_ + _)

  /** LSH width that SCALES WITH THE CORPUS — the bucket-density defense
    * of every in-bucket self-join (annLsh, embedNearDup, semanticDedup).
    * A fixed 8-bit hash has 256 buckets forever: in-bucket pairing is
    * |N|²/256, quadratic in corpus size — the same failure class as the
    * fixed IVF codebook the 10× probe caught in round 2 (and a 100×
    * probe re-caught here as one task grinding a mega-bucket for half
    * an hour). Growing bits with N keeps the EXPECTED bucket at ≤ ~64
    * vectors, so pair work is Θ(N·64) plus the true-duplicate fan-out
    * (which is output, not overhead). At every fixture scale (N ≤ 16k)
    * this is exactly 8 — the value the static DuckDB oracles encode;
    * PropertySpec pins that equality so drift fails loudly. Capped at
    * the leading dims available (64-dim fixture vectors). */
  def adaptiveBits(n: Long, dim: Int = 64): Int = {
    val needed = math.ceil(
      math.log(math.max(1.0, n / 64.0)) / math.log(2.0)).toInt
    math.min(dim, math.max(8, needed))
  }

  /** Multi-probe radius of the sign-LSH ADMISSION/DEDUP gates (the
    * symmetric pair-forming sites: embedPairs' near-dup gate,
    * ann_incremental's index-maintenance gate): a probe reaches every
    * bucket within Hamming distance ≤ this of its own signature, not
    * just its own bucket. Measured on the fixture (sf0.01, the gate
    * scale): of the 50 true top-5 neighbors, the Hamming distance
    * between query and neighbor signatures distributes 1/9/12/13/10/2/2/1
    * over 0..7 — single-probe recall@5 is 0.02 (the round-4 `ann_recall`
    * red flag), radius 2 reaches 0.44, radius 3 reaches 0.70. Three is
    * the smallest radius clearing the 0.5 line, so it is the gates'
    * dial. The SEARCH tier (lshCandidates) moved past the ball in round
    * 9 to margin-directed budgeted probing — see directedProbes; the
    * gates keep the ball because their rule is symmetric (pair (a,b)
    * found ⇔ Hamming(a,b) ≤ r regardless of which side probes), which a
    * per-query directed probe set is not.
    *
    * Scale shape: the probe set is C(bits,0)+…+C(bits,3) buckets — 93 at
    * 8 bits, ~2.3k at the 24 bits a 10⁹-vector corpus gets — growing
    * POLYNOMIALLY in bits while the bucket count grows exponentially, so
    * the probed fraction of the space shrinks as the corpus grows.
    * Candidate work stays Θ(N · probes · bucket-density): a bounded
    * equi-join fan-out, never all-pairs. */
  val ProbeRadius = 3

  /** Signature-width cap of the SYMMETRIC ball gates (embedPairs'
    * near-dup/semantic pairing, annIncremental, the streaming ANN
    * admission twin) — pinned by PropertySpec, measured by
    * `RecallCurve ball` at 1M vectors with 2000 planted 0.90-cosine
    * pairs (SCALE.md round-11):
    *
    *   bits        10     14     17     20     24     28
    *   recall@≤3  .975   .923   .865   .789   .678   .562
    *   probes/row  176    470    834   1351   2325   3683
    *
    * At FIXED radius 3 the gate's recall falls with width (a 0.9-cos
    * pair flips each sign bit with p ≈ 0.135, so P(Hamming ≤ 3) shrinks
    * as bits grow) and crosses the 0.5 line — the rationale that made 3
    * the radius — just past 28 bits. 24 is the last width with margin
    * (0.678) and corresponds to the operating point N = 64·2²⁴ ≈ 1.1G
    * vectors: the symmetric sign gate is certified to ~10⁹ vectors and
    * HANDS OFF beyond (the poolBits doctrine — past the cap, near-dup
    * gating belongs to the cluster-bucketed route the family already
    * ships: semantic_dedup / kmeans cells). The 4-band MinHash-style
    * split was measured out as the alternative: its candidate volume is
    * WORSE at every width in range (439G vs the ball's 28.8G at the
    * 14-bit operating width; 31.4G vs 13.8M at 28 bits) because a
    * bits/4-wide band keeps bucket density N/2^(bits/4) — the OR-
    * amplification only pays at widths the recall curve has already
    * disqualified. The DIRECTED search tier is not capped here: its
    * budget (probeBudget/poolBits) is the asymmetric dial. */
  private[graft] val GateMaxBits = 24

  /** Width the symmetric gates actually use: adaptive, capped. At every
    * fixture scale this equals adaptiveBits (= 8), so the static 8-bit
    * oracles are untouched. */
  private[graft] def gateBits(n: Long): Int =
    math.min(adaptiveBits(n), GateMaxBits)

  /** The Hamming ≤ `radius` ball's probe count: C(bits,0)+…+C(bits,3). */
  private[graft] def ballCount(bits: Int): Int =
    1 + bits + bits * (bits - 1) / 2 + bits * (bits - 1) * (bits - 2) / 6

  /** All XOR flip masks of popcount ≤ `radius` over `bits` positions — a
    * CONSTANT per (bits, radius), enumerated once on the driver and
    * shipped into the plan as an array literal (a model parameter, like
    * the IVF codebook: 6.6k longs at 34 bits). Probing is then one XOR
    * per (row, mask) — the round-8 string form rebuilt each probe with
    * nested substr/concat surgery, Θ(bits) string allocations per probe
    * per row. Masks are distinct, so probe signatures are duplicate-free
    * and a candidate meets each query exactly once. */
  private[graft] def ballMasks(bits: Int, radius: Int): Seq[Long] = {
    require(radius >= 0 && radius <= 3, s"unsupported probe radius $radius")
    val b = scala.collection.mutable.ArrayBuffer(0L)
    if (radius >= 1) for (i <- 0 until bits) b += (1L << i)
    if (radius >= 2)
      for (i <- 0 until bits; j <- i + 1 until bits)
        b += (1L << i) | (1L << j)
    if (radius >= 3)
      for (i <- 0 until bits; j <- i + 1 until bits; k <- j + 1 until bits)
        b += (1L << i) | (1L << j) | (1L << k)
    b.toSeq
  }

  /** All bucket signatures within Hamming distance ≤ `radius` of the
    * BIGINT signature `sig`: XOR against the constant ball-mask array.
    * Exact-bucket search is the degenerate radius 0. */
  def probeBuckets(sig: Column, bits: Int, radius: Int): Column =
    transform(typedLit(ballMasks(bits, radius)), m => sig.bitwiseXOR(m))

  /** Probe budget of the margin-directed search tier: anchored at the
    * radius-3 ball's probe count (equal spend, better aim), trimmed to
    * the measured knee of the fixture recall curve — at 8 bits recall@5
    * plateaus at 0.80 for budgets 85..92 and only moves again past the
    * full 93 (0.88 at 128, bought with 38% more candidates), so the
    * knee ⌈0.91·C(bits,≤3)⌉ = 85 is the dial. Grows polynomially with
    * bits exactly like the ball it replaces. */
  private[graft] def probeBudget(bits: Int): Int =
    (ballCount(bits) * 91 + 99) / 100

  /** Candidate-mask pool width of the directed tier: subsets of the
    * query's `poolBits` lowest-margin positions are scored and ranked;
    * 2^pool must comfortably exceed the budget so the ranking has slack
    * to choose from. ⌈log2(ball)⌉+1 → 8 at 8 bits (the ENTIRE mask
    * space, so the fixture semantics involve no pool cut at all — the
    * oracles enumerate all 256 masks), 13 at 24 bits (8k-mask pool for
    * a 2.1k budget).
    *
    * CAPPED at 16 (PropertySpec-pinned): uncapped, the widest
    * signatures (bits ≥ ~54, where ballCount ≥ 2^16) would take pool
    * 17; the cap bounds the best-first walk's degenerate worst case
    * (all-equal margins — e.g. a zero vector — enumerates the full
    * 2^pool tie class) at 65,536 generated states per row while
    * 2^16 still exceeds the budget at EVERY width ≤ 64
    * (probeBudget(64) = 39,808 — also PropertySpec-pinned), so the
    * ranking never loses slack. What the cap trims is only the
    * option of flipping the 17th-lowest-margin position — masks the
    * budget's (score, mask) cut almost never reaches (they must beat
    * combinations of strictly lower-margin flips). The measured
    * recall-vs-cost curve at wide widths (SCALE.md round-10: 0.78 /
    * 0.53 / 0.35 at 8/12/16 bits at operating density on a
    * structure-free worst-case corpus) shows the BUDGET is the binding
    * dial long before the pool is — past ~16-20 bits the directed
    * tier's recall economics hand off to the IVF/quantized tiers. */
  private[graft] def poolBits(bits: Int): Int = {
    val lg = 32 - Integer.numberOfLeadingZeros(ballCount(bits) - 1) // ⌈log2⌉
    math.min(16, math.min(bits, lg + 1))
  }

  /** Margin-directed multi-probe — the round-9 recall fix for the search
    * tier (ann_recall's 0.70 under the blind radius-3 ball): the bits
    * most likely to differ between a query and its true neighbor are the
    * ones whose projection sits nearest the hyperplane, i.e. smallest
    * |component|. Rank candidate flip sets by the TOTAL MARGIN they
    * flip and spend a fixed probe budget on the lowest-margin bucket
    * variants, instead of probing every Hamming ≤ 3 variant including
    * ones that flip three high-confidence bits. Measured at the gate
    * fixture (sf0.01): recall@5 0.70 → 0.80 with 0.92× the ball tier's
    * candidate count (83,676 vs 90,964) at 0.91× its probe count — the
    * directed set reaches true neighbors at Hamming 4–6 (≈28% of them,
    * per the distance histogram) that no affordable ball radius covers.
    *
    * Determinism doctrine: margins are INTEGER micro-units
    * (round(|x|·1e6) as BIGINT — float→double is exact, ·1e6 and the
    * half-away round are IEEE-identical in both engines), so mask
    * scores are order-free integer sums and the (score, mask) ranking
    * can't wobble on a summation ulp. Masks are distinct so probe
    * signatures are duplicate-free.
    *
    * Execution is the native best-first walk
    * (graft.functions.DirectedProbes): Θ((budget + boundary ties)·log
    * budget) per row, generating exactly the top-budget masks — the
    * round-9 declarative form below (directedProbesHof) scored and
    * array_sorted all 2^pool subsets per row through interpreted
    * higher-order functions (the bench's two highest CPU totals:
    * sim_ann_lsh 125.9 s, hard_negatives 115.4 s CPU at sf0.1). The
    * HOF form stays as the executable spec — PropertySpec asserts
    * bit-equality on fixture vectors. */
  def directedProbes(sig: Column, emb: Column, bits: Int): Column =
    graft.functions.DirectedProbes.probes(sig, emb, bits,
      poolBits(bits), probeBudget(bits))

  /** Declarative formulation of directedProbes — kept as its executable
    * spec (equality asserted in PropertySpec), exactly like cosineHof
    * specs the native CosineSimilarity. Θ(2^pool·pool) per row: do not
    * use on the hot path. */
  private[graft] def directedProbesHof(sig: Column, emb: Column,
                                       bits: Int): Column = {
    val p = poolBits(bits)
    val budget = probeBudget(bits)
    // p lowest-margin positions, (margin, position)-sorted — ties break
    // on the position, mirrored by the oracle's ORDER BY margin, i
    val pool = slice(array_sort(transform(sequence(lit(1), lit(bits)), i =>
      struct(
        round(abs(element_at(emb, i).cast("double")) * 1e6).cast("long")
          .as("m"),
        (i - 1).cast("long").as("pos")))), 1, p)
    val tPow = typedLit((0 until p).map(t => 1L << t)) // pool-index bit
    val posPow = typedLit((0 until bits).map(x => 1L << x)) // 1L<<pos
    def scoreOf(j: Column): Column =
      aggregate(sequence(lit(0), lit(p - 1)), lit(0L), (acc, t) =>
        acc + when((j.cast("long").bitwiseAND(element_at(tPow, t + 1))) > 0,
          element_at(pool, t + 1)("m")).otherwise(0L))
    def maskOf(j: Column): Column =
      aggregate(sequence(lit(0), lit(p - 1)), lit(0L), (acc, t) =>
        acc + when((j.cast("long").bitwiseAND(element_at(tPow, t + 1))) > 0,
          element_at(posPow,
            (element_at(pool, t + 1)("pos") + 1).cast("int")))
          .otherwise(0L))
    val scored = transform(sequence(lit(0), lit((1 << p) - 1)), j =>
      struct(scoreOf(j).as("score"), maskOf(j).as("mask")))
    transform(slice(array_sort(scored), 1, budget),
      s => sig.bitwiseXOR(s("mask")))
  }

  /** Deterministic hash-min sample over the embeddings table: the k rows
    * with the smallest md5("vs|" <> vec_id), ties by vec_id — the
    * globalSample rule applied to the vector family's seed and probe
    * draws. Replaces the old `vec_id < k` selection, which assumed dense
    * zero-based ids and was unusable on any real corpus (gapped ids,
    * post-dedup survivors, snowflake ids — it THREW by design).
    * Content-independent and engine-identical (md5 of the decimal id
    * string, the dp_release/doc_shuffle RNG-free doctrine); compiles to
    * TakeOrderedAndProject, so each task keeps a k-row heap and only
    * k·#partitions rows move — no global sort, no count pass. At 100 TB
    * the draw costs one id-column scan: the price every deterministic
    * uniform sample pays, and the sample is a bounded model parameter
    * from there on. */
  private[ops] def vecSample(spark: SparkSession, dir: String,
                             k: Int): DataFrame =
    Tables.t(spark, dir, "embeddings")
      .withColumn("h",
        md5(concat(lit("vs|"), col("vec_id").cast("string"))
          .cast("binary")))
      .orderBy(col("h"), col("vec_id"))
      .limit(k)
      .drop("h")

  /** Just the sampled ids — for semi-joining a derived relation down to
    * the probe set (broadcast both legs: k rows). */
  private[ops] def vecSampleIds(spark: SparkSession, dir: String,
                                k: Int): DataFrame =
    vecSample(spark, dir, k).select(col("vec_id"))

  /** Oracle form of vecSample(k): same hash, same tie, same k. */
  private[ops] def duckVecSample(k: Int): String =
    "SELECT vec_id, embedding, label FROM embeddings " +
      s"ORDER BY md5('vs|' || CAST(vec_id AS VARCHAR)), vec_id LIMIT $k"

  /** Inline oracle predicate: `idExpr` is one of the k sampled ids. */
  private[ops] def duckInSample(idExpr: String, k: Int): String =
    s"$idExpr IN (SELECT vec_id FROM embeddings ORDER BY " +
      s"md5('vs|' || CAST(vec_id AS VARCHAR)), vec_id LIMIT $k)"

  /** Oracle form of the ⌈√N⌉-row centroid sample (dynamic k — LIMIT
    * can't take a subquery, so the cut is a ranked subselect). */
  private[ops] val duckCentSample: String =
    """SELECT vec_id, embedding FROM (
      |    SELECT vec_id, embedding, ROW_NUMBER() OVER (
      |        ORDER BY md5('vs|' || CAST(vec_id AS VARCHAR)), vec_id)
      |      AS hrn
      |    FROM embeddings)
      |  WHERE hrn <= (SELECT CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)
      |                FROM embeddings)""".stripMargin

  /** Shared candidate stage of the margin-directed sign-LSH search tier
    * (annLsh, annRecall's LSH arm, annNdcg, hardNegatives, annQuant's
    * candidate stage): the corpus side keys on its OWN signature; the
    * query side explodes its `probeBudget` directed probe signatures
    * (see directedProbes); candidates meet through the signature
    * equi-join — the same bounded hash-join dataflow as single-probe,
    * fan-out multiplied by the budget, never a similarity theta-join.
    * The semantics (pinned by the oracles, which re-derive the probe
    * ranking and state candidacy as membership of the query's top-budget
    * mask set): candidate ⇔ sig(q) XOR sig(c) ranks within the query's
    * probe budget by (flipped-margin total, mask). */
  private def lshCandidates(spark: SparkSession, dir: String,
      probeOnly: Option[DataFrame] = None): DataFrame = {
    // count() is answered from parquet footer metadata, no data scan
    val bits = adaptiveBits(Tables.footerCount(spark, dir, "embeddings"))
    val e = Tables.spread(Tables.t(spark, dir, "embeddings"))
      .select(col("vec_id"), col("embedding"),
              signBits(col("embedding"), bits).as("sig"))
    // probe restriction is a broadcast semi-join against the sampled id
    // set (a row-local predicate can't express a hash-min top-k)
    val q = probeOnly.fold(e)(ids =>
      e.join(broadcast(ids), Seq("vec_id"), "left_semi"))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        explode(directedProbes(col("sig"), col("embedding"), bits))
          .as("sig"))
    val c = e.select(col("sig"), col("vec_id").as("neighbor_id"),
                     col("embedding").as("n_emb"))
    q.join(c, Seq("sig"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
              round(cosine(col("q_emb"), col("n_emb")), 6).as("sim"))
  }

  /** Exact brute-force cosine top-k: probe set = hash-min 10 (the
    * vecSample rule), k = 5. */
  def topKBrute(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.spread(Tables.t(spark, dir, "embeddings"))
    val q = vecSample(spark, dir, 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"))
    rankTopK(
      broadcast(q).crossJoin(c)
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
                round(cosine(col("q_emb"), col("n_emb")), 6).as("sim")),
      k = 5)
  }

  /** Approximate all-pairs top-k over the multi-probe sign-LSH tier
    * (candidates ⇔ signatures within Hamming ≤ ProbeRadius, met through
    * the bucket equi-join — see lshCandidates), then exact cosine +
    * rank within candidates, k = 3. */
  def annLsh(spark: SparkSession, dir: String): DataFrame =
    rankTopK(lshCandidates(spark, dir), k = 3)

  /** Hard-negative mining for contrastive training — negative_pairs'
    * quality-tier sibling: for each anchor, the MOST similar in-bucket
    * vector whose cosine still falls below the near-dup line (0.9, the
    * embed_neardup threshold) — similar enough to be informative, far
    * enough to be a true negative (an accidental near-dup "negative"
    * teaches the model to split duplicates). Candidates meet through
    * the multi-probe sign-LSH tier (lshCandidates — never all-pairs);
    * the < 0.9 cut applies to the 6-dp-ROUNDED cosine, so membership
    * can't flip on a ulp; top-1 rides the bounded-heap TopKAggregator.
    * Anchors whose probed buckets hold only near-dups emit nothing (the
    * honest answer — a random negative is negative_pairs' job). */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame =
    rankTopK(lshCandidates(spark, dir).filter(col("sim") < 0.9), k = 1)
      .select(col("query_id").as("anchor_id"),
              col("neighbor_id").as("negative_id"), col("sim"))
      .orderBy(col("anchor_id"))

  /** Incremental ANN admission — neardup_incremental's embedding twin,
    * the vector-index MAINTENANCE shape: the corpus (even vec_ids)
    * stands as a sign-bucket index; each new-batch vector (odd ids)
    * probes the buckets within Hamming ≤ ProbeRadius of its signature
    * (a cos ≥ 0.9 near-dup still flips ~1 in 7 sign bits, so the
    * single-probe form missed most true duplicates — the ann_recall
    * lesson applied to the admission gate), takes its best corpus match
    * (max rounded cosine, min-id tie), and is admitted iff that best
    * match stays below the near-dup line (0.9) — no candidates admits
    * trivially. Per-batch-vector cost is Θ(probes · bucket density);
    * the corpus side is index maintenance, never rescored. The argmax
    * is a max(struct(sim, −id)) — one aggregate, no window over the
    * corpus, deterministic in both engines. */
  def annIncremental(spark: SparkSession, dir: String): DataFrame = {
    val bits = gateBits(Tables.footerCount(spark, dir, "embeddings"))
    val e = Tables.spread(Tables.t(spark, dir, "embeddings"))
      .select(col("vec_id"), col("embedding"),
              signBits(col("embedding"), bits).as("bucket"))
    val corpus = e.filter(col("vec_id") % 2 === 0)
      .select(col("bucket"), col("vec_id").as("c_id"),
              col("embedding").as("c_emb"))
    val batch = e.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id"), col("embedding"),
        explode(probeBuckets(col("bucket"), bits, ProbeRadius))
          .as("bucket"))
    admissionFromCandidates(
      batch.join(corpus, Seq("bucket"), "left")
        .select(col("vec_id"), col("c_id"),
          when(col("c_id").isNotNull,
            round(cosine(col("embedding"), col("c_emb")), 6)).as("sim")))
  }

  /** Shared verdict tail of the incremental ANN admission gate — used by
    * both the batch operator above and its streaming twin
    * (EventStream.annAdmissionStream), so the two can't drift: reduce a
    * (vec_id, c_id, sim) candidate relation (c_id/sim null ⇔ an empty
    * probed bucket) to one verdict row per vector. The argmax is a
    * max(struct(sim, −id)) — one aggregate, no window over the corpus,
    * deterministic in both engines; null sims sort below any real one. */
  private[graft] def admissionFromCandidates(cands: DataFrame): DataFrame =
    cands
      .groupBy(col("vec_id"))
      .agg(count(col("c_id")).as("n_candidates"),
           max(struct(col("sim"), (-col("c_id")).as("nid"))).as("m"))
      .select(col("vec_id"), col("n_candidates"),
        (-col("m")("nid")).as("best_match"),
        col("m")("sim").as("best_sim"),
        coalesce(col("m")("sim") < 0.9, lit(true)).as("admit"))
      .orderBy(col("vec_id"))

  /** IVF-style ANN: a coarse quantizer assigns every vector to its nearest
    * centroid cell (inverted lists); search only probes the query's own
    * cell. The codebook size scales with the corpus — C = ⌈√N⌉ — so
    * in-cell scoring is N²/C = N^1.5, the standard IVF balance; a FIXED C
    * would degrade quadratically as the corpus grows (measured 9× on a
    * 10× scale-up before this). Centroids are the C hash-min vectors
    * (vecSample) — a deterministic stand-in for a k-means codebook
    * (codebook training is offline; the SEARCH dataflow is what must
    * scale). Shape at 100 TB:
    * centroids broadcast (assignment is map-side), corpus shuffles once
    * on cell id, per-cell candidate scoring via hash join. */
  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    // One ivfAssigned per operator: both join legs derive from the same
    // assignment DataFrame, so the codebook setup (footer count + C-row
    // collect/sort) runs once, not once per leg (the execution-time
    // self-join still scans twice — that's the join, not the setup).
    val asg = ivfAssigned(spark, dir)
    val q = asg
      .select(col("cell"), col("vec_id").as("query_id"),
              col("embedding").as("q_emb"))
    val c = asg
      .select(col("cell"), col("vec_id").as("neighbor_id"),
              col("embedding").as("n_emb"))
    rankTopK(
      q.join(c, Seq("cell"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
                round(cosine(col("q_emb"), col("n_emb")), 6).as("sim")),
      k = 3)
  }

  /** Quantized retrieval with exact rescoring — the production ANN
    * memory/bandwidth pattern: the INDEX holds int8 codes (4× smaller
    * than fp32; what actually ships to a search tier), candidates are
    * ranked by the INTEGER dot product of codes (exact in both engines —
    * |code| ≤ 127, so a 64-dim dot is ≤ ~10⁶: no float summation
    * anywhere in candidate selection, which makes the approximate stage
    * deterministically reproducible, unlike a float proxy score), and
    * only the surviving ≤ 15 candidates per query join BACK to the
    * fp32 table by id for the exact cosine that decides the final k=3.
    *
    * Scale shape: codes are a map-side projection (the same per-vector
    * symmetric scale embedding_quantize ships); candidates meet through
    * the margin-directed sign-LSH tier (the budgeted probe explode of
    * directedProbes — never all pairs, and the same candidate universe
    * every other search-tier member sees); the rescore join touches
    * Θ(candidates) fp32 rows — at 100 TB the fp32 table stays in cold
    * storage and only candidate ids hit it. */
  def annQuant(spark: SparkSession, dir: String): DataFrame = {
    val bits = adaptiveBits(Tables.footerCount(spark, dir, "embeddings"))
    val base = Tables.spread(Tables.t(spark, dir, "embeddings"))
    val codes = base
      .withColumn("scale", greatest(aggregate(col("embedding"), lit(0.0),
        (acc, x) => greatest(acc, abs(x.cast("double")))) / 127.0,
        lit(1e-12)))
      .select(col("vec_id"), col("embedding"),
        signBits(col("embedding"), bits).as("sig"),
        transform(col("embedding"),
          x => round(x.cast("double") / col("scale")).cast("long"))
          .as("code"))
    val q = codes
      .join(broadcast(vecSampleIds(spark, dir, 10)), Seq("vec_id"),
        "left_semi")
      .select(col("vec_id").as("query_id"), col("code").as("q_code"),
        explode(directedProbes(col("sig"), col("embedding"), bits))
          .as("sig"))
    val c = codes.select(col("sig"), col("vec_id").as("neighbor_id"),
                         col("code").as("n_code"))
    val cand = q.join(c, Seq("sig"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        aggregate(zip_with(col("q_code"), col("n_code"), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x).as("int_dot"))
      .withColumn("crank", row_number().over(Window
        .partitionBy(col("query_id"))
        .orderBy(col("int_dot").desc, col("neighbor_id"))))
      .filter(col("crank") <= 15)
      .select(col("query_id"), col("neighbor_id"))
    val emb = base.select(col("vec_id"), col("embedding"))
    rankTopK(
      cand
        .join(emb.withColumnRenamed("vec_id", "query_id")
          .withColumnRenamed("embedding", "q_emb"), Seq("query_id"))
        .join(emb.withColumnRenamed("vec_id", "neighbor_id")
          .withColumnRenamed("embedding", "n_emb"), Seq("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
                round(cosine(col("q_emb"), col("n_emb")), 6).as("sim")),
      k = 3)
  }

  // ---- Product quantization (IVF-PQ) ---------------------------------
  // m subspaces × k codes over the 64-dim fixture vectors: the memory
  // tier BELOW scalar int8 (annQuant): 4 code bytes/vector instead of 64,
  // the layout an in-RAM search tier actually holds at 10⁹+ vectors.
  private val pqM = 4 // subspaces
  private val pqSub = 16 // dims per subspace
  // PROBE DIALS (-Dgraft.pq.k / -Dgraft.pq.nprobe): dev-only overrides
  // for the RecallCurve scale measurements — defaults are the shipped
  // values, and the oracles/specs only ever run at the defaults. A
  // malformed value fails naming the property (the bandingOn doctrine).
  private def probeDial(prop: String, dflt: Int): Int =
    sys.props.get(prop).map(v => v.toIntOption.getOrElse(
      sys.error(s"-D$prop must be an int, got '$v'"))).getOrElse(dflt)
  /** Codes per subspace — the RESOLUTION dial of the PQ tier, and the
    * round-14 probe's finding: recall at the 2M-vector decade is
    * resolution-bound before it is depth-bound (k=16 → 0.30, k=64 →
    * 0.40, k=256 → 0.60 at the same pool-proportional rescore depth).
    * A fixed k=16 gives k^m = 65,536 distinct full codes FOREVER: past
    * ~65k vectors multiple corpus vectors share every code, ADC scores
    * tie in blocks, and any rescore cut is arbitrary among ties — the
    * fixed-IVF-codebook failure class in code space. k grows so the
    * full-code space keeps pace with the corpus (k ≥ N^(1/m), pow-2 so
    * codes stay aligned bit fields), clamped to [16, 256]: 16 at every
    * fixture scale (opens past 16⁴ = 65,536 vectors — PropertySpec
    * pins the fixture equality, and the oracle's 16-seed recipe stays
    * exact where the gate runs), 64 at 2M, 256 from ~1B up. Cost is
    * negligible everywhere it matters: learn is an m·k·subdim-group
    * aggregate (16k groups at the cap), encode argmax is Θ(k·subdim)
    * map-side per vector, and the shipped code stays m·log2(k)/8 ≤ 4
    * bytes/vector — still 64× below fp32. */
  private[graft] def pqKAdaptive(n: Long): Int = {
    val raw = math.ceil(math.pow(n.toDouble, 0.25)).toInt
    if (raw <= 16) 16
    else math.min(256, Integer.highestOneBit(raw - 1) << 1)
  }
  private def pqK(n: Long): Int = probeDial("graft.pq.k", pqKAdaptive(n))
  /** Probed cells per query — SCALE-ADAPTIVE (round-15, closing the
    * round-14 verdict's 0.90-at-2M residual). The dial is
    * scale-dependent in OPPOSITE directions, so neither constant
    * survives both regimes; the full measured grid (recall@5, shipped
    * tie-class/frac rule, 10 queries, SCALE.md round-15):
    *
    *   N      nprobe=1   nprobe=2
    *   ~2k      0.72       0.90   (sf0.01 gate, r13)
    *   20k      0.90       1.00
    *   200k     0.98       1.00
    *   500k     1.00       1.00   (the tie point)
    *   2M       1.00       0.90
    *   5M       1.00       1.00
    *
    * Below ~500k cells are few and small, the Voronoi-boundary effect
    * dominates (true neighbors land in the adjacent cell), and the
    * second probe buys recall. From ~500k up the own cell already
    * covers the answer set (√N-sized cells; near-dup corpora
    * co-assign) and the second cell only adds ~√N ADC-noise
    * candidates: at best a tie (500k, 5M), at 2M a measured 0.10 LOSS
    * (noise rows displacing truth from the bounded rank cut), and
    * always ~25–30% more search/rescore cost (2M methods wall 108.7 s
    * at nprobe=1 vs 142.5 s at nprobe=2; 5M: 378 vs 423 s). The switch
    * sits at 1M, between the measured 500k tie and the measured 2M win;
    * every fixture scale (≤ 20k) keeps nprobe=2, so gate results and
    * oracles are untouched (PropertySpec pins the fixture equality).
    * Rescore depth stays the per-query windowed rule — bounded, and
    * with one probed cell the pool halves, so the depth guard tightens
    * at exactly the scale that earns it. */
  private[graft] def pqNprobeAdaptive(n: Long): Int =
    if (n >= 1000000L) 1 else 2
  private def pqNprobe(n: Long): Int =
    probeDial("graft.pq.nprobe", pqNprobeAdaptive(n))

  /** Key of a model or artifact learned from a dir's embeddings. */
  private def embKey(name: String, dir: String): graft.Staged.Key =
    graft.Staged.key(name, dir, "embeddings")

  /** Spherical product-quantization assignment: per subspace, ONE Lloyd
    * refinement from the hash-min `pqK` seed slices (the kmeansAssign
    * doctrine — deterministic seed + fixed iteration count is what makes
    * a clustering oracle-checkable), cosine-argmax code assignment through
    * the codegen'd CentroidArgmax on `slice(embedding, …)` (map-side, no
    * codebook crossJoin), and the standard empty-code fallback: a code
    * no vector chose keeps its SEED centroid (the refinement mean is
    * undefined there; at sf0.001's 50 vectors some of the 4×16 codes ARE
    * empty, so the rule is load-bearing, not theoretical).
    *
    * Scale shape: learn = one N·dim posexplode aggregate (m·k·subdim =
    * 1024 groups cross the wire regardless of N), run ONCE per corpus
    * (Staged.value); encode = pure map-side projection with the
    * 4×16×16-double codebook shipped inside the expression — staged once
    * as the pq_codes artifact (Staged.layer), so every consuming
    * query reads the 4-byte/vector code table a PQ index actually ships
    * instead of re-encoding the corpus. Returns (staged code frame with
    * c0..c3, refined codebook, code ids). */
  private def pqModel(spark: SparkSession, dir: String)
      : (Array[Array[Array[Double]]], Array[Long]) =
    graft.Staged.value(embKey("pq_model", dir)) {
      val e = Tables.spread(Tables.t(spark, dir, "embeddings"))
        .select(col("vec_id"), col("embedding"))
      // Seeds = hash-min k sample (vecSample — works on any id space);
      // k = pqKAdaptive(corpus) — 16 at every gate scale, so the
      // oracle's 16-seed ROW_NUMBER() recipe stays exact where the gate
      // runs. The CODE a seed carries is its RANK among the seeds
      // ordered by vec_id (0..k−1, the oracle's ROW_NUMBER()−1), because
      // the recon stage indexes the codebook array by code+1: codes must
      // be dense ordinals even though vec_ids need not be.
      val k = pqK(Tables.footerCount(spark, dir, "embeddings"))
      val seed = vecSample(spark, dir, k)
        .select(col("vec_id"), col("embedding")).collect()
        .sortBy(_.getLong(0))
      val ids = Array.tabulate(k)(_.toLong)
      val cb1: Array[Array[Array[Float]]] = Array.tabulate(pqM) { s =>
        seed.map(_.getSeq[Float](1)
          .slice(s * pqSub, (s + 1) * pqSub).toArray)
      }

      val withA1 = (0 until pqM).foldLeft(e) { (d, s) =>
        d.withColumn(s"a1_$s", graft.functions.CentroidArgmax.assign(
          slice(col("embedding"), s * pqSub + 1, pqSub), cb1(s), ids))
      }
      // refinement means: m·k·subdim tiny aggregate (6-dp rounded — the
      // kmeansAssign partial-agg-vs-sequential-AVG absorption)
      val meanRows = withA1
        .select(array((0 until pqM).map(s => col(s"a1_$s")): _*)
                  .as("codes"),
                posexplode(col("embedding")))
        .select(floor(col("pos") / pqSub).cast("int").as("s"),
          element_at(col("codes"),
            floor(col("pos") / pqSub).cast("int") + 1).as("code"),
          pmod(col("pos"), lit(pqSub)).as("d"),
          col("col").cast("double").as("v"))
        .groupBy(col("s"), col("code"), col("d"))
        .agg(round(avg(col("v")), 6).as("m"))
        .collect()
      val cb2: Array[Array[Array[Double]]] =
        cb1.map(_.map(_.map(_.toDouble)))
      meanRows.foreach { r =>
        cb2(r.getInt(0))(r.getLong(1).toInt)(r.getInt(2)) = r.getDouble(3)
      }
      (cb2, ids)
    }

  private def pqAssignedFull(spark: SparkSession, dir: String)
      : (DataFrame, Array[Array[Array[Double]]], Array[Long]) = {
    val (cb2, ids) = pqModel(spark, dir)
    val asg = graft.Staged.layer(spark, embKey("pq_codes", dir)) {
      val e = Tables.spread(Tables.t(spark, dir, "embeddings"))
        .select(col("vec_id"), col("embedding"))
      (0 until pqM).foldLeft(e) { (d, s) =>
        d.withColumn(s"c$s", graft.functions.CentroidArgmax.assignD(
          slice(col("embedding"), s * pqSub + 1, pqSub), cb2(s), ids))
      }.select(col("vec_id") +: (0 until pqM).map(s => col(s"c$s")): _*)
    }
    (asg, cb2, ids)
  }

  /** PQ code table: each vector's 4 subspace code ids — the artifact a
    * PQ index SHIPS (4 bytes/vector at k=16; the fp32 table stays in
    * cold storage for the rescore tier only). */
  def pqCodes(spark: SparkSession, dir: String): DataFrame =
    pqAssignedFull(spark, dir)._1
      .select(col("vec_id"), col("c0"), col("c1"), col("c2"), col("c3"))
      .orderBy(col("vec_id"))

  /** IVF-PQ retrieval — the production composition of the two index
    * tiers this family already ships separately: IVF cells bound the
    * candidate set (annIvf), PQ codes price its scoring (annQuant priced
    * it with scalar int8; PQ is 16× smaller again), and the fp32 rescore
    * decides the final k. Candidate score = asymmetric distance
    * computation (ADC): dot(query_fp32, PQ-reconstruction(neighbor)) —
    * the reconstruction is a map-side element_at into the broadcast
    * codebook literal on the CANDIDATE side before the cell join, so the
    * join dots two ready arrays and codes never shuffle with payloads.
    * ADC is rounded to 6 dp with neighbor-id tie-break (ranking
    * doctrine) before the top-15 cut; survivors join BACK to fp32 by id
    * for the exact cosine that decides k=3. */
  def simAnnPq(spark: SparkSession, dir: String): DataFrame =
    rankTopK(pqRescoredPairs(spark, dir), k = 3)

  /** The round-13 global rescore-depth model — superseded in round 14
    * by the PER-QUERY windowed rule at the use site (see the SCALE DIAL
    * comment in pqRescoredPairs: cell occupancy is skewed on clustered
    * corpora, so the uniform-cell model understates real pools). Kept
    * as the MODELED reference the probe tooling prints next to the
    * measured per-query pools. */
  private[graft] def adcRescoreDepth(nVecs: Long): Long = {
    val poolSize = 2.0 * nVecs / math.ceil(math.sqrt(nVecs.toDouble))
    math.max(30L, math.ceil(poolSize / 3.0).toLong)
  }

  /** The IVF-PQ candidate tier (top-15 ADC per query) with the exact
    * fp32 rescore — shared by simAnnPq (final k=3) and annRecall's 'pq'
    * method (recall@5 of this tier). */
  private def pqRescoredPairs(spark: SparkSession, dir: String)
      : DataFrame = {
    val (asg, cb2, _) = pqAssignedFull(spark, dir)
    val cells = ivfAssigned(spark, dir).select(col("vec_id"), col("cell"))
    val cbLits = (0 until pqM).map(s =>
      typedLit(cb2(s).map(_.toSeq).toSeq))
    val recon = concat((0 until pqM).map(s =>
      element_at(cbLits(s), col(s"c$s").cast("int") + 1)): _*)
    val joined = asg.join(cells, "vec_id")
    // nprobe = 2: queries probe their TWO nearest cells (the IVF-PQ
    // recall dial — a single-cell probe caps recall at whatever fraction
    // of true neighbors the Voronoi boundary keeps; measured 0.72@5 at
    // nprobe=1 vs 0.90 at nprobe=2 on the sf0.01 gate). The probe-cell
    // ranking is a bounded cross join: the QUERY SAMPLE (10 rows)
    // against the ⌈√N⌉-row broadcast centroid table, ranked per query by
    // the 6-dp-quantized cosine with centroid-id tie-break — Θ(|Q|·C)
    // rows total, never corpus-proportional. Corpus vectors keep their
    // single argmax cell (probing is a QUERY-side dial; re-homing the
    // index would change the stored layout). Candidate sets stay
    // disjoint across the two probed cells, so no dedup stage is needed.
    // the probe-cell ranking reads the TRAINED codebook (ivfModel) as a
    // local relation — no re-scan of the corpus for the centroid draw
    val centDf = {
      val (cents, ids) = ivfModel(spark, dir)
      import spark.implicits._
      ids.zip(cents.map(_.toSeq)).toSeq.toDF("cent_id", "cent")
    }
    val q = vecSample(spark, dir, 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .crossJoin(broadcast(centDf))
      .withColumn("crn", row_number().over(Window
        .partitionBy(col("query_id"))
        .orderBy(round(cosineHof(col("q_emb"), col("cent")), 6).desc,
                 col("cent_id"))))
      .filter(col("crn") <=
        pqNprobe(Tables.footerCount(spark, dir, "embeddings")))
      .select(col("cent_id").as("cell"), col("query_id"), col("q_emb"))
    val c = joined.select(col("cell"), col("vec_id").as("neighbor_id"),
                          recon.as("recon"))
    val adc = aggregate(zip_with(col("q_emb"), col("recon"),
        (a, b) => a.cast("double") * b), lit(0.0), (s, x) => s + x)
    // rescore depth scales WITH nprobe (15 per probed cell): a fixed cut
    // over 2× the candidates lets ADC quantization noise evict true
    // neighbors the single-cell cut kept — measured recall@5 0.68 at
    // nprobe=2/cut=15 vs 0.90 at nprobe=2/cut=30.
    // SCALE DIAL (round-14, superseding round-13's global formula):
    // depth = max(30, ⌈pool_q/3⌉) PER QUERY, where pool_q is the
    // query's MEASURED candidate count — a COUNT over the same window
    // the rank already partitions by, so it costs nothing extra. Two
    // measured reasons over the round-13 global max(30, ⌈(2N/⌈√N⌉)/3⌉):
    // (1) the r13 form modeled every cell at the N/⌈√N⌉ average, but
    // cell occupancy is skewed on clustered corpora (the 5M probe's
    // 1000-copy cliques co-assign) — at 2M vectors a cut at the MODELED
    // pool/1.0 still lost 20% recall because real pools run larger
    // (k=256: 0.60 at modeled/3, 0.70 at modeled·2/3, 0.80 at
    // modeled·1 — the gap to IVF's 1.00 is exactly the
    // modeled-vs-actual pool gap); the per-query form tracks the pool
    // that actually exists. (2) it removes the fixture-exactness
    // tightrope entirely: the ORACLE computes the identical windowed
    // rule (COUNT(*) OVER the same partition), so parity holds at EVERY
    // scale by construction instead of resting on fixture pools staying
    // under a literal's boundary.
    // TIE-CLASS EXTENSION (round-14, the 2M-vector probe's second
    // finding): the fraction cut alone still lost 30-50% recall at 2M
    // (0.50 at k=64, 0.70 at k=256) while a full-pool rescore measured
    // 1.00 at any k — so the pool always CONTAINS the truth and the
    // loss is entirely ADC ordering. On duplication-heavy corpora the
    // candidates a query most wants are near-copies that share PQ
    // codes, so their ADC scores TIE in blocks and a row_number cut
    // slices arbitrarily through the block (the information-theoretic
    // floor: codes cannot order identical-code members — no resolution
    // dial fixes that, k=256 measured the same shape). The rule that
    // respects ties: rescore every member of the top-30 DISTINCT ADC
    // score classes (dense_rank ≤ 30 — subsumes the old 30-row floor),
    // OR the top pool_q/3 rows (the noise-displacement guard the 200k
    // probe needed). Tie classes are answer-driven — a block of
    // same-code candidates IS a near-dup clique, so the extension is
    // Θ(answers) like a dedup pair relation, while spread ADC scores
    // keep the cut at ~30 rows. Measured at 2M (k=64): 0.50 → 0.90
    // with this shipped rule; the residual to 1.00 is pure rescore
    // fraction (frac=2 still 0.90, full pool 1.00 — the full r14 dial
    // grid is in SCALE.md, including fixed-depth-30 scoring 0.00 at
    // any nprobe). The ORACLE computes the identical two-window rule,
    // so parity holds at every scale by construction. -Dgraft.pq.depth
    // (probe dial) forces a fixed row cut for measurement runs.
    val fixedDepth = probeDial("graft.pq.depth", -1)
    val frac = probeDial("graft.pq.frac", 3) // probe dial, shipped = 3
    val keep =
      if (fixedDepth > 0) col("crank") <= lit(fixedDepth.toLong)
      else col("drank") <= 30L ||
        col("crank") <= ceil(col("cpool") / frac.toDouble).cast("long")
    val cand = q.join(c, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), round(adc, 6).as("adc"))
      .withColumn("crank", row_number().over(Window
        .partitionBy(col("query_id"))
        .orderBy(col("adc").desc, col("neighbor_id"))))
      .withColumn("drank", dense_rank().over(Window
        .partitionBy(col("query_id"))
        .orderBy(col("adc").desc)))
      .withColumn("cpool", count(lit(1)).over(Window
        .partitionBy(col("query_id"))))
      .filter(keep)
      .select(col("query_id"), col("neighbor_id"))
    val emb = Tables.t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    cand
      .join(emb.withColumnRenamed("vec_id", "query_id")
        .withColumnRenamed("embedding", "q_emb"), Seq("query_id"))
      .join(emb.withColumnRenamed("vec_id", "neighbor_id")
        .withColumnRenamed("embedding", "n_emb"), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
              round(cosine(col("q_emb"), col("n_emb")), 6).as("sim"))
  }

  /** IVF cell assignment, shared by annIvf and annRecall: every vector
    * labeled with its nearest-centroid cell. */
  /** The IVF coarse codebook — (centroid vectors, centroid ids), learned
    * once per corpus (Staged.value: before this, every consuming query
    * re-ran the footer count + hash-min TakeOrdered + C-row collect as
    * its own setup jobs). */
  private[ops] def ivfModel(spark: SparkSession, dir: String)
      : (Array[Array[Float]], Array[Long]) =
    graft.Staged.value(embKey("ivf_model", dir)) {
      // count() is answered from parquet footer metadata (no data scan);
      // the centroid draw is the hash-min TakeOrdered — one scan,
      // C·#partitions rows moved, works on any id space.
      val nCents = math.ceil(math.sqrt(
        Tables.footerCount(spark, dir, "embeddings").toDouble)).toInt
      val centRows = vecSample(spark, dir, nCents)
        .select(col("vec_id"), col("embedding")).collect()
        .sortBy(_.getLong(0))
      (centRows.map(_.getSeq[Float](1).toArray),
       centRows.map(_.getLong(0)))
    }

  private def ivfAssigned(spark: SparkSession, dir: String): DataFrame =
    // The CELL TABLE is a staged artifact (Staged.layer — the
    // pq_codes shape): (cell, vec_id, embedding) is exactly what an
    // IVF-Flat index SHIPS (inverted lists carrying the vectors), so
    // the assignment scan runs once per corpus and every consumer
    // (sim_ann_ivf, cluster_balance, ivf_retrain, ann_recall's ivf leg)
    // reads the published table — the offline-writes/online-reads
    // deployment shape, not a per-query re-encode.
    graft.Staged.layer(spark, embKey("ivf_cells", dir)) {
      val e = Tables.spread(Tables.t(spark, dir, "embeddings"))
      // The codebook is a MODEL PARAMETER (C = ⌈√N⌉ rows, KBs even at
      // 10⁹ vectors), collected once and shipped to executors inside the
      // codegen'd CentroidArgmax expression — exactly how a trained
      // quantizer deploys. Assignment is then a pure map-side projection
      // in one fused loop: no crossJoin against a centroid relation, no
      // argmax aggregation, no shuffle, and whole-stage codegen stays
      // intact (a greatest() over C struct comparisons breaks codegen
      // past a few dozen centroids — measured as a full interpreted
      // fallback).
      val (cents, ids) = ivfModel(spark, dir)
      e.withColumn("cell", graft.functions.CentroidArgmax.assign(
          col("embedding"), cents, ids))
        .select(col("cell"), col("vec_id"), col("embedding"))
    }

  /** IVF cell-occupancy audit — the index-health report an ANN
    * deployment watches between codebook retrains: occupied/empty cell
    * counts, min/max/mean members per occupied cell, and the skew ratio
    * max/mean (the number that says one cell is becoming a mega-bucket —
    * the same failure class adaptiveBits defends the sign-LSH tier
    * against, here measured instead of prevented because the ⌈√N⌉
    * codebook is retrainable). Everything derives from the Θ(√N)
    * cell-size relation: one map-side-combinable count per cell, then a
    * 1-row aggregate — the corpus is scanned once for the map-side
    * assignment and nothing row-level survives the first shuffle. */
  def clusterBalance(spark: SparkSession, dir: String): DataFrame = {
    val nCents = math.ceil(math.sqrt(
      Tables.footerCount(spark, dir, "embeddings").toDouble)).toLong
    ivfAssigned(spark, dir)
      .groupBy(col("cell")).agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("n_occupied"),
           sum(col("sz")).as("n_vecs"),
           min(col("sz")).as("min_sz"),
           max(col("sz")).as("max_sz"))
      .select(
        lit(nCents).as("n_cells"),
        col("n_occupied"),
        (lit(nCents) - col("n_occupied")).as("n_empty"),
        col("n_vecs"), col("min_sz"), col("max_sz"),
        // +1e-9: deterministic decimal-tie break, see q1Agg
        round(col("n_vecs") / col("n_occupied") + 1e-9, 4).as("mean_sz"),
        round(col("max_sz") * col("n_occupied") / col("n_vecs") + 1e-9, 4)
          .as("skew_ratio"))
  }

  /** IVF codebook retrain — the lifecycle step clusterBalance's audit
    * exists to trigger, closing the loop the round-10 review left open
    * (the audit measured skew; nothing consumed the signal). The audit
    * row is collected (1 row — the gated-collect doctrine) and its
    * skew_ratio gates the retrain at 1.25: below the gate the index is
    * healthy and the report echoes the before-stats with
    * retrained=false; above it, ONE Lloyd update runs from the CURRENT
    * assignment — per-cell 6-dp dimension means become the refined
    * codebook (a cell with no members keeps its seed centroid, the PQ
    * empty-code rule), the corpus re-homes map-side through the
    * codegen'd argmax, and the report carries occupancy before/after.
    *
    * Scale: the update is the kmeansFull shape — one posexplode
    * aggregate with C·dim groups on the wire, the refined codebook a
    * driver-side model parameter (√N·dim doubles — ~16 MB at 10⁹
    * vectors), re-homing one map-side pass, and the report a 1-row
    * aggregate. Nothing row-level survives the first shuffle. */
  def ivfRetrain(spark: SparkSession, dir: String): DataFrame = {
    val gate = 1.25
    val bal = clusterBalance(spark, dir).collect().head
    val nCells = bal.getLong(0)
    val occB = bal.getLong(1)
    val nVecs = bal.getLong(3)
    val maxB = bal.getLong(5)
    val skewB = bal.getDouble(7)
    val retrained = skewB > gate
    import spark.implicits._
    val after =
      if (!retrained)
        Seq((occB, maxB)).toDF("n_occupied_after", "max_sz_after")
      else {
        val (cents, ids) = ivfModel(spark, dir)
        val meanMap = ivfAssigned(spark, dir)
          .select(col("cell"), posexplode(col("embedding")))
          .groupBy(col("cell"), col("pos"))
          .agg(round(avg(col("col").cast("double")), 6).as("v"))
          .groupBy(col("cell"))
          .agg(collect_list(struct(col("pos"), col("v"))).as("pv"))
          .select(col("cell"),
                  transform(array_sort(col("pv")), p => p("v")).as("cent"))
          .collect()
          .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
        val cb2 = ids.zip(cents).map { case (id, c) =>
          meanMap.getOrElse(id, c.map(_.toDouble)) }
        Tables.spread(Tables.t(spark, dir, "embeddings"))
          .withColumn("cell", graft.functions.CentroidArgmax.assignD(
            col("embedding"), cb2, ids))
          .groupBy(col("cell")).agg(count(lit(1)).as("sz"))
          .agg(count(lit(1)).as("n_occupied_after"),
               max(col("sz")).as("max_sz_after"))
      }
    after.select(
      lit(nCells).as("n_cells"), lit(nVecs).as("n_vecs"),
      lit(occB).as("n_occupied_before"), lit(maxB).as("max_sz_before"),
      lit(skewB).as("skew_before"), lit(retrained).as("retrained"),
      col("n_occupied_after"), col("max_sz_after"),
      round(col("max_sz_after") * col("n_occupied_after") /
        lit(nVecs.toDouble) + 1e-9, 4).as("skew_after"))
  }

  /** Per-query recall of an ANN leg against exact truth — the shared
    * metric tail of annRecall and annDimTradeoff. Both sides are
    * ≤ |Q|·k rows, so the ANN leg broadcasts and the per-method tail
    * stays exchange-free. */
  private def recallAgainst(truth: DataFrame, ann: DataFrame,
      method: String): DataFrame =
    truth.as("t")
      .join(broadcast(ann.as("a")),
        col("t.query_id") === col("a.query_id") &&
          col("t.neighbor_id") === col("a.neighbor_id"), "left")
      .groupBy(col("t.query_id").as("query_id"))
      .agg(count(lit(1)).as("n_truth"),
           count(col("a.neighbor_id")).as("n_hit"))
      .select(lit(method).as("method"), col("query_id"),
        col("n_truth"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_truth") + 1e-9, 4)
          .as("recall"))

  /** Dimension-truncation retrieval evaluation — the matryoshka
    * question a vector tier answers before choosing how many dimensions
    * its index actually stores: recall@5 of brute-force cosine over the
    * FIRST d dims (d ∈ 8/16/32/64) against the full-dim exact truth on
    * the hash-min probe sample. Truncation is the cheapest compression
    * dial there is (a prefix slice — no codebook, no training), so this
    * curve is what decides whether the PQ/int8 tiers are even needed at
    * a given recall target; the d=64 leg equals the truth by
    * construction (recall 1.0 — the self-check row).
    *
    * Scale: each leg is the priced bounded-probe brute (|Q|·N map-side
    * dot products over the broadcast sample, k-heap rank — topKBrute's
    * shape, 4 legs); the metric tails are the shared ≤ |Q|·k broadcast
    * joins. Nothing corpus-sized shuffles. */
  def annDimTradeoff(spark: SparkSession, dir: String): DataFrame = {
    val k = 5
    val truth = topKBrute(spark, dir)
      .select(col("query_id"), col("neighbor_id"))
    val e = Tables.spread(Tables.t(spark, dir, "embeddings"))
      .select(col("vec_id").as("neighbor_id"),
              col("embedding").as("n_emb"))
    val q = vecSample(spark, dir, 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val legs = Seq(8, 16, 32, 64).map { d =>
      val ann = rankTopK(
        broadcast(q).crossJoin(e)
          .filter(col("query_id") =!= col("neighbor_id"))
          .select(col("query_id"), col("neighbor_id"),
            round(cosine(slice(col("q_emb"), 1, d),
                         slice(col("n_emb"), 1, d)), 6).as("sim")),
        k)
      recallAgainst(truth, ann, f"d$d%02d")
    }
    legs.reduce(_.unionAll(_)).orderBy(col("method"), col("query_id"))
  }

  /** Recall@k evaluation of BOTH approximate paths (sign-LSH buckets and
    * IVF cells) against exact brute-force ground truth on the probe
    * sample — the method-comparison loop every ANN deployment runs
    * before trusting its index parameters. Truth = brute top-5 per probe
    * (corpus streams once past the broadcast probe set); each method's
    * candidates come from its own blocking join; recall = |ANN ∩ truth|
    * / |truth| per (method, query). Evaluation always runs on a bounded
    * probe SAMPLE (here the hash-min 10), so the |Q|·N exact pass is a
    * deliberate, sized cost — that is what makes ground truth affordable
    * at any corpus size.
    *
    * History: on the synthetic fixture the round-4 SINGLE-probe LSH tier
    * measured recall@5 = 0.02 (a true top-5 neighbor rarely agrees on
    * all 8 sign bits of unstructured vectors) — exactly the measurement
    * that tells an operator to add probes before shipping an index. The
    * round-8 blind Hamming ≤ 3 ball raised it to 0.70; the round-9
    * margin-directed budget tier (directedProbes) measures 0.80 here
    * with FEWER candidates than the ball spent (0.92×), closing most of
    * the gap to IVF's 0.88 — the ProbeRadius scaladoc carries the
    * distance histogram the ball couldn't afford to cover. */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    val k = 5
    val truth = topKBrute(spark, dir) // probes the hash-min 10, top-5

    def recallOf(ann: DataFrame, method: String): DataFrame =
      recallAgainst(truth, ann, method)

    val probeIds = vecSampleIds(spark, dir, 10)
    val lsh = rankTopK(
      lshCandidates(spark, dir, Some(probeIds)), k)

    val asg = ivfAssigned(spark, dir)
    val ivf = rankTopK(
      asg.join(broadcast(probeIds), Seq("vec_id"), "left_semi")
        .select(col("cell"), col("vec_id").as("query_id"),
                col("embedding").as("q_emb"))
        .join(asg.select(col("cell"), col("vec_id").as("neighbor_id"),
                         col("embedding").as("n_emb")), Seq("cell"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
                round(cosine(col("q_emb"), col("n_emb")), 6).as("sim")),
      k)

    // the compression tier: recall@5 of the IVF-PQ candidate stage —
    // one method per index family (hash / partition / compression)
    val pq = rankTopK(pqRescoredPairs(spark, dir), k)

    recallOf(lsh, "lsh").unionAll(recallOf(ivf, "ivf"))
      .unionAll(recallOf(pq, "pq"))
      .orderBy(col("method"), col("query_id"))
  }

  /** Deterministic k-means over the embedding corpus — ONE Lloyd's
    * refinement from a fixed seed codebook (the k hash-min vectors),
    * output = final cluster assignment per vector. The seed codebook is
    * the k hash-min vectors (vecSample). This is the corpus
    * clustering step of an embedding pipeline (topic bucketing, cluster
    * dedup, per-cluster sampling); iteration count and seed are fixed so
    * the result is reproducible and oracle-checkable (a converged k-means
    * is neither — init and float order change the fixpoint).
    *
    * The dataflow is the canonical distributed k-means shape, and every
    * stage is 100 TB-clean:
    *   1. assign: codebook broadcast INSIDE the codegen'd CentroidArgmax
    *      expression — pure map-side projection over the corpus, no
    *      crossJoin, no shuffle (same deployment shape as the IVF
    *      quantizer above).
    *   2. update: element-wise cluster means via posexplode →
    *      partial-aggregating groupBy on (cluster, dim) — exactly k·dim
    *      groups cross the wire regardless of corpus size.
    *   3. re-assign with the updated codebook: map-side again.
    * The k·dim mean matrix is a MODEL PARAMETER (KBs), so collecting it
    * to the driver between iterations is the algorithm, not a scale
    * leak — production k-means (mllib included) does the same per round.
    *
    * Determinism doctrine: cluster means are rounded to 6 dp (absorbing
    * partial-agg summation-order ulps vs the oracle's sequential AVG) and
    * CentroidArgmax ranks on 6-dp-quantized cosine with lowest-id
    * tie-break — matching the oracle's ROW_NUMBER exactly. */
  def kmeansAssign(spark: SparkSession, dir: String): DataFrame =
    kmeansFull(spark, dir)._1
      .select(col("vec_id"), col("cluster"))
      .orderBy(col("vec_id"))

  /** kmeansAssign plus its model parameters — (assignment frame carrying
    * embeddings, refined centroid matrix, centroid ids) — for the
    * cluster-aware consumers that need the CENTROIDS too (mmrSelect's
    * relevance leg). Same dataflow as kmeansAssign (which is now a
    * projection of this). */
  private[ops] def kmeansFull(spark: SparkSession, dir: String)
      : (DataFrame, Array[Array[Double]], Array[Long]) = {
    val e = Tables.spread(Tables.t(spark, dir, "embeddings"))
      .select(col("vec_id"), col("embedding"))
    // the refined centroid matrix is learned once per corpus (Staged.value)
    // — seed draw, first assignment, and the k·dim mean aggregate are
    // the offline learn pass; consumers only re-run the map-side
    // assignment projection
    val (cents2, ids2) = graft.Staged.value(embKey("kmeans_model", dir)) {
      val k = 8
      val seed = vecSample(spark, dir, k)
        .select(col("vec_id"), col("embedding")).collect()
        .sortBy(_.getLong(0))
      val cents1 = seed.map(_.getSeq[Float](1).toArray)
      val ids = seed.map(_.getLong(0))

      val asg1 = e.withColumn("cluster",
        graft.functions.CentroidArgmax.assign(
          col("embedding"), cents1, ids))

      // update step: k·dim tiny aggregate, dims sorted back into arrays
      val meanRows = asg1
        .select(col("cluster"), posexplode(col("embedding")))
        .groupBy(col("cluster"), col("pos"))
        .agg(round(avg(col("col").cast("double")), 6).as("v"))
        .groupBy(col("cluster"))
        .agg(collect_list(struct(col("pos"), col("v"))).as("pv"))
        .select(col("cluster"),
                transform(array_sort(col("pv")), p => p("v")).as("cent"))
        .collect()
        .sortBy(_.getLong(0))
      (meanRows.map(_.getSeq[Double](1).toArray),
       meanRows.map(_.getLong(0)))
    }

    val asg2 = e.withColumn("cluster",
      graft.functions.CentroidArgmax.assignD(col("embedding"), cents2, ids2))
    (asg2.select(col("vec_id"), col("embedding"), col("cluster")),
     cents2, ids2)
  }

  /** Cluster-quality evaluation: purity of the k-means clusters against
    * the fixture's ground-truth labels — the measurement loop run after
    * any corpus clustering (sibling of annRecall's recall@k): per
    * cluster, the majority label (count desc, label asc tie-break — the
    * deterministic ranking doctrine; a bare mode() would tie-break
    * differently per engine) and the fraction of members holding it.
    *
    * Scale: rides kmeansAssign (map-side) + one join to labels on
    * vec_id + a (cluster, label) count — k·|labels| rows into the final
    * ranking window, constants at any corpus size. */
  def clusterPurity(spark: SparkSession, dir: String): DataFrame = {
    val labels = Tables.spread(Tables.t(spark, dir, "embeddings"))
      .select(col("vec_id"), col("label"))
    val byLabel = kmeansAssign(spark, dir)
      .join(labels, Seq("vec_id"))
      .groupBy(col("cluster"), col("label"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("n").desc, col("label"))
    byLabel
      .withColumn("n_total", sum(col("n")).over(
        Window.partitionBy(col("cluster"))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cluster"),
        col("label").as("majority_label"),
        col("n").as("n_majority"),
        col("n_total"),
        round(col("n").cast("double") / col("n_total") + 1e-9, 4)
          .as("purity"))
      .orderBy(col("cluster"))
  }

  /** Adjusted Rand Index of the k-means clustering against the ground-
    * truth labels — cluster_purity's CHANCE-CORRECTED sibling (purity
    * rewards many small clusters; ARI subtracts the agreement a random
    * partition with the same marginals would score, the same correction
    * kappa_agreement applies to classifier agreement). All pair-count
    * sums are integers — Σ C(n_ij,2), Σ C(a_i,2), Σ C(b_j,2), C(n,2)
    * from the k·|labels| contingency cells — and the final ARI clears
    * its denominators first:
    *
    *   ARI = (2·P·Σij − 2·Σa·Σb) / (P·(Σa + Σb) − 2·Σa·Σb),  P = C(n,2)
    *
    * so both engines divide the SAME two integers exactly once
    * (degenerate 0-denominator reports 0, kappa's convention). The
    * SUMS stay long-exact to n ≈ 10⁹ (each is ≤ C(n,2)), but the final
    * products reach ~n⁴/4 — past long at n ≈ 7·10⁴ — so the three
    * products compute in decimal(38,0) (exact to n ≈ 10⁹; the oracle
    * mirrors with HUGEINT) and convert to double only for the single
    * division, where both engines round the same exact integer to the
    * same nearest double. Dataflow:
    * one vec_id key join, one (cluster,label) aggregate, then three
    * 1-row reductions of the contingency relation broadcast together —
    * corpus cost is kmeansAssign's map-side assignment. */
  def clusterAri(spark: SparkSession, dir: String): DataFrame = {
    val labels = Tables.spread(Tables.t(spark, dir, "embeddings"))
      .select(col("vec_id"), col("label"))
    val cells = kmeansAssign(spark, dir)
      .join(labels, Seq("vec_id"))
      .groupBy(col("cluster"), col("label"))
      .agg(count(lit(1)).as("nij"))
    val tot = cells.agg(
      sum(expr("(nij * (nij - 1)) div 2")).as("sum_ij"),
      sum(col("nij")).as("n"))
    val byCluster = cells.groupBy(col("cluster"))
      .agg(sum(col("nij")).as("a"))
      .agg(sum(expr("(a * (a - 1)) div 2")).as("sum_a"),
           count(lit(1)).as("n_clusters"))
    val byLabel = cells.groupBy(col("label"))
      .agg(sum(col("nij")).as("b"))
      .agg(sum(expr("(b * (b - 1)) div 2")).as("sum_b"),
           count(lit(1)).as("n_labels"))
    tot.crossJoin(broadcast(byCluster)).crossJoin(broadcast(byLabel))
      .withColumn("n_pairs", expr("(n * (n - 1)) div 2"))
      .withColumn("ari_num", expr(
        "2 * CAST(n_pairs AS DECIMAL(38,0)) * CAST(sum_ij AS DECIMAL(38,0))" +
          " - 2 * CAST(sum_a AS DECIMAL(38,0)) * CAST(sum_b AS DECIMAL(38,0))"))
      .withColumn("ari_den", expr(
        "CAST(n_pairs AS DECIMAL(38,0)) * (CAST(sum_a AS DECIMAL(38,0))" +
          " + CAST(sum_b AS DECIMAL(38,0)))" +
          " - 2 * CAST(sum_a AS DECIMAL(38,0)) * CAST(sum_b AS DECIMAL(38,0))"))
      .select(col("n"), col("n_clusters"), col("n_labels"),
        col("n_pairs"), col("sum_ij"), col("sum_a"), col("sum_b"),
        when(col("ari_den") === 0L, lit(0.0))
          .otherwise(round(col("ari_num").cast("double")
            / col("ari_den") + 1e-9, 6)).as("ari"),
        // plain Rand index for reference: agreeing pairs / all pairs;
        // n ≤ 1 gives n_pairs = 0 — report 0 like `ari`, not NaN
        when(col("n_pairs") === 0L, lit(0.0))
          .otherwise(round((col("n_pairs") + lit(2L) * col("sum_ij")
              - col("sum_a") - col("sum_b")).cast("double")
            / col("n_pairs") + 1e-9, 6)).as("rand_index"))
  }

  /** Diversity-aware representative selection per cluster — maximal
    * marginal relevance (MMR, Carbonell & Goldstein 1998) with λ = 0.5:
    * greedily pick 3 representatives per k-means cluster where pick 1 is
    * the most central member (relevance = cosine to the cluster
    * centroid) and picks 2–3 maximize `rel − λ·max_sim_to_selected` —
    * the data-curation move that turns "cluster then sample" into
    * "cluster then sample WITHOUT redundancy" (a centroid-nearest top-3
    * returns three near-duplicates of the same mode; MMR's penalty term
    * forces coverage of the cluster's spread). Clusters with < 3 members
    * yield fewer picks — selection never recycles a member.
    *
    * Greedy selection is inherently sequential IN ROUNDS, but each round
    * is fully distributed and the round count is the constant k_sel = 3:
    *   - relevance: map-side cosine against the broadcast 8-row centroid
    *     table (the kmeansFull model parameter);
    *   - penalty: candidates join the ≤ 8·t-row broadcast selected set
    *     on cluster, then a per-candidate max — Θ(N·t) work, one shuffle;
    *   - pick: per-cluster ROW_NUMBER on the 6-dp-rounded score with
    *     vec_id tie-break (ranking doctrine).
    * At 100 TB nothing accumulates on the driver: the selected set is
    * k·k_sel rows and the corpus is scanned once per round. */
  def mmrSelect(spark: SparkSession, dir: String): DataFrame = {
    val kSel = 3
    val lambda = 0.5
    val (asg, cents2, ids2) = kmeansFull(spark, dir)
    val centDf = {
      val rows = ids2.zip(cents2).map { case (id, c) => (id, c.toSeq) }.toSeq
      import spark.implicits._
      rows.toDF("m_cluster", "cent")
    }
    // Stage the scored candidate relation once (Staged.layer — the
    // staged-dedup-lineage doctrine): every greedy round's lineage
    // references it, and without staging each of the 3 rounds re-runs
    // the kmeans assignment + relevance scan from scratch inside one
    // job tree (measured 3.4 s at sf0.1; Θ(rounds·N·assign) at scale).
    val cands = graft.Staged.layer(spark, embKey("mmr_cands", dir))(
      asg.join(broadcast(centDf), col("cluster") === col("m_cluster"))
        .select(col("cluster"), col("vec_id"), col("embedding"),
          round(cosineHof(col("embedding"), col("cent")), 6).as("rel")))

    def pick(scored: DataFrame, score: Column, t: Int): DataFrame =
      scored
        .withColumn("rn", row_number().over(Window
          .partitionBy(col("cluster"))
          .orderBy(score.desc, col("vec_id"))))
        .filter(col("rn") === 1)
        .select(col("cluster"), col("vec_id"), col("embedding"),
                col("rel"), lit(t.toLong).as("pick"))

    var selected = pick(cands, col("rel"), 1)
    for (t <- 2 to kSel) {
      val selSet = broadcast(selected.select(
        col("cluster").as("s_cluster"), col("vec_id").as("s_id"),
        col("embedding").as("s_emb")))
      val remaining = cands.join(
        selected.select(col("vec_id").as("x")),
        col("vec_id") === col("x"), "left_anti")
      val maxSim = remaining
        .join(selSet, col("cluster") === col("s_cluster"))
        .select(col("vec_id").as("m_id"),
                round(cosine(col("embedding"), col("s_emb")), 6).as("s"))
        .groupBy(col("m_id")).agg(max(col("s")).as("max_sim"))
      val scored = remaining.join(maxSim, col("vec_id") === col("m_id"))
        // +1e-9: deterministic decimal-tie break, see rankTopK callers
        .withColumn("score",
          round(col("rel") - lit(lambda) * col("max_sim") + 1e-9, 6))
      selected = selected.unionByName(
        pick(scored, col("score"), t).select(selected.columns.map(col): _*))
    }
    selected.select(col("cluster"), col("pick"), col("vec_id"), col("rel"))
      .orderBy(col("cluster"), col("pick"))
  }

  /** Sparse text cosine similarity join over the RARE-term space — the
    * token-based twin of the dense embedding ops: documents as sparse
    * tf vectors, pairs formed only through shared terms (the inverted-
    * index meet), similarity = dot/(|a|·|b|) over terms with df ≤ 32.
    *
    * The df cap is the prefix-filtering scale defense every sparse
    * all-pairs system uses: a term's pair fan-out is ≤ C(df,2), so
    * capping df bounds per-term work at C(32,2) while stopword-class
    * terms (which dominate token volume but carry no discriminative
    * signal) never form pairs at all. Total pair work is
    * Θ(Σ_rare-terms df²), independent of the worst key.
    *
    * Float parity is EXACT, not rounded-into-agreement: tf counts are
    * integers, so dot and the two squared norms are integer sums (order-
    * insensitive); sqrt and one division are correctly-rounded IEEE ops
    * applied in the same order by both engines. */
  def sparseCosine(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.t(spark, dir, "documents"))
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    // df via groupBy + join, NEVER a per-term window: a window partition
    // must fully co-locate each term's rows, so one stopword key becomes
    // an unsplittable straggler (the lm_score hazard). The groupBy is
    // map-side combinable, and the df join's probe side is
    // skew-splittable by AQE — no operator in the plan needs all of a
    // hot term's rows in one task.
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val rare = tf
      .join(dfreq.filter(col("df") <= 32), Seq("term"))
      .select(col("doc_id"), col("term"), col("tf"))
    val norms = rare.groupBy(col("doc_id"))
      .agg(sum(col("tf") * col("tf")).as("ssq"))
    val pairs = rare.as("a")
      .join(rare.as("b"),
        col("a.term") === col("b.term") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(sum(col("a.tf") * col("b.tf")).as("dot"))
    pairs
      .join(norms.select(col("doc_id").as("doc_a"), col("ssq").as("ssq_a")),
            Seq("doc_a"))
      .join(norms.select(col("doc_id").as("doc_b"), col("ssq").as("ssq_b")),
            Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("dot"),
        round(col("dot") / (sqrt(col("ssq_a")) * sqrt(col("ssq_b")))
          + 1e-9, 6).as("sim"))
      .filter(col("sim") >= 0.5)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Per-vector profiling with higher-order array functions — the
    * embedding-column twin of profile_table: dimension, L2 norm
    * (aggregate over the array with per-element double promotion:
    * float·float would round at float precision and drift from the
    * oracle's DOUBLE[] arithmetic), component min/max (exact float
    * widening, no rounding needed), and the non-negative count. All
    * map-side array-local work — the only exchange is the presentation
    * sort. */
  def vectorStats(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.t(spark, dir, "embeddings"))
      .select(col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        round(sqrt(aggregate(col("embedding"), lit(0.0),
          (acc, x) => acc + x.cast("double") * x.cast("double"))), 6)
          .as("l2_norm"),
        array_min(col("embedding")).cast("double").as("min_c"),
        array_max(col("embedding")).cast("double").as("max_c"),
        size(filter(col("embedding"), x => x >= 0)).cast("long")
          .as("n_nonneg"))
      .orderBy(col("vec_id"))

  /** Int8 symmetric quantization of the embedding column — the vector-
    * compression stage an ANN index build runs before sharding: per-
    * vector scale = max|x|/127, q_i = round(x_i/scale), plus the L2
    * reconstruction error. Entirely array-local (transform/aggregate
    * chains, zero data shuffles); every division/round happens on
    * identically-derived doubles in both engines (components promoted
    * from float BEFORE any arithmetic), and both engines round halves
    * away from zero, so parity is exact up to the documented 6-dp
    * rounding of the error sum. */
  def embeddingQuantize(spark: SparkSession, dir: String): DataFrame = {
    val absMax = aggregate(col("embedding"), lit(0.0),
      (acc, x) => greatest(acc, abs(x.cast("double"))))
    val scale = greatest(absMax / 127.0, lit(1e-12))
    val q = transform(col("embedding"),
      x => round(x.cast("double") / col("scale")).cast("int"))
    val err = sqrt(aggregate(col("embedding"), lit(0.0), (acc, x) =>
      acc + pow(x.cast("double")
        - round(x.cast("double") / col("scale")) * col("scale"), 2)))
    Tables.spread(Tables.t(spark, dir, "embeddings"))
      .withColumn("scale", scale)
      .withColumn("qs", q)
      .select(col("vec_id"),
        round(col("scale"), 6).as("scale6"),
        array_min(col("qs")).cast("long").as("q_min"),
        array_max(col("qs")).cast("long").as("q_max"),
        round(err, 6).as("l2_err"))
      .orderBy(col("vec_id"))
  }

  /** Retrieval-quality evaluation of the LSH ANN tier against the exact
    * brute-force ground truth: NDCG@5 and MRR per probe query — the pair
    * a retrieval pipeline publishes alongside ann_recall's set-overlap
    * recall (recall says HOW MANY true neighbors came back; NDCG/MRR say
    * whether they came back IN THE RIGHT ORDER, which is what the
    * downstream RAG context window actually consumes).
    *
    * Graded relevance derives from the exact ranking (rel = 6 − true
    * rank ∈ {5..1}); an ANN result outside the truth list scores 0.
    * Both rankings are on the 6-dp-rounded cosine with id tie-break (the
    * reproducibility doctrine of every similarity ranking here), so both
    * engines rank identically; the DCG folds are ≤5 identically-derived
    * doubles, rounded at 6 dp.
    *
    * Scale: truth is the broadcast-probe brute force (topKBrute's shape,
    * |Q|·|C| map-side dot products, no corpus shuffle); ANN candidates
    * meet through the sign-bucket hash join; metric math runs over the
    * |Q|·k joined rank lists — Θ(|Q|·k), never the corpus. */
  def annNdcg(spark: SparkSession, dir: String): DataFrame = {
    val k = 5
    val truth = topKBrute(spark, dir)
      .select(col("query_id"), col("neighbor_id"), col("rnk").as("t_rnk"),
              (lit(6) - col("rnk")).cast("double").as("rel"))

    val ann = rankTopK(
      lshCandidates(spark, dir, Some(vecSampleIds(spark, dir, 10))), k)

    val scored = ann.as("a")
      .join(truth.as("t"),
        col("a.query_id") === col("t.query_id") &&
          col("a.neighbor_id") === col("t.neighbor_id"), "left")
      .select(col("a.query_id").as("query_id"), col("a.rnk"),
              coalesce(col("t.rel"), lit(0.0)).as("rel"))
    val annAgg = scored.groupBy(col("query_id"))
      .agg(sum(col("rel") / log2(col("rnk") + 1)).as("dcg"),
           sum(when(col("rel") > 0, 1L).otherwise(0L)).as("n_hit"),
           max(when(col("rel") > 0, lit(1.0) / col("rnk"))).as("mrr"))
    // ideal DCG from the truth list itself — a query with a short truth
    // list (corpus < k+1) is normalized against its own best ordering
    val ideal = truth.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_truth"),
           sum(col("rel") / log2(col("t_rnk") + 1)).as("idcg"))
    ideal.join(annAgg, Seq("query_id"), "left")
      .select(col("query_id"), col("n_truth"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("dcg"), lit(0.0)) / col("idcg") + 1e-9, 6)
          .as("ndcg"),
        round(coalesce(col("mrr"), lit(0.0)) + 1e-9, 6).as("mrr"))
      .orderBy(col("query_id"))
  }

  /** Embedding-distribution drift audit between two ingestion batches
    * (even vec_ids = reference batch, odd = new batch — the snapshot_diff
    * doctrine of deterministic batch labels): per-dimension mean shift
    * with the top-10 most-drifted dimensions reported, plus the cosine
    * between the two batch centroids — the early-warning signal that an
    * embedding-model upgrade or a source-mix change moved the vector
    * space out from under a trained ANN index / classifier.
    *
    * Parity: per-dim means are rounded to 6 dp FIRST (the kmeansAssign
    * centroid doctrine), and the centroid cosine is computed from those
    * rounded means in both engines, so the only cross-engine freedom is
    * the avg's summation-order ulp, absorbed by the rounding.
    *
    * Scale: one posexplode scan into a (dim)-keyed partial aggregate —
    * Θ(dim) groups at any corpus size; the centroid cosine is a second
    * aggregate over the dim-row relation; top-10 is TakeOrdered on the
    * rounded shift with a position tie-break. */
  def embedDrift(spark: SparkSession, dir: String): DataFrame = {
    val dims = Tables.spread(Tables.t(spark, dir, "embeddings"))
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(((col("vec_id") % 2) === 1).as("is_new"),
              (col("pos") + 1).cast("long").as("dim"),
              col("col").cast("double").as("v"))
      .groupBy(col("dim"))
      .agg(round(avg(when(!col("is_new"), col("v"))), 6).as("mean_old"),
           round(avg(when(col("is_new"), col("v"))), 6).as("mean_new"))
      .withColumn("shift",
        round(abs(col("mean_new") - col("mean_old")) + 1e-9, 6))
    val centroidCos = dims.agg(
      round(sum(col("mean_old") * col("mean_new")) /
        (sqrt(sum(col("mean_old") * col("mean_old"))) *
         sqrt(sum(col("mean_new") * col("mean_new")))) + 1e-9, 6)
        .as("centroid_cos"))
    dims.orderBy(col("shift").desc, col("dim")).limit(10)
      .crossJoin(broadcast(centroidCos))
      .select(col("dim"), col("mean_old"), col("mean_new"), col("shift"),
              col("centroid_cos"))
      .orderBy(col("shift").desc, col("dim"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_ndcg"       -> (annNdcg _),
    "embed_drift"    -> (embedDrift _),
    "embedding_quantize" -> (embeddingQuantize _),
    "vector_stats"   -> (vectorStats _),
    "sparse_cosine"  -> (sparseCosine _),
    "cluster_purity" -> (clusterPurity _),
    "cluster_ari"    -> (clusterAri _),
    "hard_negatives" -> (hardNegatives _),
    "ann_incremental" -> (annIncremental _),
    "kmeans_assign"  -> (kmeansAssign _),
    "ann_recall"     -> (annRecall _),
    "sim_topk_brute" -> (topKBrute _),
    "sim_ann_lsh"    -> (annLsh _),
    "sim_ann_ivf"    -> (annIvf _),
    "sim_ann_quant"  -> (annQuant _),
    "pq_codes"       -> (pqCodes _),
    "sim_ann_pq"     -> (simAnnPq _),
    "mmr_select"     -> (mmrSelect _),
    "cluster_balance" -> (clusterBalance _),
    "ivf_retrain"    -> (ivfRetrain _),
    "ann_dim_tradeoff" -> (annDimTradeoff _))

  /** DuckDB cosine written out explicitly (dot/(|a||b|) in double) so the
    * arithmetic mirrors `cosine` above; 6-dp rounding absorbs summation-
    * order ulps. SINGLE SOURCE for every embedding oracle — Dedup's
    * embed_neardup / semantic_dedup reference these same strings, so a
    * precision or bucket change edits exactly one definition. */
  private[ops] def duckCosine(a: String, b: String): String =
    s"ROUND(list_dot_product($a::DOUBLE[], $b::DOUBLE[]) / " +
      s"(sqrt(list_dot_product($a::DOUBLE[], $a::DOUBLE[])) * " +
      s"sqrt(list_dot_product($b::DOUBLE[], $b::DOUBLE[]))), 6)"

  /** 8-bit sign bucket as a string (the adaptiveBits value at every
    * fixture scale — pinned by PropertySpec). Used by the BALL-rule
    * oracles (ann_incremental here, embed_neardup / semantic_dedup in
    * Dedup), whose candidate rule is the symmetric Hamming theta-join. */
  private[ops] val duckBucket =
    (1 to 8).map(i =>
      s"CASE WHEN embedding[$i] >= 0 THEN '1' ELSE '0' END")
      .mkString("(", " || ", ")")

  /** Hamming distance between two 8-bit signature strings — the oracle
    * form of the ball-probe candidate rule. The oracle states the
    * SEMANTICS as a quadratic theta-join (candidate ⇔ Hamming ≤
    * ProbeRadius); the Spark side proves the bounded probe-bucket
    * equi-join computes the same relation (the skyline-oracle doctrine:
    * the oracle is the definition, the engine is the efficient shape). */
  private[ops] def duckHamming(a: String, b: String): String =
    (1 to 8).map(i =>
      s"CASE WHEN substr($a,$i,1) <> substr($b,$i,1) THEN 1 ELSE 0 END")
      .mkString("(", " + ", ")")

  /** 8-bit sign signature as a BIGINT — the oracle form of signBits. */
  private[ops] val duckSigInt =
    (1 to 8).map(i =>
      s"CASE WHEN embedding[$i] >= 0 THEN ${1L << (i - 1)} ELSE 0 END")
      .mkString("(", " + ", ")")

  /** CTE chain of the margin-directed probe ranking (the search tier's
    * candidate rule, restated as its definition): per query, every flip
    * mask scored by the integer micro-margin total of its flipped bits
    * (order-free SUM — exact in both engines) and ranked by
    * (score, mask); the top `probeBudget` masks are the probe set, and
    * a corpus vector is a candidate iff xor(sig_q, sig_c) is in it. At
    * the fixture's 8 bits the mask pool is the whole 256-mask space, so
    * the engine's lowest-margin-pool cut is vacuous and the oracle
    * enumerates range(0,256) outright. */
  private[ops] val duckDirectedCtes: String =
    s"""e AS (
       |  SELECT vec_id, embedding, $duckSigInt AS sig FROM embeddings),
       |mg AS (
       |  SELECT vec_id, i,
       |         CAST(round(abs(embedding[i]::DOUBLE) * 1e6) AS BIGINT)
       |           AS m
       |  FROM embeddings, range(1, 9) r(i)),
       |pm AS (
       |  SELECT g.vec_id, t.mask,
       |         COALESCE(SUM(CASE WHEN (t.mask >> (g.i - 1)) & 1 = 1
       |                           THEN g.m END), 0) AS score
       |  FROM mg g CROSS JOIN range(0, 256) t(mask)
       |  GROUP BY g.vec_id, t.mask),
       |pr AS (
       |  SELECT vec_id, mask FROM (
       |    SELECT vec_id, mask, ROW_NUMBER() OVER (
       |      PARTITION BY vec_id ORDER BY score, mask) AS prn
       |    FROM pm)
       |  WHERE prn <= ${probeBudget(8)})""".stripMargin

  /** Directed-tier candidate pair join: a = query leg, b = corpus leg. */
  private[ops] val duckDirectedJoin: String =
    """FROM e a
      |  JOIN pr ON pr.vec_id = a.vec_id
      |  JOIN e b ON xor(a.sig, b.sig) = pr.mask
      |             AND a.vec_id <> b.vec_id""".stripMargin

  /** k-means CTE chain up to the final assignment (a2) — duckCosine
    * rounds to 6 dp, so the ROW_NUMBER ranking IS the quantized-argmax
    * (lowest-id tie-break) that CentroidArgmax computes. Shared by the
    * kmeans_assign and cluster_purity oracles. */
  private val duckKmeansCtes: String =
    s"""WITH c1 AS (
       |  SELECT vec_id AS cell, embedding AS cent
       |  FROM (${duckVecSample(8)})),
       |a1 AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${duckCosine("e.embedding", "c.cent")} DESC, c.cell) AS rn
       |    FROM embeddings e CROSS JOIN c1 c)
       |  WHERE rn = 1),
       |m AS (
       |  SELECT a1.cell,
       |         generate_subscripts(e.embedding, 1) AS dim,
       |         unnest(e.embedding) AS val
       |  FROM a1 JOIN embeddings e USING (vec_id)),
       |c2 AS (
       |  SELECT cell, LIST(v ORDER BY dim) AS cent FROM (
       |    SELECT cell, dim, ROUND(AVG(val::DOUBLE), 6) AS v
       |    FROM m GROUP BY cell, dim)
       |  GROUP BY cell),
       |a2 AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${duckCosine("e.embedding", "c.cent")} DESC, c.cell) AS rn
       |    FROM embeddings e CROSS JOIN c2 c)
       |  WHERE rn = 1)""".stripMargin

  /** Per-subspace PQ learn/encode CTEs (the kmeans CTE pattern, once per
    * subspace over the embedding slice): c1 = seed slices, a1 = first
    * assignment, m = refined 6-dp means, c2 = refined codebook with the
    * empty-code seed fallback (LEFT JOIN + COALESCE — the Spark side
    * keeps cb1's entry when no vector chose the code), a2 = final
    * assignment. Shared by the pq_codes and sim_ann_pq oracles. The
    * seed count is the LITERAL 16 = pqKAdaptive(n) at every gate scale
    * (the adaptive k opens past 16⁴ = 65,536 vectors; PropertySpec pins
    * the fixture equality). */
  private val duckPqCtes: String =
    (0 until pqM).map { s =>
      def sl(e: String) = s"$e[${s * pqSub + 1}:${(s + 1) * pqSub}]"
      s"""c1_$s AS (
         |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT)
         |           AS code,
         |         ${sl("embedding")} AS cent
         |  FROM (${duckVecSample(16)})),
         |a1_$s AS (
         |  SELECT vec_id, code FROM (
         |    SELECT e.vec_id, c.code,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
         |        ${duckCosine(sl("e.embedding"), "c.cent")} DESC, c.code)
         |        AS rn
         |    FROM embeddings e CROSS JOIN c1_$s c)
         |  WHERE rn = 1),
         |m_$s AS (
         |  SELECT code, LIST(v ORDER BY dim) AS cent FROM (
         |    SELECT a.code, x.dim, ROUND(AVG(x.val::DOUBLE), 6) AS v
         |    FROM a1_$s a JOIN (
         |      SELECT vec_id,
         |             generate_subscripts(${sl("embedding")}, 1) AS dim,
         |             unnest(${sl("embedding")}) AS val
         |      FROM embeddings) x USING (vec_id)
         |    GROUP BY a.code, x.dim)
         |  GROUP BY code),
         |c2_$s AS (
         |  SELECT c1.code, COALESCE(m.cent, c1.cent::DOUBLE[]) AS cent
         |  FROM c1_$s c1 LEFT JOIN m_$s m USING (code)),
         |a2_$s AS (
         |  SELECT vec_id, code FROM (
         |    SELECT e.vec_id, c.code,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
         |        ${duckCosine(sl("e.embedding"), "c.cent")} DESC, c.code)
         |        AS rn
         |    FROM embeddings e CROSS JOIN c2_$s c)
         |  WHERE rn = 1)""".stripMargin
    }.mkString("WITH ", ",\n", "")

  val oracle: Map[String, String] = Map(
    "ann_dim_tradeoff" -> {
      val legs = Seq(8, 16, 32, 64).map { d =>
        s"""p_$d AS (
           |  SELECT q.query_id, e.vec_id AS neighbor_id,
           |    ${duckCosine(s"q.q_emb[1:$d]", s"e.embedding[1:$d]")} AS sim
           |  FROM qs q JOIN embeddings e ON e.vec_id <> q.query_id),
           |a_$d AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT *, ROW_NUMBER() OVER (
           |      PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
           |      AS rnk
           |    FROM p_$d) WHERE rnk <= 5),
           |r_$d AS (
           |  SELECT 'd${"%02d".format(d)}' AS method, t.query_id,
           |    count(*)::BIGINT AS n_truth,
           |    count(a.neighbor_id)::BIGINT AS n_hit,
           |    ROUND(count(a.neighbor_id)::DOUBLE / count(*) + 1e-9, 4)
           |      AS recall
           |  FROM truth t LEFT JOIN a_$d a
           |    ON t.query_id = a.query_id
           |   AND t.neighbor_id = a.neighbor_id
           |  GROUP BY t.query_id)""".stripMargin
      }.mkString(",\n")
      s"""WITH qs AS (
         |  SELECT vec_id AS query_id, embedding AS q_emb
         |  FROM (${duckVecSample(10)})),
         |bp AS (
         |  SELECT query_id, vec_id AS neighbor_id,
         |         ${duckCosine("q_emb", "embedding")} AS sim
         |  FROM qs CROSS JOIN embeddings
         |  WHERE vec_id <> query_id),
         |truth AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
         |      AS rnk
         |    FROM bp) WHERE rnk <= 5),
         |$legs
         |SELECT * FROM r_8 UNION ALL SELECT * FROM r_16
         |UNION ALL SELECT * FROM r_32 UNION ALL SELECT * FROM r_64
         |ORDER BY method, query_id""".stripMargin
    },
    "ivf_retrain" ->
      s"""WITH cents AS (
         |  SELECT vec_id AS cent_id, embedding AS cent
         |  FROM ($duckCentSample)),
         |asg AS (
         |  SELECT cell, vec_id FROM (
         |    SELECT c.cent_id AS cell, e.vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
         |        ${duckCosine("e.embedding", "c.cent")} DESC, c.cent_id)
         |        AS crn
         |    FROM embeddings e CROSS JOIN cents c)
         |  WHERE crn = 1),
         |sizes AS (
         |  SELECT cell, COUNT(*)::BIGINT AS sz FROM asg GROUP BY cell),
         |nc AS (
         |  SELECT CAST(CEIL(SQRT(COUNT(*))) AS BIGINT) AS n_cells
         |  FROM embeddings),
         |bstat AS (
         |  SELECT COUNT(*)::BIGINT AS occ_b,
         |         CAST(SUM(sz) AS BIGINT) AS n_vecs,
         |         CAST(MAX(sz) AS BIGINT) AS max_b,
         |         ROUND(MAX(sz)::DOUBLE * COUNT(*) / SUM(sz) + 1e-9, 4)
         |           AS skew_b
         |  FROM sizes),
         |m AS (
         |  SELECT asg.cell,
         |         generate_subscripts(e.embedding, 1) AS dim,
         |         unnest(e.embedding) AS val
         |  FROM asg JOIN embeddings e USING (vec_id)),
         |c2 AS (
         |  SELECT c.cent_id, COALESCE(mm.cent, c.cent::DOUBLE[]) AS cent
         |  FROM cents c LEFT JOIN (
         |    SELECT cell, LIST(v ORDER BY dim) AS cent FROM (
         |      SELECT cell, dim, ROUND(AVG(val::DOUBLE), 6) AS v
         |      FROM m GROUP BY cell, dim)
         |    GROUP BY cell) mm ON mm.cell = c.cent_id),
         |asg2 AS (
         |  SELECT cell, vec_id FROM (
         |    SELECT c.cent_id AS cell, e.vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
         |        ${duckCosine("e.embedding", "c.cent")} DESC, c.cent_id)
         |        AS crn
         |    FROM embeddings e CROSS JOIN c2 c)
         |  WHERE crn = 1),
         |astat AS (
         |  SELECT COUNT(*)::BIGINT AS occ_a, CAST(MAX(sz) AS BIGINT)
         |           AS max_a
         |  FROM (SELECT cell, COUNT(*)::BIGINT AS sz
         |        FROM asg2 GROUP BY cell))
         |SELECT nc.n_cells, b.n_vecs,
         |  b.occ_b AS n_occupied_before, b.max_b AS max_sz_before,
         |  b.skew_b AS skew_before,
         |  b.skew_b > 1.25 AS retrained,
         |  CASE WHEN b.skew_b > 1.25 THEN a.occ_a ELSE b.occ_b END
         |    AS n_occupied_after,
         |  CASE WHEN b.skew_b > 1.25 THEN a.max_a ELSE b.max_b END
         |    AS max_sz_after,
         |  ROUND((CASE WHEN b.skew_b > 1.25 THEN a.max_a
         |              ELSE b.max_b END)::DOUBLE
         |      * (CASE WHEN b.skew_b > 1.25 THEN a.occ_a
         |              ELSE b.occ_b END)
         |      / b.n_vecs + 1e-9, 4) AS skew_after
         |FROM bstat b CROSS JOIN astat a CROSS JOIN nc""".stripMargin,
    "cluster_balance" ->
      s"""WITH cents AS (
         |  SELECT vec_id AS cent_id, embedding AS cent
         |  FROM ($duckCentSample)),
         |asg AS (
         |  SELECT cell, vec_id FROM (
         |    SELECT c.cent_id AS cell, e.vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
         |        ${duckCosine("e.embedding", "c.cent")} DESC, c.cent_id)
         |        AS crn
         |    FROM embeddings e CROSS JOIN cents c)
         |  WHERE crn = 1),
         |sizes AS (
         |  SELECT cell, COUNT(*)::BIGINT AS sz FROM asg GROUP BY cell),
         |nc AS (
         |  SELECT CAST(CEIL(SQRT(COUNT(*))) AS BIGINT) AS n_cells
         |  FROM embeddings)
         |SELECT nc.n_cells,
         |  COUNT(*)::BIGINT AS n_occupied,
         |  CAST(nc.n_cells - COUNT(*) AS BIGINT) AS n_empty,
         |  CAST(SUM(sz) AS BIGINT) AS n_vecs,
         |  CAST(MIN(sz) AS BIGINT) AS min_sz,
         |  CAST(MAX(sz) AS BIGINT) AS max_sz,
         |  ROUND(SUM(sz)::DOUBLE / COUNT(*) + 1e-9, 4) AS mean_sz,
         |  ROUND(MAX(sz)::DOUBLE * COUNT(*) / SUM(sz) + 1e-9, 4)
         |    AS skew_ratio
         |FROM sizes CROSS JOIN nc GROUP BY nc.n_cells""".stripMargin,
    "pq_codes" ->
      (duckPqCtes +
        """
          |SELECT e.vec_id,
          |       p0.code AS c0, p1.code AS c1, p2.code AS c2, p3.code AS c3
          |FROM embeddings e
          |  JOIN a2_0 p0 ON p0.vec_id = e.vec_id
          |  JOIN a2_1 p1 ON p1.vec_id = e.vec_id
          |  JOIN a2_2 p2 ON p2.vec_id = e.vec_id
          |  JOIN a2_3 p3 ON p3.vec_id = e.vec_id
          |ORDER BY e.vec_id""".stripMargin),
    "sim_ann_pq" ->
      (duckPqCtes +
        s""",
           |cents AS (
           |  SELECT vec_id AS cent_id, embedding AS cent
           |  FROM ($duckCentSample)),
           |asg AS (
           |  SELECT cell, vec_id, embedding FROM (
           |    SELECT c.cent_id AS cell, e.vec_id, e.embedding,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
           |        ${duckCosine("e.embedding", "c.cent")} DESC, c.cent_id)
           |        AS crn
           |    FROM embeddings e CROSS JOIN cents c)
           |  WHERE crn = 1),
           |recon AS (
           |  SELECT e.vec_id,
           |         k0.cent || k1.cent || k2.cent || k3.cent AS r
           |  FROM embeddings e
           |    JOIN a2_0 p0 ON p0.vec_id = e.vec_id
           |    JOIN c2_0 k0 ON k0.code = p0.code
           |    JOIN a2_1 p1 ON p1.vec_id = e.vec_id
           |    JOIN c2_1 k1 ON k1.code = p1.code
           |    JOIN a2_2 p2 ON p2.vec_id = e.vec_id
           |    JOIN c2_2 k2 ON k2.code = p2.code
           |    JOIN a2_3 p3 ON p3.vec_id = e.vec_id
           |    JOIN c2_3 k3 ON k3.code = p3.code),
           |qc AS (
           |  SELECT query_id, cell, q_emb FROM (
           |    SELECT e.vec_id AS query_id, c.cent_id AS cell,
           |      e.embedding AS q_emb,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
           |        ${duckCosine("e.embedding", "c.cent")} DESC, c.cent_id)
           |        AS crn
           |    FROM embeddings e CROSS JOIN cents c
           |    WHERE ${duckInSample("e.vec_id", 10)})
           |  WHERE crn <= 2),
           |cd AS (
           |  SELECT a.query_id, b.vec_id AS neighbor_id,
           |    ROUND(list_dot_product(a.q_emb::DOUBLE[], r.r), 6) AS adc
           |  FROM qc a JOIN asg b
           |    ON a.cell = b.cell AND a.query_id <> b.vec_id
           |    JOIN recon r ON r.vec_id = b.vec_id),
           |cand AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
           |      ORDER BY adc DESC, neighbor_id) AS crank,
           |      DENSE_RANK() OVER (PARTITION BY query_id
           |      ORDER BY adc DESC) AS drank,
           |      COUNT(*) OVER (PARTITION BY query_id) AS cpool FROM cd)
           |  WHERE drank <= 30
           |     OR crank <= CAST(CEIL(cpool / 3.0) AS BIGINT)),
           |rs AS (
           |  SELECT c.query_id, c.neighbor_id,
           |    ${duckCosine("qa.embedding", "qb.embedding")} AS sim
           |  FROM cand c
           |    JOIN embeddings qa ON qa.vec_id = c.query_id
           |    JOIN embeddings qb ON qb.vec_id = c.neighbor_id)
           |SELECT query_id, neighbor_id, sim, rnk FROM (
           |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
           |    ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk
           |  FROM rs) WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin),
    "embedding_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (
        |  SELECT vec_id, v,
        |    greatest(list_max(list_transform(v, x -> abs(x))) / 127.0,
        |             1e-12) AS scale
        |  FROM e)
        |SELECT vec_id,
        |  ROUND(scale, 6) AS scale6,
        |  CAST(list_min(list_transform(v, x -> round(x / scale, 0)))
        |       AS BIGINT) AS q_min,
        |  CAST(list_max(list_transform(v, x -> round(x / scale, 0)))
        |       AS BIGINT) AS q_max,
        |  ROUND(sqrt(list_sum(list_transform(v,
        |    x -> pow(x - round(x / scale, 0) * scale, 2)))), 6) AS l2_err
        |FROM s ORDER BY vec_id""".stripMargin,
    "vector_stats" ->
      """SELECT vec_id,
        |  CAST(len(embedding) AS BIGINT) AS dim,
        |  ROUND(sqrt(list_dot_product(embedding::DOUBLE[],
        |                              embedding::DOUBLE[])), 6) AS l2_norm,
        |  CAST(list_min(embedding) AS DOUBLE) AS min_c,
        |  CAST(list_max(embedding) AS DOUBLE) AS max_c,
        |  CAST(len(list_filter(embedding, x -> x >= 0)) AS BIGINT)
        |    AS n_nonneg
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "sparse_cosine" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS term
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |rare AS (
        |  SELECT doc_id, term, tf FROM (
        |    SELECT doc_id, term, tf,
        |           COUNT(*) OVER (PARTITION BY term) AS df
        |    FROM tf)
        |  WHERE df <= 32),
        |norms AS (
        |  SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS ssq
        |  FROM rare GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
        |  FROM rare a JOIN rare b
        |    ON a.term = b.term AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, dot, sim FROM (
        |  SELECT p.doc_a, p.doc_b, p.dot,
        |         ROUND(p.dot / (sqrt(na.ssq) * sqrt(nb.ssq)) + 1e-9, 6)
        |           AS sim
        |  FROM pairs p
        |    JOIN norms na ON na.doc_id = p.doc_a
        |    JOIN norms nb ON nb.doc_id = p.doc_b)
        |WHERE sim >= 0.5 ORDER BY doc_a, doc_b""".stripMargin,
    "kmeans_assign" ->
      (duckKmeansCtes +
        "\nSELECT vec_id, cell AS cluster FROM a2 ORDER BY vec_id"),
    "mmr_select" ->
      (duckKmeansCtes +
        s""",
           |relx AS (
           |  SELECT a2.vec_id, a2.cell AS cluster,
           |         ${duckCosine("e.embedding", "c.cent")} AS rel,
           |         e.embedding
           |  FROM a2 JOIN embeddings e USING (vec_id)
           |    JOIN c2 c ON c.cell = a2.cell),
           |p1 AS (
           |  SELECT cluster, vec_id, rel, 1 AS pick FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster
           |      ORDER BY rel DESC, vec_id) AS rn
           |    FROM relx) WHERE rn = 1),
           |ms2 AS (
           |  SELECT r.vec_id,
           |         MAX(${duckCosine("r.embedding", "se.embedding")})
           |           AS max_sim
           |  FROM relx r
           |    JOIN p1 ON p1.cluster = r.cluster
           |    JOIN embeddings se ON se.vec_id = p1.vec_id
           |  WHERE r.vec_id NOT IN (SELECT vec_id FROM p1)
           |  GROUP BY r.vec_id),
           |p2 AS (
           |  SELECT cluster, vec_id, rel, 2 AS pick FROM (
           |    SELECT r.cluster, r.vec_id, r.rel,
           |      ROW_NUMBER() OVER (PARTITION BY r.cluster
           |        ORDER BY ROUND(r.rel - 0.5 * m.max_sim + 1e-9, 6) DESC,
           |                 r.vec_id) AS rn
           |    FROM relx r JOIN ms2 m ON m.vec_id = r.vec_id)
           |  WHERE rn = 1),
           |sel2 AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2),
           |ms3 AS (
           |  SELECT r.vec_id,
           |         MAX(${duckCosine("r.embedding", "se.embedding")})
           |           AS max_sim
           |  FROM relx r
           |    JOIN sel2 s ON s.cluster = r.cluster
           |    JOIN embeddings se ON se.vec_id = s.vec_id
           |  WHERE r.vec_id NOT IN (SELECT vec_id FROM sel2)
           |  GROUP BY r.vec_id),
           |p3 AS (
           |  SELECT cluster, vec_id, rel, 3 AS pick FROM (
           |    SELECT r.cluster, r.vec_id, r.rel,
           |      ROW_NUMBER() OVER (PARTITION BY r.cluster
           |        ORDER BY ROUND(r.rel - 0.5 * m.max_sim + 1e-9, 6) DESC,
           |                 r.vec_id) AS rn
           |    FROM relx r JOIN ms3 m ON m.vec_id = r.vec_id)
           |  WHERE rn = 1)
           |SELECT CAST(cluster AS BIGINT) AS cluster,
           |       CAST(pick AS BIGINT) AS pick, vec_id, rel
           |FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2
           |      UNION ALL SELECT * FROM p3)
           |ORDER BY cluster, pick""".stripMargin),
    "cluster_purity" ->
      (duckKmeansCtes +
        """, bl AS (
          |  SELECT a2.cell AS cluster, e.label, COUNT(*)::BIGINT AS n
          |  FROM a2 JOIN embeddings e USING (vec_id)
          |  GROUP BY 1, 2),
          |p AS (
          |  SELECT cluster, label, n,
          |         SUM(n) OVER (PARTITION BY cluster) AS n_total,
          |         ROW_NUMBER() OVER (PARTITION BY cluster
          |           ORDER BY n DESC, label) AS rn
          |  FROM bl)
          |SELECT cluster, label AS majority_label, n AS n_majority,
          |       n_total::BIGINT AS n_total,
          |       ROUND(n::DOUBLE / n_total + 1e-9, 4) AS purity
          |FROM p WHERE rn = 1 ORDER BY cluster""".stripMargin),
    "cluster_ari" ->
      (duckKmeansCtes +
        """, cells AS (
          |  SELECT a2.cell AS cluster, e.label, COUNT(*)::BIGINT AS nij
          |  FROM a2 JOIN embeddings e USING (vec_id)
          |  GROUP BY 1, 2),
          |t AS (
          |  SELECT CAST(SUM((nij * (nij - 1)) // 2) AS BIGINT) AS sum_ij,
          |         CAST(SUM(nij) AS BIGINT) AS n
          |  FROM cells),
          |ra AS (
          |  SELECT CAST(SUM((a * (a - 1)) // 2) AS BIGINT) AS sum_a,
          |         COUNT(*) AS n_clusters
          |  FROM (SELECT CAST(SUM(nij) AS BIGINT) AS a
          |        FROM cells GROUP BY cluster)),
          |rb AS (
          |  SELECT CAST(SUM((b * (b - 1)) // 2) AS BIGINT) AS sum_b,
          |         COUNT(*) AS n_labels
          |  FROM (SELECT CAST(SUM(nij) AS BIGINT) AS b
          |        FROM cells GROUP BY label))
          |SELECT n, n_clusters, n_labels,
          |  (n * (n - 1)) // 2 AS n_pairs, sum_ij, sum_a, sum_b,
          |  CASE WHEN CAST((n * (n - 1)) // 2 AS HUGEINT)
          |              * (CAST(sum_a AS HUGEINT) + sum_b)
          |            - 2 * CAST(sum_a AS HUGEINT) * sum_b = 0 THEN 0.0
          |       ELSE ROUND(
          |         CAST(2 * CAST((n * (n - 1)) // 2 AS HUGEINT) * sum_ij
          |              - 2 * CAST(sum_a AS HUGEINT) * sum_b AS DOUBLE)
          |         / CAST(CAST((n * (n - 1)) // 2 AS HUGEINT)
          |                  * (CAST(sum_a AS HUGEINT) + sum_b)
          |                - 2 * CAST(sum_a AS HUGEINT) * sum_b AS DOUBLE)
          |         + 1e-9, 6) END AS ari,
          |  CASE WHEN (n * (n - 1)) // 2 = 0 THEN 0.0
          |       ELSE ROUND(CAST((n * (n - 1)) // 2 + 2 * sum_ij
          |                  - sum_a - sum_b AS DOUBLE)
          |            / ((n * (n - 1)) // 2) + 1e-9, 6) END AS rand_index
          |FROM t CROSS JOIN ra CROSS JOIN rb""".stripMargin),
    "ann_recall" ->
      (duckPqCtes + s""",
         |q AS (
         |  SELECT vec_id AS query_id, embedding AS q_emb
         |  FROM embeddings WHERE ${duckInSample("vec_id", 10)}),
         |bp AS (
         |  SELECT query_id, vec_id AS neighbor_id,
         |         ${duckCosine("q_emb", "embedding")} AS sim
         |  FROM q CROSS JOIN embeddings
         |  WHERE vec_id <> query_id),
         |truth AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
         |    FROM bp) WHERE rnk <= 5),
         |$duckDirectedCtes,
         |lp AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |         ${duckCosine("a.embedding", "b.embedding")} AS sim
         |  $duckDirectedJoin
         |  WHERE ${duckInSample("a.vec_id", 10)}),
         |lsh AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
         |    FROM lp) WHERE rnk <= 5),
         |cents AS (
         |  SELECT vec_id AS cent_id, embedding AS cent
         |  FROM ($duckCentSample)),
         |asg AS (
         |  SELECT cell, vec_id, embedding FROM (
         |    SELECT c.cent_id AS cell, e2.vec_id, e2.embedding,
         |      ROW_NUMBER() OVER (PARTITION BY e2.vec_id ORDER BY
         |        ${duckCosine("e2.embedding", "c.cent")} DESC, c.cent_id)
         |        AS crn
         |    FROM embeddings e2 CROSS JOIN cents c)
         |  WHERE crn = 1),
         |ip AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |         ${duckCosine("a.embedding", "b.embedding")} AS sim
         |  FROM asg a JOIN asg b ON a.cell = b.cell
         |  WHERE ${duckInSample("a.vec_id", 10)} AND a.vec_id <> b.vec_id),
         |ivf AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
         |    FROM ip) WHERE rnk <= 5),
         |lr AS (
         |  SELECT 'lsh' AS method, t.query_id, count(*)::BIGINT AS n_truth,
         |         count(a.neighbor_id)::BIGINT AS n_hit,
         |         ROUND(count(a.neighbor_id)::DOUBLE / count(*) + 1e-9, 4)
         |           AS recall
         |  FROM truth t LEFT JOIN lsh a
         |    ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
         |  GROUP BY t.query_id),
         |ir AS (
         |  SELECT 'ivf' AS method, t.query_id, count(*)::BIGINT AS n_truth,
         |         count(a.neighbor_id)::BIGINT AS n_hit,
         |         ROUND(count(a.neighbor_id)::DOUBLE / count(*) + 1e-9, 4)
         |           AS recall
         |  FROM truth t LEFT JOIN ivf a
         |    ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
         |  GROUP BY t.query_id),
         |recon AS (
         |  SELECT e3.vec_id,
         |         k0.cent || k1.cent || k2.cent || k3.cent AS r
         |  FROM embeddings e3
         |    JOIN a2_0 p0 ON p0.vec_id = e3.vec_id
         |    JOIN c2_0 k0 ON k0.code = p0.code
         |    JOIN a2_1 p1 ON p1.vec_id = e3.vec_id
         |    JOIN c2_1 k1 ON k1.code = p1.code
         |    JOIN a2_2 p2 ON p2.vec_id = e3.vec_id
         |    JOIN c2_2 k2 ON k2.code = p2.code
         |    JOIN a2_3 p3 ON p3.vec_id = e3.vec_id
         |    JOIN c2_3 k3 ON k3.code = p3.code),
         |pqc AS (
         |  SELECT query_id, cell, q_emb FROM (
         |    SELECT e3.vec_id AS query_id, c.cent_id AS cell,
         |      e3.embedding AS q_emb,
         |      ROW_NUMBER() OVER (PARTITION BY e3.vec_id ORDER BY
         |        ${duckCosine("e3.embedding", "c.cent")} DESC, c.cent_id)
         |        AS crn
         |    FROM embeddings e3 CROSS JOIN cents c
         |    WHERE ${duckInSample("e3.vec_id", 10)})
         |  WHERE crn <= 2),
         |pcd AS (
         |  SELECT a.query_id, b.vec_id AS neighbor_id,
         |    ROUND(list_dot_product(a.q_emb::DOUBLE[], r.r), 6) AS adc
         |  FROM pqc a JOIN asg b
         |    ON a.cell = b.cell AND a.query_id <> b.vec_id
         |    JOIN recon r ON r.vec_id = b.vec_id),
         |pcand AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY adc DESC, neighbor_id) AS crank,
         |      DENSE_RANK() OVER (PARTITION BY query_id
         |      ORDER BY adc DESC) AS drank,
         |      COUNT(*) OVER (PARTITION BY query_id) AS cpool FROM pcd)
         |  WHERE drank <= 30
         |     OR crank <= CAST(CEIL(cpool / 3.0) AS BIGINT)),
         |pp AS (
         |  SELECT c.query_id, c.neighbor_id,
         |    ${duckCosine("qa.embedding", "qb.embedding")} AS sim
         |  FROM pcand c
         |    JOIN embeddings qa ON qa.vec_id = c.query_id
         |    JOIN embeddings qb ON qb.vec_id = c.neighbor_id),
         |pqa AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
         |    FROM pp) WHERE rnk <= 5),
         |pqr AS (
         |  SELECT 'pq' AS method, t.query_id, count(*)::BIGINT AS n_truth,
         |         count(a.neighbor_id)::BIGINT AS n_hit,
         |         ROUND(count(a.neighbor_id)::DOUBLE / count(*) + 1e-9, 4)
         |           AS recall
         |  FROM truth t LEFT JOIN pqa a
         |    ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
         |  GROUP BY t.query_id)
         |SELECT * FROM lr UNION ALL SELECT * FROM ir
         |UNION ALL SELECT * FROM pqr
         |ORDER BY method, query_id""".stripMargin),
    "sim_topk_brute" ->
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, embedding AS q_emb
         |  FROM embeddings WHERE ${duckInSample("vec_id", 10)}),
         |p AS (
         |  SELECT query_id, vec_id AS neighbor_id,
         |         ${duckCosine("q_emb", "embedding")} AS sim
         |  FROM q CROSS JOIN embeddings
         |  WHERE vec_id <> query_id),
         |r AS (
         |  SELECT *, CAST(ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
         |    AS BIGINT) AS rnk
         |  FROM p)
         |SELECT query_id, neighbor_id, sim, rnk FROM r
         |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
    "sim_ann_ivf" ->
      s"""WITH cents AS (
         |  SELECT vec_id AS cent_id, embedding AS cent
         |  FROM ($duckCentSample)),
         |asg AS (
         |  SELECT cell, vec_id, embedding FROM (
         |    SELECT c.cent_id AS cell, e.vec_id, e.embedding,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
         |        ${duckCosine("e.embedding", "c.cent")} DESC, c.cent_id)
         |        AS crn
         |    FROM embeddings e CROSS JOIN cents c)
         |  WHERE crn = 1),
         |p AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |         ${duckCosine("a.embedding", "b.embedding")} AS sim
         |  FROM asg a JOIN asg b ON a.cell = b.cell
         |  WHERE a.vec_id <> b.vec_id),
         |r AS (
         |  SELECT *, CAST(ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
         |    AS BIGINT) AS rnk
         |  FROM p)
         |SELECT query_id, neighbor_id, sim, rnk FROM r
         |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,
    "sim_ann_quant" ->
      s"""WITH $duckDirectedCtes,
         |sc AS (
         |  SELECT vec_id,
         |    GREATEST(list_max(list_transform(embedding,
         |      x -> abs(x::DOUBLE))) / 127.0, 1e-12) AS scale
         |  FROM embeddings),
         |q8 AS (
         |  SELECT e2.vec_id,
         |    list_transform(e2.embedding,
         |      x -> CAST(ROUND(x::DOUBLE / sc.scale) AS BIGINT)) AS code
         |  FROM embeddings e2 JOIN sc ON sc.vec_id = e2.vec_id),
         |cd AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    CAST(list_dot_product(qa.code::DOUBLE[], qb.code::DOUBLE[])
         |      AS BIGINT) AS int_dot
         |  $duckDirectedJoin
         |    JOIN q8 qa ON qa.vec_id = a.vec_id
         |    JOIN q8 qb ON qb.vec_id = b.vec_id
         |  WHERE ${duckInSample("a.vec_id", 10)}),
         |cand AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY int_dot DESC, neighbor_id) AS crank FROM cd)
         |  WHERE crank <= 15),
         |r AS (
         |  SELECT c.query_id, c.neighbor_id,
         |    ${duckCosine("qa.embedding", "qb.embedding")} AS sim
         |  FROM cand c
         |    JOIN embeddings qa ON qa.vec_id = c.query_id
         |    JOIN embeddings qb ON qb.vec_id = c.neighbor_id)
         |SELECT query_id, neighbor_id, sim, rnk FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk
         |  FROM r) WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,
    "ann_ndcg" ->
      s"""WITH b AS (
         |  SELECT a.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         ${duckCosine("a.embedding", "c.embedding")} AS sim
         |  FROM embeddings a JOIN embeddings c ON a.vec_id <> c.vec_id
         |  WHERE ${duckInSample("a.vec_id", 10)}),
         |tr AS (
         |  SELECT *, CAST(ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
         |    AS BIGINT) AS t_rnk
         |  FROM b),
         |truth AS (
         |  SELECT query_id, neighbor_id, t_rnk,
         |         CAST(6 - t_rnk AS DOUBLE) AS rel
         |  FROM tr WHERE t_rnk <= 5),
         |$duckDirectedCtes,
         |p AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |         ${duckCosine("a.embedding", "b.embedding")} AS sim
         |  $duckDirectedJoin
         |  WHERE ${duckInSample("a.vec_id", 10)}),
         |ar AS (
         |  SELECT *, CAST(ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
         |    AS BIGINT) AS rnk
         |  FROM p),
         |sc AS (
         |  SELECT ann.query_id, ann.rnk, COALESCE(truth.rel, 0.0) AS rel
         |  FROM (SELECT * FROM ar WHERE rnk <= 5) ann
         |  LEFT JOIN truth ON ann.query_id = truth.query_id
         |               AND ann.neighbor_id = truth.neighbor_id),
         |ag AS (
         |  SELECT query_id,
         |    SUM(rel / log2(rnk + 1)) AS dcg,
         |    CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_hit,
         |    MAX(CASE WHEN rel > 0 THEN 1.0 / rnk END) AS mrr
         |  FROM sc GROUP BY query_id),
         |ideal AS (
         |  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_truth,
         |         SUM(rel / log2(t_rnk + 1)) AS idcg
         |  FROM truth GROUP BY query_id)
         |SELECT ideal.query_id, n_truth,
         |  COALESCE(n_hit, 0) AS n_hit,
         |  ROUND(COALESCE(dcg, 0.0) / idcg + 1e-9, 6) AS ndcg,
         |  ROUND(COALESCE(mrr, 0.0) + 1e-9, 6) AS mrr
         |FROM ideal LEFT JOIN ag ON ideal.query_id = ag.query_id
         |ORDER BY ideal.query_id""".stripMargin,
    "embed_drift" ->
      """WITH x AS (
        |  SELECT (vec_id % 2 = 1) AS is_new,
        |         CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
        |         unnest(embedding)::DOUBLE AS v
        |  FROM embeddings),
        |dims AS (
        |  SELECT dim,
        |    ROUND(AVG(CASE WHEN NOT is_new THEN v END), 6) AS mean_old,
        |    ROUND(AVG(CASE WHEN is_new THEN v END), 6) AS mean_new
        |  FROM x GROUP BY dim),
        |d2 AS (
        |  SELECT *, ROUND(abs(mean_new - mean_old) + 1e-9, 6) AS shift
        |  FROM dims),
        |cc AS (
        |  SELECT ROUND(SUM(mean_old * mean_new) /
        |    (sqrt(SUM(mean_old * mean_old)) *
        |     sqrt(SUM(mean_new * mean_new))) + 1e-9, 6) AS centroid_cos
        |  FROM d2)
        |SELECT dim, mean_old, mean_new, shift, centroid_cos
        |FROM d2 CROSS JOIN cc
        |ORDER BY shift DESC, dim LIMIT 10""".stripMargin,
    "ann_incremental" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding, $duckBucket AS bucket
         |  FROM embeddings),
         |b AS (SELECT * FROM e WHERE vec_id % 2 = 1),
         |c AS (SELECT * FROM e WHERE vec_id % 2 = 0),
         |j AS (
         |  SELECT b.vec_id, c.vec_id AS c_id,
         |         CASE WHEN c.vec_id IS NULL THEN NULL
         |              ELSE ${duckCosine("b.embedding", "c.embedding")}
         |         END AS sim
         |  FROM b LEFT JOIN c
         |    ON ${duckHamming("b.bucket", "c.bucket")} <= $ProbeRadius),
         |r AS (
         |  SELECT *,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id
         |      ORDER BY sim DESC NULLS LAST, c_id) AS rn,
         |    COUNT(c_id) OVER (PARTITION BY vec_id) AS n_candidates
         |  FROM j)
         |SELECT vec_id, CAST(n_candidates AS BIGINT) AS n_candidates,
         |       c_id AS best_match, sim AS best_sim,
         |       COALESCE(sim < 0.9, TRUE) AS admit
         |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    "hard_negatives" ->
      s"""WITH $duckDirectedCtes,
         |p AS (
         |  SELECT a.vec_id AS anchor_id, b.vec_id AS negative_id,
         |         ${duckCosine("a.embedding", "b.embedding")} AS sim
         |  $duckDirectedJoin),
         |r AS (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY anchor_id ORDER BY sim DESC, negative_id) AS rn
         |  FROM p WHERE sim < 0.9)
         |SELECT anchor_id, negative_id, sim FROM r
         |WHERE rn = 1 ORDER BY anchor_id""".stripMargin,
    "sim_ann_lsh" ->
      s"""WITH $duckDirectedCtes,
         |p AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |         ${duckCosine("a.embedding", "b.embedding")} AS sim
         |  $duckDirectedJoin),
         |r AS (
         |  SELECT *, CAST(ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
         |    AS BIGINT) AS rnk
         |  FROM p)
         |SELECT query_id, neighbor_id, sim, rnk FROM r
         |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin)
}
