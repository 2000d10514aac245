package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Corpus, Curation, Dedup, Panel, Relational, Similarity}

/** Physical-plan regression checks: the properties that make these
  * queries scale are asserted, not assumed — a refactor that silently
  * drops a pushdown or broadcasts nothing fails here. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q1_agg: shipdate predicate reaches the parquet scan; unused " +
       "columns pruned") {
    val p = plan(Relational.q1Agg(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), " +
      "LessThanOrEqual(l_shipdate"))
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_orderkey"), "q1 reads columns it never uses")
  }

  test("q3_topk: dimension side broadcast, top-k via TakeOrderedAndProject " +
       "(no global sort)") {
    val p = plan(Relational.q3TopK(spark, sf))
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.split("TakeOrderedAndProject")(0).contains("Sort "),
      "top-k should not globally sort")
  }

  test("q5_join: every dimension joins as broadcast — only the fact " +
       "table shuffles") {
    val p = plan(Relational.q5Join(spark, sf))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 4, s"expected >=4 broadcast joins, got $broadcasts")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles <= 3, s"too many shuffles for a snowflake join: $shuffles")
  }

  test("pipeline_cleaned: all window features compute in ONE Window pass") {
    val p = plan(Panel.pipelineCleaned(spark, sf))
    val windows = "\\bWindow\\b".r.findAllIn(p).length
    assert(windows === 1, s"expected 1 WindowExec, got $windows:\n$p")
  }

  test("sim_topk_brute: probe side broadcast (nested-loop), corpus never " +
       "shuffles before scoring") {
    val p = plan(Similarity.topKBrute(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"))
  }

  test("tfidf_topterms: df side broadcasts; no term-partitioned window " +
       "(the stopword-skew shape) anywhere in the plan") {
    val p = plan(Corpus.tfidfTopTerms(spark, sf))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("windowspecdefinition(term"),
      "per-term window partitions buffer O(corpus) rows for stopwords")
  }

  test("bm25_topk: ends in a top-k, never a global sort of scores") {
    val p = plan(Corpus.bm25TopK(spark, sf))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("stratified_sample: the hash-threshold filter runs at the scan " +
       "(no prior shuffle)") {
    val p = plan(Corpus.stratifiedSample(spark, sf))
    assert(!p.split("FileScan")(0).contains("Exchange hashpartitioning"),
      "sample filter should be map-side over the scan")
  }

  test("sim_ann_ivf: consumers read the STAGED cell table (the ivf_cells " +
       "artifact) — assignment never re-runs inside a query plan") {
    Similarity.clusterBalance(spark, sf).count() // assign + stage once
    val p = plan(Similarity.annIvf(spark, sf))
    assert(p.contains("graft-staged"),
      "expected the staged ivf_cells artifact scan")
    assert(!p.contains("centroid_argmax"),
      "cell assignment must not re-run in a consumer of the staged cells")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "codebook must not be joined as a relation")
  }

  test("cube_agg: cube expands in a single aggregate pass (one shuffle)") {
    val p = plan(Relational.cubeAgg(spark, sf))
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles <= 1, s"cube should shuffle once, got $shuffles")
  }

  test("window_rank: both window specs share one o_custkey exchange") {
    val p = plan(Relational.windowRank(spark, sf))
    val shuffles =
      "Exchange hashpartitioning\\(o_custkey".r.findAllIn(p).length
    assert(shuffles === 1,
      s"expected 1 custkey exchange for both window specs, got $shuffles")
  }

  test("disjunctive: per-side residuals of the OR pushed into BOTH scans") {
    val pushed = Relational.disjunctiveFilter(spark, sf)
      .queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metadata("PushedFilters")
      }
    // lineitem scan carries the quantity-band OR, part scan the
    // brand/size-band OR — neither side scans unfiltered
    assert(pushed.exists(f => f.contains("Or(") && f.contains("l_quantity")))
    assert(pushed.exists(f => f.contains("Or(") && f.contains("p_brand")))
  }

  test("lm_score: consumers scan the staged score artifact — no bigram " +
       "lineage or gram window re-enters the consuming plan") {
    // the score table is a committed layer per (dir, fp) (round 14);
    // the scoring LINEAGE (uCnt hint-broadcast, planner-chosen bCnt
    // join, no per-gram window) runs once at staging and is asserted
    // below on the compute body directly
    val p = plan(Curation.lmScore(spark, sf))
    assert(!p.contains("windowspecdefinition(gram"),
      "per-gram windows are the stopword-skew hazard")
    assert(!p.toLowerCase.contains("explode"),
      "the staged read must not re-derive the bigram explode")
    // the staging compute keeps the documented shape: unigram stats
    // broadcast, no gram-partitioned window
    val pc = plan(Curation.lmScoreComputeForSpec(spark, sf))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(pc).length
    assert(broadcasts >= 1,
      s"unigram stats should broadcast in the staging lineage, got " +
        s"$broadcasts")
    assert(!pc.contains("windowspecdefinition(gram"),
      "per-gram windows are the stopword-skew hazard")
  }

  test("doc_pack: both windows run under one (lang, shard) exchange") {
    val p = plan(Curation.docPack(spark, sf))
    val shuffles =
      "Exchange hashpartitioning\\(lang".r.findAllIn(p).length
    assert(shuffles === 1, s"expected the cumsum and pack_pos windows to " +
      s"share ONE (lang, shard) exchange, got $shuffles lang exchanges")
  }

  test("pareto_suppliers + rfm_segments: ranking windows are partitioned " +
       "by range bucket — no single-task sort of the dimension aggregate") {
    for ((name, df) <- Seq(
        "pareto" -> Relational.paretoSuppliers(spark, sf),
        "rfm" -> Relational.rfmSegments(spark, sf))) {
      val p = plan(df)
      // every row_number runs under the _bkt-partitioned window; the only
      // unpartitioned windows left are the P-row offset cumsums
      assert(p.contains("windowspecdefinition(_bkt"),
        s"$name: expected bucket-partitioned ranking windows")
      assert(!"row_number\\(\\) windowspecdefinition\\((?!_bkt)".r
          .findAllIn(p).hasNext,
        s"$name: a row_number window not partitioned by _bkt is the " +
          "single-reducer global sort this shape exists to avoid")
    }
  }

  test("source_cap: bounded-heap aggregation, never a per-source window " +
       "sort") {
    val p = plan(Corpus.sourceCap(spark, sf))
    assert(p.contains("ObjectHashAggregate"),
      "TopKAggregator should run as an object hash aggregate")
    assert(!p.contains("windowspecdefinition(source"),
      "a per-source window sort buffers the hot domain in one task")
  }

  test("mixture_sample: pure map-side predicate — no exchange before the " +
       "filter") {
    val p = plan(Corpus.mixtureSample(spark, sf))
    // the only exchange allowed is the final presentation orderBy's range
    // partitioning; the sampling predicate itself must run at the scan
    assert(!p.split("Exchange rangepartitioning").head
      .contains("Exchange hashpartitioning"),
      "mixture sampling must not shuffle before filtering")
  }

  test("events_range_frame: one user_id exchange feeds the RANGE window") {
    val p = plan(graft.ops.Events.rangeFrame(spark, sf))
    val hashEx = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).length
    assert(hashEx === 1, s"expected exactly 1 user_id exchange, got $hashEx")
    assert(p.contains("specifiedwindowframe(RangeFrame"),
      "the window must be a RANGE frame, not a rows frame")
  }

  test("q6_filter: all three predicates pushed") {
    // plan toString truncates PushedFilters — read the scan metadata
    val pushed = Relational.q6Filter(spark, sf)
      .queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metadata("PushedFilters")
      }.mkString
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate"))
    assert(pushed.contains("GreaterThanOrEqual(l_discount"))
    assert(pushed.contains("LessThan(l_quantity"))
  }

  test("mad_outlier: no quantile aggregate in the consuming plan — the " +
       "(median, MAD) pairs are pre-learned model literals that " +
       "broadcast back (the psi_drift shape)") {
    val p = plan(graft.ops.Events.madOutliers(spark, sf))
    // both medians are memoized |types|-row model parameters per
    // (dir, events fingerprint) — the scoring plan is one broadcast
    // join + filter over events, with NO percentile aggregate left
    // (round 14; the fit is priced once in the bench cold column)
    assert(!p.contains("percentile"),
      "the (med, mad) model must be pre-learned literals — no " +
        "percentile aggregate may re-enter the consuming plan")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 1,
      "the |event types|-row statistics must broadcast back")
    assert(!p.contains("SortMergeJoin"),
      "nothing corpus-sized should sort-merge in this plan")
  }

  test("exact grouped quantiles, big mode: no percentile value-buffer " +
       "aggregate; ranking windows keyed by (group, value bucket)") {
    // the dataflow the hybrid switches to above QuantileDataflowMinRows
    // (the round-11 psi_drift failure shape otherwise) — plan asserted
    // directly, since no fixture crosses the 5M-row floor
    val e = graft.Tables.t(spark, sf, "events")
      .select("event_type", "value")
    val p = plan(graft.ops.Relational.groupedQuantiles(
      e, "event_type", "value", Seq(("q50", 0.5))))
    assert(!p.contains("percentile"),
      "the Θ(distinct-per-group) percentile buffer must not appear")
    // a window keyed by the group ALONE would concentrate one group's
    // whole histogram in a single sort task
    assert(p.contains("_bkt"),
      "ranking must be bucketed (the distributedRank move per group)")
  }

  test("weighted_sample: ticket-min priority is computed map-side before " +
       "the single stratum exchange; TopK aggregates partially") {
    val p = plan(Corpus.weightedSample(spark, sf))
    assert(p.contains("partial_topkaggregator"),
      "the bounded heap must participate in partial aggregation (≤ k " +
        "rows per stratum per map task)")
    assert("Exchange hashpartitioning\\(lang".r.findAllIn(p).length === 1,
      "exactly one shuffle: the per-language final TopK merge")
    // plan text is top-down: the subtree FEEDING the partial agg is the
    // text after its last mention — no Generate (explode) may appear
    // there; the posexplode of the k winners above the agg is fine.
    assert(!p.split("partial_topkaggregator").last.contains("Generate"),
      "ticket hashing must be array-local (array_min over transform), " +
        "never an explode before aggregation")
  }

  test("line_dedup: boilerplate removal is a broadcast anti-join — the " +
       "exploded corpus never reshuffles to meet the boilerplate set") {
    val p = plan(Dedup.lineDedup(spark, sf))
    assert("BroadcastHashJoin [^\\n]*LeftAnti".r.findFirstIn(p).nonEmpty,
      "the anti-join against the (provably small) boilerplate set must " +
        "be broadcast, never sort-merge")
    assert("SortMergeJoin [^\\n]*LeftAnti".r.findFirstIn(p).isEmpty,
      "a sort-merge anti-join would reshuffle the full exploded corpus")
  }

  test("intradoc_dedup: chunking and first-occurrence filtering are " +
       "array-local — zero hash exchanges in the plan") {
    val p = plan(Dedup.intradocDedup(spark, sf))
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 0,
      s"intra-document dedup must be a pure map-side projection:\n$p")
  }

  // ---- plan-shape pins for every batch query >1 s in the round-6 bench
  // (streaming twins exempt: their cost is micro-batch machinery, not
  // plan shape). A silent regression here — an uncapped wedge join, a
  // post-join top-k, a global sort — is exactly what the min-of-3 bench
  // could absorb as noise.

  test("link_predict: top-k never global-sorts, known edges drop via " +
       "anti join, and the 64-degree hub cap is in the plan") {
    val p = plan(graft.ops.Graph.linkPredict(spark, sf))
    assert(p.contains("TakeOrderedAndProject"))
    assert("Exchange rangepartitioning".r.findAllIn(p).isEmpty,
      "candidate pairs must never be globally sorted")
    assert(p.contains("LeftAnti"), "known-edge removal must be an anti join")
    assert(p.contains("<= 64"), "the degree cap vanished from the plan")
  }

  test("frequent_pairs: top-50 cut happens BEFORE the singles stats " +
       "join (TakeOrderedAndProject + broadcast of the 50-row side)") {
    val p = plan(graft.ops.Graph.frequentPairs(spark, sf))
    assert(p.contains("TakeOrderedAndProject"))
    val bhj = "BroadcastHashJoin".r.findAllIn(p).length
    assert(bhj >= 2,
      s"both singles joins must be against the broadcast top-50, got $bhj")
    assert("SortMergeJoin".r.findAllIn(p).isEmpty,
      "a sort-merge stats join means the top-k cut moved after the join")
  }

  test("degree_dist: undirected-pair distinct state, no window, and a " +
       "bounded exchange count") {
    val p = plan(graft.ops.Graph.degreeDist(spark, sf))
    assert(!p.contains("windowspecdefinition"),
      "degree counting must be aggregation, never a window")
    val ex = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(ex <= 12,
      s"exchange count $ex grew past the undirected-distinct plan's 12 — " +
        "directed-pair state doubling is the known regression here")
  }

  test("events_zscore: one event_type exchange feeds every window; no " +
       "unpartitioned window spec anywhere") {
    val p = plan(graft.ops.Events.zscoreAnomalies(spark, sf))
    val ex = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(ex === 1, s"expected exactly 1 hash exchange, got $ex")
    p.linesIterator.filter(_.contains("windowspecdefinition")).foreach { l =>
      assert(l.contains("event_type"),
        s"window not partitioned by event_type: $l")
    }
  }

  test("ingest_flatten: fully map-side — zero hash exchanges; only the " +
       "presentation sort moves rows") {
    val p = plan(graft.ops.Ingest.flattenValidate(spark, sf))
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty,
      "flatten/validate is per-row work; a hash exchange is a regression")
  }

  test("crossdoc_dedup: only digests shuffle — every hash exchange keys " +
       "on the chunk digest or doc_id, text never leaves its scan, and " +
       "the first-writer MIN combines map-side (no digest window)") {
    val p = plan(Dedup.crossdocDedup(spark, sf))
    val keys = "Exchange hashpartitioning\\((\\w+)#".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(keys.subsetOf(Set("h", "doc_id")),
      s"unexpected shuffle keys: $keys")
    p.linesIterator.filter(_.contains("Exchange")).foreach { l =>
      assert(!l.contains("text#"), s"document text in a shuffle: $l")
    }
    assert(p.contains("partial_min"),
      "first-writer selection must be a map-side-combinable MIN")
    assert(!p.contains("windowspecdefinition(h"),
      "a digest-partitioned window buffers hyper-duplicated chunks " +
        "in one task")
  }

  test("bloom_prefilter: map-side sketch probe in the plan; the exact " +
       "verify join broadcasts, never sort-merges") {
    val p = plan(Curation.bloomPrefilter(spark, sf))
    assert(p.contains("bloom_might_contain"),
      "the bloom probe must prefilter the gram stream")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"),
      "a sort-merge join would reshuffle the full gram stream — exactly " +
        "what the bloom exists to avoid")
  }

  test("heavy_hitters: the CMS frequency probe prunes the gram stream " +
       "MAP-SIDE — the filter sits below the aggregation exchange") {
    val p = plan(Corpus.cmsHeavyHitters(spark, sf))
    assert(p.contains("cms_estimate"),
      "the sketch probe must prefilter the gram stream")
    // top-down plan text: everything BELOW the hash exchange prints
    // after it — the probe filter must be in that scan-side section
    val parts = p.split("Exchange hashpartitioning", 2)
    assert(parts.length === 2 && parts(1).contains("cms_estimate"),
      s"cms probe must run before the shuffle, not after:\n$p")
  }

  test("sql_lateral: the LIMITed correlated subquery decorrelates to " +
       "WindowGroupLimit — no per-row subquery execution survives") {
    val p = plan(Relational.sqlLateral(spark, sf))
    assert(p.contains("WindowGroupLimit"),
      s"expected the decorrelated top-N-per-group operator:\n$p")
    assert(!p.contains("Subquery"), "a surviving per-row subquery " +
      "would re-execute the inner query once per outer row")
  }

  test("grouping_sets: explicit set list expands in a single aggregate " +
       "pass (one shuffle), like cube") {
    val p = plan(Relational.groupingSets(spark, sf))
    assert(p.contains("Expand"))
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles === 1, s"expected 1 shuffle, got $shuffles")
  }

  test("token_encode: vocabulary is a bounded top-k (never a global " +
       "sort); encoding joins the vocab broadcast") {
    val p = plan(graft.ops.Text.tokenEncode(spark, sf))
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("BroadcastHashJoin"))
  }

  test("skew_join: the fact-dim join keys on (user_id, salt) and " +
       "shuffles — the hot-key rows spread over the salt domain") {
    val p = plan(graft.ops.Events.skewJoin(spark, sf))
    val smj = "SortMergeJoin \\[[^\\]]*salt[^\\]]*\\]".r.findFirstIn(p)
    assert(smj.nonEmpty,
      s"expected a sort-merge join keyed on ...salt..., plan:\n$p")
  }

  test("quality_ensemble: the whole five-rule filter stack is one " +
       "map-side pass — zero hash exchanges") {
    val p = plan(Curation.qualityEnsemble(spark, sf))
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 0,
      s"the filter stack must run at scan speed, map-side only:\n$p")
  }

  test("importance_resample: the 64-bucket log-ratio model joins the " +
       "token stream as a BROADCAST — the scoring side never shuffles " +
       "on the bucket key") {
    val p = plan(Curation.importanceResample(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"the Θ(64)-row model must broadcast into the scoring join:\n$p")
    // the only hash exchanges allowed are the model aggregate (bucket
    // key, 64 groups) and the per-doc score aggregate — never a
    // token-stream shuffle for the model join itself
    val ex = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(ex <= 2, s"expected <=2 hash exchanges (model agg + doc agg), " +
      s"got $ex:\n$p")
  }

  test("mm_chunks: window expansion is a map-side posexplode — zero " +
       "hash exchanges") {
    val p = plan(graft.ops.Multimodal.chunks(spark, sf))
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 0, p)
    assert(p.contains("Generate"), "expected a posexplode Generate node")
  }

  test("kmeans_assign: final assignment is a codegen'd map-side " +
       "projection — zero hash exchanges") {
    val p = plan(Similarity.kmeansAssign(spark, sf))
    assert(p.contains("centroid_argmax"))
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 0,
      s"assignment must not shuffle the corpus:\n$p")
  }

  test("q7_volume: both nation legs broadcast — only the fact join and " +
       "the final aggregate shuffle") {
    val p = plan(Relational.q7Volume(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 4,
      "supplier, customer and both nation copies must broadcast")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles <= 3,
      s"expected fact join + final agg shuffles only, got $shuffles")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      "ship-year window must reach the scan")
  }

  test("q22_idle_rich: scalar threshold plans once, NOT EXISTS becomes " +
       "an anti hash join") {
    val p = plan(Relational.q22IdleRich(spark, sf))
    assert(p.contains("LeftAnti"),
      "recency NOT EXISTS must decorrelate to an anti join")
    assert(!p.contains("CartesianProduct"))
  }

  test("q13_custdist: left join keeps zero-order customers, both " +
       "aggregations partial") {
    val p = plan(Relational.q13Custdist(spark, sf))
    assert(p.contains("LeftOuter") || p.contains("BroadcastHashJoin"),
      "customers without orders must survive the join")
    assert("partial_count".r.findAllIn(p).length >= 1)
    val zeroKept = Relational.q13Custdist(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(zeroKept.values.sum ===
      Tables.t(spark, sf, "customer").count())
  }

  test("sparse_cosine: df via groupBy+join, never a per-term window " +
       "(the stopword-straggler hazard)") {
    val p = plan(Similarity.sparseCosine(spark, sf))
    assert(!p.contains("windowspecdefinition(term"),
      "a per-term window co-locates every stopword row in one task")
    assert(p.contains("HashAggregate"),
      "df must partially aggregate map-side")
  }

  test("colloc_lift: pair generation is array-local — one bounded-key " +
       "exchange, no join of any kind in the plan") {
    val p = plan(Corpus.collocLift(spark, sf))
    // the ≤C(64,2)-key pair groupBy is the only hash exchange; the vocab
    // is a collected model parameter (literals), not a join side
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1,
      s"expected only the pair-count exchange:\n$p")
    assert(!p.contains("Join"), "pairing must not join — it is map-side")
    assert(p.contains("Generate"), "expected the combination explode")
  }

  test("value_histogram: single hash exchange — bin id computed map-side, " +
       "fraction window runs over the 20-row aggregate") {
    val p = plan(graft.ops.Audit.valueHistogram(spark, sf))
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles === 1,
      s"histogram should shuffle once (the groupBy), got $shuffles")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      "bin counts must partially aggregate map-side")
  }

  test("rolling_median: one per-user window pass, no join, no extra " +
       "exchange") {
    val p = plan(graft.ops.Events.rollingMedian(spark, sf))
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles === 1,
      s"expected only the user-window exchange, got $shuffles")
    assert("Window".r.findAllIn(p).length >= 1)
  }

  test("text_chunks: zero hash exchanges — chunking is a pure map-side " +
       "explode + projection") {
    val p = plan(graft.ops.Text.textChunks(spark, sf))
    assert(!p.contains("Exchange hashpartitioning"),
      "chunking must not shuffle data")
  }

  test("AQE is live: a small aggregate's shuffle reads coalesce at " +
       "runtime (the mechanism that right-sizes reducers at any scale)") {
    val df = Relational.q1Agg(spark, sf)
    df.collect() // adaptive re-planning happens during execution
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AdaptiveSparkPlan isFinalPlan=true"),
      "query did not run under AQE")
    assert(p.contains("AQEShuffleRead") && p.contains("coalesced"),
      "AQE did not coalesce the small shuffle")
  }

  test("readability: zero hash exchanges — scoring is array-local") {
    val p = plan(graft.ops.Text.readability(spark, sf))
    assert(!p.contains("Exchange hashpartitioning"),
      "readability must not shuffle data")
  }

  test("psi_drift: exactly two scans (decile aggregate + one binning " +
       "pass) — both slices tally in a single conditional-sum pass") {
    val p = plan(graft.ops.Audit.psiDrift(spark, sf))
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans <= 2, s"psi_drift reads orders $scans times")
  }

  test("negative_pairs: one equi hash join, never a nested-loop or " +
       "cartesian") {
    val p = plan(Curation.negativePairs(spark, sf))
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"),
      "negative sampling must stay an equi key join")
  }

  test("skyline: no join against the full input — only broadcast joins " +
       "of the bounded bucket/frontier stats") {
    val p = plan(Relational.skyline(spark, sf))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"),
      "skyline must join only broadcast-sized stats relations")
  }

  test("equidepth_hist: no global Sort of the input — ranking rides " +
       "the bucket-partitioned distributed rank") {
    val p = plan(Relational.equidepthHist(spark, sf))
    // per-bucket sorts appear under a hashpartitioning(_bkt) exchange;
    // a single-task global sort would print Exchange SinglePartition
    // followed by Sort — forbid a rangepartitioning Sort of the base
    assert(!p.contains("Exchange rangepartitioning(o_totalprice"),
      "NTILE must not route through a global range sort")
  }

  test("group_split: no corpus-sized join anywhere — the label scan " +
       "feeds the tallies and only the 2-row leak table joins back") {
    // the pin targets the internal report dataflow: groupSplit executes
    // exactly this plan, then re-hosts the 6-row result locally so the
    // persisted intermediate can be unpersisted inside the operator
    val (report, pcs) = Curation.groupSplitReport(spark, sf)
    try {
      val p = plan(report)
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        "split tallies must never shuffle-join: the staged label table " +
          "already carries every doc")
      assert(p.contains("BroadcastHashJoin"),
        "the per-strategy leak counts must join back as a broadcast")
    } finally pcs.unpersist(blocking = false)
  }

  test("novelty_curve: no window operators — first-seen is a partial " +
       "aggregate over the gram key") {
    val p = plan(Curation.noveltyCurve(spark, sf))
    assert(!p.contains("Window"),
      "novelty must not route grams through a window")
    assert(p.contains("partial_min"),
      "first-seen must combine map-side before the gram shuffle")
  }

  test("curriculum_schedule: ranking rides the bucket-partitioned " +
       "distributed rank — no unpartitioned row_number over the corpus") {
    val p = plan(Curation.curriculumSchedule(spark, sf))
    assert(!p.contains("windowspecdefinition(") ||
      !p.split("\n").exists(l => l.contains("windowspecdefinition(") &&
        !l.contains("_bkt")),
      "every window must be partitioned by the rank bucket")
    assert(p.contains("BroadcastHashJoin"),
      "the P-row offset table must broadcast back")
  }

  test("join_fanout: the prediction never executes the self-join — no " +
       "join operator at all, totals broadcast back") {
    val p = plan(graft.ops.Audit.joinFanout(spark, sf))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "fan-out prediction must not run the join it prices")
    assert(p.contains("BroadcastNestedLoopJoin") ||
           p.contains("BroadcastHashJoin"),
      "the 1-row totals must come back as a broadcast")
  }

  test("k_anonymity / l_diversity: one QI shuffle each — the rollup " +
       "runs over the class relation, never a second corpus scan") {
    for (df <- Seq(graft.ops.Audit.kAnonymity(spark, sf),
                   graft.ops.Audit.lDiversity(spark, sf))) {
      val p = plan(df)
      val scans = "FileScan".r.findAllIn(p).length
      assert(scans === 1, s"expected a single customer scan, got $scans")
    }
  }

  test("calibration_ece: the 1-row ece aggregate joins back as a " +
       "broadcast, never a shuffle join") {
    val p = plan(Curation.calibrationEce(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"),
      "ece must broadcast onto the 10-row bin table")
    assert(!p.contains("SortMergeJoin"), "no shuffle join in a 10-row " +
      "cross join")
  }

  test("mm_dedup: only 16-byte digests shuffle — the payload column " +
       "never crosses the exchange") {
    val p = plan(graft.ops.Multimodal.payloadDedup(spark, sf))
    assert(p.contains("Exchange hashpartitioning(digest"),
      "grouping must key on the map-side digest")
    // the binary payload is consumed by the map-side md5/octet_length
    // projection below the exchange; the reduce side (printed ABOVE the
    // Exchange line) must never reference the text column
    val reduceSide = p.split("Exchange hashpartitioning")(0)
    assert(!reduceSide.contains("text#"),
      "payload bytes must not cross the shuffle")
  }

  test("mm_neardup: payloads never shuffle — signatures are computed " +
       "map-side and only (id, sig, band) tuples cross the exchanges") {
    // AQE's wrapper hides the tree from collect(); plan inspection wants
    // the plain physical tree, so build this one query with AQE off.
    // Broadcast off too: at fixture scale the band self-join broadcasts
    // (since the ownership filter replaced the .distinct(), no other
    // exchange remains), but the doctrine under audit is the AT-SCALE
    // shape — both band relations are corpus-sized, so production plans
    // the hash join whose exchanges must stay payload-free.
    val adaptiveWas = spark.conf.get("spark.sql.adaptive.enabled")
    val broadcastWas = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val exchanges = try {
      // precise form of the mm_dedup doctrine: no DATAFLOW shuffle (hash
      // partitioning: the band join) may carry the payload column —
      // signatures are map-side work. Tables.spread's round-robin
      // repartition is exempt: it is the single-file fixture
      // parallelism shim, conditional on input splits < cores, and a
      // no-op on any real multi-split layout.
      // Audited on the GENERATION plan (perceptualPairs): the shipped
      // query serves the staged pair artifact (Staged.layer), whose
      // plan is a parquet scan — the doctrine lives in the compute that
      // writes the artifact.
      graft.ops.Multimodal.perceptualPairs(spark, sf)
        .queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange
                    .ShuffleExchangeExec
              if e.outputPartitioning.isInstanceOf[
                org.apache.spark.sql.catalyst.plans.physical
                  .HashPartitioning] => e
        }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", adaptiveWas)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", broadcastWas)
    }
    val df = graft.ops.Multimodal.perceptualPairs(spark, sf)
    assert(exchanges.nonEmpty, "expected the band-join/distinct shuffles")
    exchanges.foreach { e =>
      assert(!e.output.exists(_.name == "text"),
        "payload bytes must not cross any shuffle")
    }
    val p = plan(df)
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"),
      "banded blocking must stay an equi-join, never all-pairs")
  }

  test("asof_native: the custom AsOfJoinExec plans in with exactly two " +
       "key-clustered exchanges (one per side), no window machinery") {
    val p = plan(graft.ops.Events.asofNative(spark, sf))
    // SparkPlan.nodeName strips the Exec suffix: the operator prints
    // as "AsOfJoin [output...]"
    assert(p.contains("AsOfJoin "), "custom strategy must plan the node")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles === 2, s"expected 2 exchanges, got $shuffles")
    val windows = "\\bWindow\\b".r.findAllIn(p).length
    assert(windows === 0, "native as-of must not fall back to a window")
  }

  test("q8_share: all five dimension legs broadcast — the only joins " +
       "that shuffle are on the fact") {
    val p = plan(Relational.q8Share(spark, sf))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 5, s"expected >=5 broadcast joins, got $broadcasts")
    assert(!p.contains("CartesianProduct"), "no cartesian in the snowflake")
  }

  test("q10_returned: fact aggregates before the dimension attaches; " +
       "top-20 is a TakeOrderedAndProject, not a global sort") {
    val p = plan(Relational.q10Returned(spark, sf))
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.split("TakeOrderedAndProject")(0).contains("Sort "),
      "top-k should not globally sort")
  }

  test("q15_topsupp: the max is a 1-row broadcast scalar, never a " +
       "shuffle join or window") {
    val p = plan(Relational.q15TopSupp(spark, sf))
    // Catalyst folds crossJoin(1-row max) + the equality filter into an
    // equi BroadcastHashJoin on `units` — either broadcast form is the
    // asserted property; a SortMergeJoin against a 1-row side is not.
    assert(p.contains("BroadcastHashJoin") ||
           p.contains("BroadcastNestedLoopJoin"),
      "max must attach as a 1-row broadcast")
    assert(!p.contains("SortMergeJoin"),
      "the scalar max must never shuffle-join")
    val windows = "\\bWindow\\b".r.findAllIn(p).length
    assert(windows === 0, "argmax must not run an unpartitioned window")
  }

  test("q17_smallqty: the correlated AVG is decorrelated — per-part " +
       "aggregate joined back, no subquery in the physical plan") {
    val p = plan(Relational.q17SmallQty(spark, sf))
    assert(!p.toLowerCase.contains("subquery"),
      "decorrelation must happen in the DataFrame, not a runtime subquery")
    val aggs = "HashAggregate".r.findAllIn(p).length
    assert(aggs >= 4, "per-part aggregate must partial-aggregate map-side")
  }

  test("q21_waiting: both correlated subqueries decorrelate — a " +
       "left-semi and a left-anti hash join on the order key, no " +
       "subquery or nested loop survives planning") {
    val p = plan(Relational.q21Waiting(spark, sf))
    assert(!p.toLowerCase.contains("subquery"),
      "EXISTS/NOT EXISTS must decorrelate, not execute per-row")
    assert(p.contains("LeftSemi"), "EXISTS must plan as a left-semi join")
    assert(p.contains("LeftAnti"), "NOT EXISTS must plan as a left-anti join")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"),
      "the <> supplier residual must ride the equi-join, not a nested loop")
  }

  test("q2_mincost: the correlated MIN decorrelates to a per-part " +
       "aggregate joined back; dimensions broadcast") {
    val p = plan(Relational.q2MinCost(spark, sf))
    assert(!p.toLowerCase.contains("subquery"),
      "the correlated scalar MIN must decorrelate, not execute per-row")
    assert(p.contains("BroadcastHashJoin"),
      "nation/region dimension legs must broadcast")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"))
  }

  test("bpe_merges: the per-round pair count partial-aggregates map-side " +
       "and pairs form array-locally — no explode-join, no window") {
    val vocab = graft.ops.Text.bpeVocab(
      spark.read.parquet(s"$sf/documents.parquet"))
    val p = plan(graft.ops.Text.bpePairCounts(vocab))
    assert("partial_sum".r.findAllIn(p).nonEmpty,
      "pair counts must combine map-side before the shuffle")
    assert(!p.contains("Window"),
      "no corpus-sized window belongs in the merge-learning loop")
    // one Generate (the array-local pair explode), exactly one exchange
    // pair (pair-count shuffle); the vocab aggregate upstream is its own
    // partial+final — so exchanges stay bounded at 2
    assert("Exchange".r.findAllIn(p).length <= 2,
      s"unexpected extra shuffles in the pair-count stage:\n$p")
  }

  test("sim_ann_lsh: the multi-probe fan-out is the bounded bucket " +
       "equi-join — probe signatures explode map-side, candidates meet " +
       "through a hash join on the bucket, never a similarity theta-join") {
    val p = plan(Similarity.annLsh(spark, sf))
    assert(p.contains("Generate"),
      "expected the probe-bucket explode on the query side")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"),
      "multi-probe must stay an equi-join, not an all-pairs Hamming scan")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
           p.contains("BroadcastHashJoin"),
      "candidates must meet through a hash-joinable bucket key")
  }

  test("sim_ann_pq: encode and ADC reconstruction are map-side (codebook " +
       "as expression constants, never a joined relation); candidates " +
       "meet only through the cell equi-join — the one nested-loop join " +
       "is the bounded query-sample × centroid probe ranking") {
    val p = plan(Similarity.simAnnPq(spark, sf))
    assert(!p.contains("centroid_argmax"),
      "both the cell assignment (ivf_cells) and the encode (pq_codes) " +
        "are staged artifacts — neither may re-run in a consumer")
    assert(p.contains("graft-staged"),
      "the PQ code and IVF cell tables must be read from their staged " +
        "artifacts — the learn/encode passes run once offline, not " +
        "inside each query")
    assert(!p.contains("CartesianProduct"),
      "no unbroadcast all-pairs anywhere")
    // the nprobe=2 cell ranking is Θ(|Q|·C): query sample × broadcast
    // centroids — priced and corpus-independent, like sim_topk_brute's
    assert(p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
           p.contains("BroadcastHashJoin"),
      "candidates must meet through a hash-joinable cell key")
  }

  test("pq_codes: consumers scan the trained code artifact — no encode " +
       "expression and no learn aggregate re-enter a consuming plan") {
    Similarity.pqCodes(spark, sf).count() // train + stage once
    val p = plan(Similarity.pqCodes(spark, sf))
    assert(p.contains("graft-staged"), "expected the staged artifact scan")
    assert(!p.contains("centroid_argmax"),
      "the encode must not re-run in a consumer of the staged codes")
    assert(!p.contains("Generate"),
      "the posexplode learn aggregate must not re-enter the plan")
  }

  test("mmr_select: centroid relevance and the selected set join as " +
       "broadcasts — the corpus is never on the build side of anything") {
    val p = plan(Similarity.mmrSelect(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      "the 8-row centroid table and selected sets must broadcast")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"))
  }

  test("psi_drift: no exact-percentile aggregate anywhere in the plan — " +
       "edges are pre-learned order statistics (distributedRank), the " +
       "corpus pass is one map-side bin + bounded aggregate") {
    // the round-11 100x probe's one super-linear find: nine scalar
    // percentile() buffers merged in one task (316 s at 15M orders).
    // psiEdges now learns edges eagerly via bounded-memory ranking, so
    // the consuming plan must carry only the broadcast 1-row edge
    // relation — any 'percentile(' in the plan is the regression
    val p = plan(graft.ops.Audit.psiDrift(spark, sf))
    assert(!p.contains("percentile"),
      "exact percentile must not re-enter the psi plan")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      "the 1-row edge relation joins as a broadcast")
  }

  test("q11_important: the grand total broadcasts back over the per-part " +
       "aggregate — the fact table is scanned once, not once per scalar") {
    val p = plan(graft.ops.Relational.q11Important(spark, sf))
    // one scan of lineitem feeding the per-part aggregate; the 1-row
    // total joins as a broadcast (BNLJ of one row is the intended shape)
    assert(p.contains("BroadcastNestedLoopJoin") ||
           p.contains("BroadcastHashJoin"))
    assert("Scan parquet".r.findAllIn(p).size <= 2,
      "the naive correlated form rescans the fact per comparison")
  }

  /** The bounded-window doctrine as an ASSERT over the whole surface
    * (round-11 ask #8): a WindowExec with an EMPTY partitionSpec funnels
    * its entire input through one task, which is legal only when that
    * input is bounded by construction — an aggregate over bounded keys,
    * a limit/top-k, or a collected model relation. Two gates, both
    * required: (1) structural — below every partition-less window, each
    * path to a leaf must hit an aggregate / limit / local relation
    * before any file scan (a raw corpus scan under such a window is the
    * single-reducer shape the probes keep catching); (2) nominal — the
    * query must be allowlisted HERE with the argument for why its
    * aggregate keys are bounded. A new corpus-growing unpartitioned
    * window therefore fails this test instead of a 100× probe. */
  test("full surface: every partition-less window sits above a bounded " +
       "relation, and each site is explicitly allowlisted") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    // Every entry names the bounded relation its partition-less
    // window(s) ride. Adding a query here requires the same argument.
    val allow: Map[String, String] = Map(
      "benford_digits" -> "9-row first-digit relation",
      "crosstab_assoc" -> "|priority × status| contingency cells",
      "cumulative_users" -> "|days| calendar aggregate (growth cumsum)",
      "curriculum_schedule" -> "distributedRank P-row offset cumsum",
      "equidepth_hist" -> "distributedRank P-row offset cumsum",
      "events_heatmap" -> "dow × hour ≤ 168 cells",
      "orders_open" -> "|days| calendar relation (open-interval sweep)",
      "padding_audit" -> "bounded length-bin relation",
      "pareto_suppliers" -> "distributedRank P-row offset cumsum",
      "psi_drift" -> "10-row decile-edge relation (psiEdges)",
      "quality_tradeoff" -> "10-row decile-bin relation",
      "rfm_segments" -> "3 × distributedRank P-row offset cumsums",
      "skyline" -> "B=256 bucket cummax + output-bounded frontier",
      "streaming_psi_drift" -> "10-row decile-edge relation (psiEdges)",
      "token_encode" -> "collected vocab relation (model parameter)",
      "value_histogram" -> "fixed-width bin relation",
      "vocab_coverage" -> "collected vocab relation (model parameter)",
      "zipf_slope" -> "top-1000 limit precedes the rank window")
    // AQE wraps the real tree in AdaptiveSparkPlanExec, whose collect()
    // traverses nothing — expand wrappers (and expression subqueries)
    // explicitly or the walk silently inspects an empty forest.
    def nodes(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case _ => p.children
      }
      p +: (kids ++ p.subqueries).flatMap(nodes)
    }
    def bounded(p: SparkPlan): Boolean = p match {
      case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
        => true // keys' boundedness is vouched by the allowlist entry
      case _: org.apache.spark.sql.execution.LocalTableScanExec => true
      case _ if p.nodeName.contains("Limit") ||
        p.nodeName.startsWith("TakeOrdered") => true
      case a: AdaptiveSparkPlanExec => bounded(a.executedPlan)
      case s: QueryStageExec => bounded(s.plan)
      case leaf if leaf.children.isEmpty => false // a corpus-sized scan
      case other => other.children.forall(bounded)
    }
    val offenders = collection.mutable.ArrayBuffer[String]()
    var winTotal = 0
    for ((name, fn) <- graft.SparkEntry.queries.toSeq.sortBy(_._1)) {
      val df = fn(spark, sf)
      if (!df.isStreaming) {
        val wins = nodes(df.queryExecution.executedPlan).collect {
          case w: org.apache.spark.sql.execution.window.WindowExec
              if w.partitionSpec.isEmpty => w: SparkPlan
          case w: org.apache.spark.sql.execution.window
              .WindowGroupLimitExec if w.partitionSpec.isEmpty =>
            w: SparkPlan
        }
        winTotal += wins.size
        wins.foreach { w =>
          val structOk = w.children.forall(bounded)
          val listed = allow.contains(name)
          if (!structOk || !listed)
            offenders += s"$name (structural=${structOk}, listed=$listed)"
        }
      }
      spark.catalog.clearCache()
    }
    assert(winTotal > 0,
      "the walk found ZERO partition-less windows — the traversal is " +
        "broken (distributedRank's offset window alone guarantees some)")
    assert(offenders.isEmpty,
      s"partition-less windows outside the doctrine:\n  " +
        offenders.distinct.mkString("\n  "))
  }
}
