package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Dataset auditing — the validation layer every ingest pipeline runs
  * before promoting a batch (the reference's malformed-record rejects,
  * `database.py:104-110`, generalized from per-row skips to corpus-level
  * constraint reports).
  *
  * Three operators:
  *  - `dqChecks`: declarative constraint violations (referential
  *    integrity, key uniqueness, domain ranges, blank payloads) as one
  *    audit table — counts, not row dumps, so output is O(#checks) at any
  *    corpus size.
  *  - `valueHistogram`: fixed-width distribution profile of a measure —
  *    the bin key is computed map-side, so the shuffle carries at most
  *    #bins groups per task (partial aggregation collapses everything
  *    else).
  *  - `crosstabAssoc`: lang × source contingency matrix with
  *    chi-square-style per-cell contributions — the "is my corpus mix
  *    independent of source?" question a mixture designer asks. All
  *    window math runs over the AGGREGATED matrix (|langs|·|sources|
  *    rows), never the corpus.
  */
object Audit {

  /** Constraint-violation audit: one row per declared check with
    * violation count, population size, and pass rate.
    *
    * The three lineitem checks share ONE left join against orders —
    * orphan detection (null build side), temporal sanity (ship before
    * order), and domain range all reduce in the same aggregate pass.
    * At 100 TB that join is the only shuffle; every count is a map-side
    * partial sum. Orders/documents checks are single-scan aggregates.
    */
  def dqChecks(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"), col("l_discount"))
    val ord = Tables.t(spark, dir, "orders")
    val docs = Tables.t(spark, dir, "documents")

    val j = li.join(
      ord.select(col("o_orderkey"), col("o_orderdate")),
      col("l_orderkey") === col("o_orderkey"), "left")
    val liChecks = j.agg(
        sum(when(col("o_orderkey").isNull, 1L).otherwise(0L))
          .as("orphan_lineitem"),
        sum(when(col("o_orderkey").isNotNull &&
                 col("l_shipdate") < col("o_orderdate"), 1L).otherwise(0L))
          .as("ship_before_order"),
        sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1L)
          .otherwise(0L)).as("bad_discount"),
        count(lit(1)).as("total"))
      .select(expr(
        """stack(3,
          |  'orphan_lineitem',   orphan_lineitem,
          |  'ship_before_order', ship_before_order,
          |  'bad_discount',      bad_discount) AS (check_name, violations)
          |""".stripMargin),
        col("total"))

    val ordChecks = ord.agg(
        (count(lit(1)) - countDistinct(col("o_orderkey")))
          .as("violations"),
        count(lit(1)).as("total"))
      .select(lit("dup_orderkey").as("check_name"),
              col("violations"), col("total"))

    val docChecks = docs.agg(
        sum(when(col("text").isNull || trim(col("text")) === "", 1L)
          .otherwise(0L)).as("violations"),
        count(lit(1)).as("total"))
      .select(lit("blank_doc_text").as("check_name"),
              col("violations"), col("total"))

    liChecks.unionByName(ordChecks).unionByName(docChecks)
      .select(col("check_name"), col("violations"), col("total"),
        // +1e-9: deterministic decimal-tie break (README determinism note)
        round(lit(1.0) - col("violations") / col("total") + 1e-9, 6)
          .as("pass_rate"))
      .orderBy(col("check_name"))
  }

  private val BinWidth = 25000.0
  private val NBins = 20

  /** Fixed-width histogram of orders.o_totalprice: 20 bins of 25k, top
    * bin clamped open-ended. The bin id is a pure map-side expression, so
    * partial aggregation reduces each task's output to ≤ 20 rows before
    * the (single, tiny) shuffle; the fraction denominator is a window
    * over the 20-row aggregate, not a second scan. */
  def valueHistogram(spark: SparkSession, dir: String): DataFrame = {
    val bin = least(greatest(floor(col("o_totalprice") / BinWidth), lit(0)),
      lit(NBins - 1)).cast("long")
    val n = Tables.t(spark, dir, "orders")
      .groupBy(bin.as("bin")).agg(count(lit(1)).as("n"))
    n.withColumn("total", sum(col("n")).over(Window.partitionBy()))
      .select(col("bin"),
        (col("bin") * BinWidth).as("lo"),
        ((col("bin") + 1) * BinWidth).as("hi"),
        col("n"),
        round(col("n") / col("total") + 1e-9, 6).as("frac"))
      .orderBy(col("bin"))
  }

  /** lang × source association: observed cell counts vs the
    * independence-expected counts, with per-cell chi-square
    * contributions. Contributions are reported PER CELL, not summed —
    * the per-cell divisions have a fixed operand order (exact-integer
    * row/col/grand totals), so cross-engine float parity is exact,
    * where a sum over cells would depend on accumulation order.
    * One corpus shuffle (the groupBy); the three marginal sums are
    * windows over the |langs|·|sources| aggregate. */
  def crosstabAssoc(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.t(spark, dir, "documents")
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n"))
    val rowTot = sum(col("n")).over(Window.partitionBy(col("lang")))
    val colTot = sum(col("n")).over(Window.partitionBy(col("source")))
    val grand = sum(col("n")).over(Window.partitionBy())
    cells
      // ratio-first evaluation: (row/grand)·col keeps the intermediate
      // below the marginal magnitude — a long·long marginal product
      // overflows once row·col totals pass 2^63 (≈3B docs per side);
      // the oracle evaluates the same ops in the same order, so parity
      // is exact at every scale
      .withColumn("expected_raw",
        rowTot.cast("double") / grand * colTot)
      .select(col("lang"), col("source"), col("n"),
        round(col("expected_raw") + 1e-9, 6).as("expected"),
        round(pow(col("n") - col("expected_raw"), 2) / col("expected_raw")
          + 1e-9, 6).as("contrib"))
      .orderBy(col("lang"), col("source"))
  }

  /** Benford's-law expected first-digit frequencies log10(1+1/d), pinned
    * as 6-dp decimal literals: JVM Math.log10 and DuckDB log10 disagree
    * by 1 ulp on d=3 (measured), so the expectation table is a shared
    * CONSTANT, not a per-engine computation. */
  private val Benford = Seq(0.30103, 0.176091, 0.124939, 0.09691,
    0.079181, 0.066947, 0.057992, 0.051153, 0.045757)

  /** Benford first-digit audit of o_totalprice — the classic synthetic-
    * data / fraud smoke test: compare the observed leading-digit
    * distribution with Benford's expectation. The leading digit is
    * derived with PURE INTEGER arithmetic (a CASE ladder of integer
    * divisions — no log10 on data values, whose cross-engine ulp drift
    * would flip digits at power-of-10 boundaries), computed map-side;
    * the shuffle carries 9 groups. The ladder covers magnitudes to
    * 1e18 (the full BIGINT money range), not just the fixture's. */
  def benfordDigits(spark: SparkSession, dir: String): DataFrame = {
    val expMap = map((1 to 9).flatMap(d =>
      Seq(lit(d.toLong), lit(Benford(d - 1)))): _*)
    val n = Tables.t(spark, dir, "orders")
      .filter(col("o_totalprice") >= 1.0)
      .withColumn("v", floor(col("o_totalprice")).cast("long"))
      .withColumn("digit", expr(
        """CASE WHEN v >= 100000000000000000 THEN v div 100000000000000000
          |     WHEN v >= 10000000000000000 THEN v div 10000000000000000
          |     WHEN v >= 1000000000000000 THEN v div 1000000000000000
          |     WHEN v >= 100000000000000 THEN v div 100000000000000
          |     WHEN v >= 10000000000000 THEN v div 10000000000000
          |     WHEN v >= 1000000000000 THEN v div 1000000000000
          |     WHEN v >= 100000000000 THEN v div 100000000000
          |     WHEN v >= 10000000000 THEN v div 10000000000
          |     WHEN v >= 1000000000 THEN v div 1000000000
          |     WHEN v >= 100000000 THEN v div 100000000
          |     WHEN v >= 10000000  THEN v div 10000000
          |     WHEN v >= 1000000   THEN v div 1000000
          |     WHEN v >= 100000    THEN v div 100000
          |     WHEN v >= 10000     THEN v div 10000
          |     WHEN v >= 1000      THEN v div 1000
          |     WHEN v >= 100       THEN v div 100
          |     WHEN v >= 10        THEN v div 10
          |     ELSE v END""".stripMargin))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    n.withColumn("total", sum(col("n")).over(Window.partitionBy()))
      .select(col("digit"),
        col("n"),
        round(col("n") / col("total") + 1e-9, 6).as("obs_frac"),
        element_at(expMap, col("digit")).as("exp_frac"))
      .withColumn("dev", round(abs(col("obs_frac") - col("exp_frac")), 6))
      .orderBy(col("digit"))
  }

  /** Population stability index — the drift audit run before trusting a
    * model (or a curation threshold) trained on last quarter's
    * distribution: deciles of the BASE slice (orders before 1998) become
    * the bins, the CURRENT slice (1998+) is scored against them, and
    * PSI = Σ (q−p)·ln(q/p) with the conventional 1e-4 clamp on empty
    * bins. Shapes: one exact-percentile aggregate over the base slice
    * (a 1-row, 9-column broadcast — the winsorize cut doctrine: bin
    * membership can't flip on a cut ulp), then each slice is one
    * map-side binning + ≤10-group aggregate; the fraction windows run
    * over the 10-row bin table. The bin expression is ONE shared CASE
    * text evaluated by both engines. */
  def psiDrift(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.t(spark, dir, "orders")
    // one pass over orders: both slices bin and tally in the same
    // map-side aggregate (the conditional-sum pivot, not two scans)
    psiTail(
      o.crossJoin(broadcast(psiEdges(spark, dir)))
        .withColumn("bin", expr(psiBinExpr).cast("long"))
        .withColumn("is_base", psiIsBase)
        .groupBy(col("bin"))
        .agg(sum(when(col("is_base"), 1L).otherwise(0L)).as("n_base"),
             sum(when(col("is_base"), 0L).otherwise(1L)).as("n_cur")))
  }

  /** The base/current boundary of the PSI audit — the SINGLE definition
    * the batch operator, the streaming twin, and the oracle text share. */
  private[graft] def psiCut: Column = lit("1998-01-01").cast("timestamp")

  /** TRUE when an order row belongs to the BASE slice. NULL order dates
    * are NOT base (they fall to the current slice): the batch pivot's
    * `when(is_base, …).otherwise(…)` already sent NULL there, and the
    * streaming twin must route the same rows the same way — a bare
    * `o_orderdate >= psiCut` stream filter would silently DROP them
    * instead, diverging the twins the day a feed carries a NULL date. */
  private[graft] def psiIsBase: Column =
    coalesce(col("o_orderdate") < psiCut, lit(false))

  /** Base-slice decile edges — the 1-row model parameter the drift audit
    * publishes offline and every scoring pass broadcasts. The nine
    * decile doubles are learned from the base slice ONCE per orders
    * content ([[graft.Staged]]) and every later invocation builds its 1-row
    * relation from the cached literals. Before this, EVERY psi_drift /
    * streaming_psi_drift invocation re-ran the count + distributedRank
    * + flanking-row collect (eagerly, at DataFrame-construction time —
    * and the streaming twin built the relation TWICE per call: once for
    * publish, once in psiStreamReport), several driver-visible jobs per
    * bench pass that a deployment's offline-learned artifact never
    * pays. NULL edges = empty base slice. */
  private[graft] def psiEdges(spark: SparkSession, dir: String): DataFrame = {
    val nullEdge = lit(null).cast("double")
    graft.Staged.value(graft.Staged.key("psi_edge_values", dir, "orders"))(
      psiEdgeValues(spark, dir)) match {
      case Some(edges) =>
        spark.range(1)
          .select((1 to 9).map(k => lit(edges(k - 1)).as(s"e$k")): _*)
      case None =>
        spark.range(1)
          .select((1 to 9).map(k => nullEdge.as(s"e$k")): _*)
    }
  }

  private def psiEdgeValues(spark: SparkSession,
                            dir: String): Option[Seq[Double]] = {
    // Exact decile edges with BOUNDED memory. The round-11 100× probe
    // caught the old shape — nine scalar percentile() aggregates —
    // at 316 s over 15M base orders (psi_drift's whole bill): each call
    // kept its own value→count buffer, merged in ONE final task, so
    // memory was Θ(9 · distinct values) in a single reducer — the shape
    // that cannot reach 10⁹ rows. (The array form percentile(v,
    // array(…)) shares one buffer: 113 s — better, same Θ(distinct)
    // single-task merge.) Edges are order statistics, and the repo
    // already owns the bounded-memory exact-rank machine
    // (Relational.distributedRank — the rfm_segments NTILE move): rank
    // the base slice by price (range-bucketed parallel sorts, no task
    // holds more than its bucket), fetch the ≤18 rows flanking the nine
    // percentile positions, and interpolate DRIVER-SIDE replicating
    // Spark Percentile's (ceil−pos)·lower + (pos−floor)·higher double
    // arithmetic exactly — which is what the DuckDB oracle's
    // quantile_cont already hash-matches. Measured at 15M base rows:
    // 316 → 15 s, and every stage is Θ(N/P) memory.
    val base = Tables.t(spark, dir, "orders").filter(psiIsBase)
      .select(col("o_totalprice").as("v"))
    val n = base.count()
    if (n == 0) return None
    // the same double constants the old percentile() literals parsed
    val ps = (1 to 9).map(k => s"0.$k".toDouble)
    val targets = ps.map { p =>
      val pos = p * (n - 1)
      (pos, math.floor(pos).toLong + 1L, math.ceil(pos).toLong + 1L)
    }
    val need = targets.flatMap(t => Seq(t._2, t._3)).distinct
    val byRank = Relational.distributedRank(base, "v", asc = true,
        Seq(col("v")), "_rnk")
      .filter(col("_rnk").isin(need: _*))
      .select(col("_rnk"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    Some(targets.map { case (pos, lo, hi) =>
      if (lo == hi) byRank(lo)
      else byRank(lo) * (math.ceil(pos) - pos) +
        byRank(hi) * (pos - math.floor(pos))
    })
  }

  /** Shared tail of the PSI audit: (bin, n_base, n_cur) cells → the
    * fraction/clamp/term report. Extracted so the streaming twin derives
    * its final table through the SAME expressions as the batch operator
    * (the qualityVerdicts doctrine — twins that recompute the tail
    * independently drift). */
  private[graft] def psiTail(cells: DataFrame): DataFrame = {
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    cells
      .withColumn("p", col("n_base") / sum(col("n_base")).over(wAll))
      .withColumn("q", col("n_cur") / sum(col("n_cur")).over(wAll))
      .withColumn("pc", greatest(col("p"), lit(1e-4)))
      .withColumn("qc", greatest(col("q"), lit(1e-4)))
      .select(col("bin"), col("n_base"), col("n_cur"),
        round(col("p") + 1e-9, 6).as("p_base"),
        round(col("q") + 1e-9, 6).as("p_cur"),
        round((col("qc") - col("pc")) * log(col("qc") / col("pc")) + 1e-9, 6)
          .as("psi_term"))
      .orderBy(col("bin"))
  }

  /** Streaming-twin assembly: the live current-slice counts (from the
    * complete-mode stream aggregate) meet the batch base-slice counts in
    * a full outer join on bin — the union of bins either slice touched,
    * exactly the bin set the batch operator's single groupBy produces —
    * then the shared psiTail derives the report. */
  private[graft] def psiStreamReport(spark: SparkSession, dir: String,
                                     cur: DataFrame): DataFrame = {
    val base = Tables.t(spark, dir, "orders")
      .filter(col("o_orderdate") < psiCut)
      .crossJoin(broadcast(psiEdges(spark, dir)))
      .withColumn("bin", expr(psiBinExpr).cast("long"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n_base"))
    psiTail(
      base.join(cur, Seq("bin"), "full")
        .select(col("bin"),
                coalesce(col("n_base"), lit(0L)).as("n_base"),
                coalesce(col("n_cur"), lit(0L)).as("n_cur")))
  }

  /** Decile-bin id as one shared CASE-sum text (valid Spark SQL AND
    * DuckDB SQL — the zExpr doctrine): count of base-decile edges
    * strictly below the value, 0..9. */
  private[graft] val psiBinExpr: String = (1 to 9)
    .map(k => s"(CASE WHEN o_totalprice > e$k THEN 1 ELSE 0 END)")
    .mkString(" + ")

  /** k-anonymity audit over the customer table — the privacy gate a
    * training-data release runs before shipping records keyed by quasi-
    * identifiers. QI = (nation, market segment, 2000-wide account-balance
    * band): every combination an adversary could plausibly know. The
    * dataset's k-anonymity is the smallest equivalence-class size; the
    * audit also reports how many ROWS sit in classes below the usual
    * k ∈ {2, 5, 10} thresholds (those are the re-identifiable ones) and
    * the k=5 risk in ppm — all integers, so cross-engine parity is exact
    * by construction (the ppm is one half-away-from-zero rounding both
    * engines share).
    *
    * Scale: one map-side-combinable groupBy onto the QI key — the shuffle
    * carries ≤ |classes| groups per task — then a single 1-row aggregate
    * over the Θ(classes) relation, unpivoted to a fixed 8-row report.
    * Nothing row-level ever leaves the first aggregate. */
  def kAnonymity(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.t(spark, dir, "customer"))
      .groupBy(col("c_nationkey"), col("c_mktsegment"),
               floor(col("c_acctbal") / 2000).cast("long").as("bal_band"))
      .agg(count(lit(1)).as("sz"))
      .agg(sum(col("sz")).as("rows_total"),
           count(lit(1)).as("classes_total"),
           min(col("sz")).as("min_class_size"),
           sum(when(col("sz") < 2, col("sz")).otherwise(0L))
             .as("rows_k2_violating"),
           sum(when(col("sz") < 5, col("sz")).otherwise(0L))
             .as("rows_k5_violating"),
           sum(when(col("sz") < 10, col("sz")).otherwise(0L))
             .as("rows_k10_violating"),
           sum(when(col("sz") < 5, 1L).otherwise(0L))
             .as("classes_k5_violating"))
      .select(expr(
        """stack(8,
          |  'rows_total',          rows_total,
          |  'classes_total',       classes_total,
          |  'min_class_size',      min_class_size,
          |  'rows_k2_violating',   rows_k2_violating,
          |  'rows_k5_violating',   rows_k5_violating,
          |  'rows_k10_violating',  rows_k10_violating,
          |  'classes_k5_violating', classes_k5_violating,
          |  'k5_risk_ppm', CAST(round(rows_k5_violating * 1e6 / rows_total)
          |                      AS BIGINT)) AS (stat, value)
          |""".stripMargin))
      .orderBy(col("stat"))

  /** l-diversity audit — k-anonymity's sibling: a class can be large (k
    * safe) yet homogeneous in the SENSITIVE attribute, so membership
    * alone reveals it (the homogeneity attack). QI here is (nation,
    * balance band) — the k_anonymity QI minus the segment, which becomes
    * the sensitive attribute; l = distinct sensitive values per class.
    * Reported: class/row totals, min/max l, l=1 (homogeneous) classes
    * and the rows they expose, and mean l in ppm — all integers (the ppm
    * is one shared half-away-from-zero rounding).
    *
    * Scale: one two-level aggregate — groupBy the QI key with a distinct
    * count inside (Spark expands to a two-phase partial distinct), then
    * a 1-row aggregate over the Θ(classes) relation. Fixed 7-row report. */
  def lDiversity(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.t(spark, dir, "customer"))
      .groupBy(col("c_nationkey"),
               floor(col("c_acctbal") / 2000).cast("long").as("bal_band"))
      .agg(count(lit(1)).as("sz"),
           countDistinct(col("c_mktsegment")).as("l"))
      .agg(count(lit(1)).as("classes_total"),
           sum(col("sz")).as("rows_total"),
           min(col("l")).as("min_l"),
           max(col("l")).as("max_l"),
           sum(when(col("l") === 1, 1L).otherwise(0L)).as("classes_l1"),
           sum(when(col("l") === 1, col("sz")).otherwise(0L))
             .as("rows_l1"),
           sum(col("l")).as("sum_l"))
      .select(expr(
        """stack(7,
          |  'classes_total', classes_total,
          |  'rows_total',    rows_total,
          |  'min_l',         min_l,
          |  'max_l',         max_l,
          |  'classes_l1',    classes_l1,
          |  'rows_l1',       rows_l1,
          |  'mean_l_ppm',    CAST(round(sum_l * 1e6 / classes_total)
          |                        AS BIGINT)) AS (stat, value)
          |""".stripMargin))
      .orderBy(col("stat"))

  /** t-closeness audit — the third member of the privacy triple
    * (k_anonymity bounds class SIZE, l_diversity bounds sensitive-value
    * VARIETY; this bounds sensitive-value DISTRIBUTION SKEW: a class
    * can hold all five segments and still leak if one dominates). Per
    * QI class (nation, 2000-wide balance band), the total-variation
    * distance between the class's market-segment distribution and the
    * global one; classes with TVD > 0.3 are flagged.
    *
    * Exact-parity arithmetic: TVD = Σ|n_cs·N − n_s·n_c| / (2·n_c·N),
    * and the numerator is a PURE-INTEGER sum (order-free under any
    * partitioning), so each class's TVD is one exact division; absent
    * (class, segment) cells contribute n_s·n_c each, folded in as the
    * closed form N·n_c + Σ_present(|…| − n_s·n_c) so the segment grid
    * never materializes. The t > 0.3 flag cross-multiplies to integers
    * in lowest terms (5·num > 3·n_c·N) — membership cannot wobble on a
    * division ulp. Overflow bound: num ≤ 2·n_c·N, so the flag's products
    * stay within Long while 5·2·n_c·N < 2⁶³, i.e. n_c·N < ~9.2·10¹⁷ —
    * safe to a ~10⁹-row corpus even when one class holds most of it
    * (the reduced 5/3 form buys 2× the headroom of the 10/6 original;
    * past that bound, compare via DECIMAL(38,0)/HUGEINT in both
    * engines).
    * The mean is averaged over per-class INTEGER ppms for the same
    * reason (a float TVD sum over classes is summation-order-dependent
    * at the ulp).
    *
    * Scale: one (class, segment) map-side-combinable aggregate, a
    * Θ(classes) rollup, segment totals a 5-row broadcast; fixed 6-row
    * report. */
  def tCloseness(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.spread(Tables.t(spark, dir, "customer"))
      .select(col("c_nationkey"),
        floor(col("c_acctbal") / 2000).cast("long").as("bal_band"),
        col("c_mktsegment").as("seg"))
    val cells = c.groupBy(col("c_nationkey"), col("bal_band"), col("seg"))
      .agg(count(lit(1)).as("n_cs"))
    val classTot = cells
      .groupBy(col("c_nationkey").as("ct_nation"), col("bal_band").as("ct_band"))
      .agg(sum(col("n_cs")).as("n_c"))
    val segTot = c.groupBy(col("seg")).agg(count(lit(1)).as("n_s"))
    val total = segTot.agg(sum(col("n_s")).as("nn"))
    val perClass = cells
      .join(classTot,
        col("c_nationkey") === col("ct_nation") &&
          col("bal_band") === col("ct_band"))
      .join(broadcast(segTot), Seq("seg"))
      .crossJoin(broadcast(total))
      .groupBy(col("c_nationkey"), col("bal_band"))
      .agg(first(col("n_c")).as("n_c"), first(col("nn")).as("nn"),
        sum(abs(col("n_cs") * col("nn") - col("n_s") * col("n_c"))
          - col("n_s") * col("n_c")).as("present_term"))
      .withColumn("num", col("nn") * col("n_c") + col("present_term"))
      .withColumn("tvd", col("num") / (lit(2.0) * col("n_c") * col("nn")))
      .withColumn("ppm",
        round(col("num") * 1e6 / (lit(2.0) * col("n_c") * col("nn")))
          .cast("long"))
      .withColumn("above",
        lit(5L) * col("num") > lit(3L) * col("n_c") * col("nn"))
    perClass.agg(
        count(lit(1)).as("classes_total"),
        sum(col("n_c")).as("rows_total"),
        max(col("tvd")).as("max_tvd"),
        sum(col("ppm")).as("sum_ppm"),
        sum(when(col("above"), 1L).otherwise(0L)).as("classes_above_03"),
        sum(when(col("above"), col("n_c")).otherwise(0L))
          .as("rows_above_03"))
      .select(expr(
        """stack(6,
          |  'classes_total',   CAST(classes_total AS DOUBLE),
          |  'rows_total',      CAST(rows_total AS DOUBLE),
          |  'max_tvd',         round(max_tvd + 1e-9, 6),
          |  'mean_tvd_ppm',    round(sum_ppm / CAST(classes_total
          |                            AS DOUBLE)),
          |  'classes_above_03', CAST(classes_above_03 AS DOUBLE),
          |  'rows_above_03',   CAST(rows_above_03 AS DOUBLE)
          |) AS (stat, value)""".stripMargin))
      .orderBy(col("stat"))
  }

  /** Join fan-out audit of the lineitem self-join on l_partkey — the
    * edge build behind pagerank / frequent_pairs / triangles, and the
    * first place a skewed key quietly turns Θ(N) into Θ(N²). Per key
    * multiplicity c: how many keys, how many input rows they hold, and
    * the c²·keys join rows they will emit; the per-row totals give the
    * amplification factor the optimizer needs BEFORE running the join
    * (Σc² is exactly the self-equi-join cardinality — pinned against
    * the actual join in AuditSpec).
    *
    * Scale: two map-side-combinable aggregations (key → count, count →
    * histogram); output is bounded by the max multiplicity, never the
    * corpus; totals are a 1-row aggregate over that histogram broadcast
    * back. The prediction itself never runs the join. The quadratic
    * columns (c²·keys and their sum) are DOUBLE: a BIGINT c² overflows
    * ANSI-loudly at exactly the hot-key inputs the audit exists to
    * flag, while the double stays exact below 2^53 pairs and degrades
    * to magnitude (which is all a >9e18-pair warning needs) above. */
  def joinFanout(spark: SparkSession, dir: String): DataFrame = {
    val hist = Tables.spread(Tables.t(spark, dir, "lineitem"))
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("c"))
      .groupBy(col("c").as("key_multiplicity"))
      .agg(count(lit(1)).as("n_keys"))
      .withColumn("total_rows", col("key_multiplicity") * col("n_keys"))
      .withColumn("pairs_contributed",
        col("key_multiplicity").cast("double") *
          col("key_multiplicity") * col("n_keys"))
    val tot = hist.agg(
      sum(col("total_rows")).as("input_rows"),
      sum(col("pairs_contributed")).as("join_rows"))
    hist.crossJoin(broadcast(tot))
      .select(col("key_multiplicity"), col("n_keys"), col("total_rows"),
        col("pairs_contributed"), col("input_rows"), col("join_rows"),
        round(col("join_rows") / col("input_rows") + 1e-9, 4)
          .as("amplification"))
      .orderBy(col("key_multiplicity"))
  }

  /** Differentially-private count release — the step AFTER the k-anon /
    * l-div / t-closeness audits: per-source document counts released
    * through the Laplace mechanism at three privacy budgets
    * (ε ∈ {0.5, 1, 2}, sensitivity 1 — one document is one unit of any
    * source's count), so the utility cost of each budget is a number
    * the release owner reads off one table. Noise is the inverse-CDF
    * Laplace draw over a SEEDED md5 uniform (the doc_shuffle/
    * globalSample RNG-free doctrine: md5 is the one hash both engines
    * compute identically; a rand() release would be un-gateable and
    * un-reproducible) — u = first 48 hash bits / 2⁴⁸, noise =
    * −(1/ε)·sgn(u−½)·ln(1−2|u−½|), with the 1−2|·| term floored at
    * 1e-12 so the u→{0,1} corner can't produce ±∞.
    *
    * The draw's seed is an EXPLICIT salt parameter threaded into the
    * hash input. The gate fixes it ("gate" — the oracle restates the
    * same constant) so the release is bit-reproducible; BECAUSE the salt
    * is public at the gate, this build's released_n is invertible (anyone
    * can recompute the noise and recover true_n) and provides zero actual
    * privacy — it demonstrates the MECHANISM only. A production release
    * passes entropy (e.g. a per-release random salt kept secret), which
    * is the one knob that makes the noise unpredictable; the dataflow
    * (map-side noise on a |groups|-row aggregate, nothing row-level
    * leaves the first shuffle) is unchanged either way.
    *
    * Scale: one map-side-combinable groupBy (|sources| rows) and pure
    * row-local arithmetic after it; the ε fan-out is a 3-element
    * array explode on the tiny aggregate, never on the corpus. */
  def dpRelease(spark: SparkSession, dir: String,
                salt: String = gateSalt): DataFrame = {
    val g = Tables.spread(Tables.t(spark, dir, "documents"))
      .groupBy(col("source")).agg(count(lit(1)).as("true_n"))
    g.select(col("source"), col("true_n"),
        explode(array(lit(0.5), lit(1.0), lit(2.0))).as("eps"))
      .withColumn("u",
        conv(substring(md5(concat(lit(s"dp|$salt|"),
            col("eps").cast("string"),
            lit("|"), col("source")).cast("binary")), 1, 12), 16, 10)
          .cast("double") / lit(281474976710656.0))
      .withColumn("noise",
        round(-(lit(1.0) / col("eps")) * signum(col("u") - 0.5) *
          log(greatest(lit(1.0) - lit(2.0) * abs(col("u") - 0.5),
            lit(1e-12))), 6))
      .select(col("source"), col("eps"), col("true_n"), col("noise"),
        (col("true_n") + round(col("noise"), 0).cast("long"))
          .as("released_n"))
      .orderBy(col("source"), col("eps"))
  }

  /** The gate's public dp_release salt — fixed so the oracle can restate
    * it; see dpRelease's invertibility note. */
  private[graft] val gateSalt = "gate"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dp_release"      -> ((s: SparkSession, d: String) => dpRelease(s, d)),
    "k_anonymity"     -> (kAnonymity _),
    "l_diversity"     -> (lDiversity _),
    "join_fanout"     -> (joinFanout _),
    "psi_drift"       -> (psiDrift _),
    "t_closeness"     -> (tCloseness _),
    "dq_checks"       -> (dqChecks _),
    "value_histogram" -> (valueHistogram _),
    "benford_digits"  -> (benfordDigits _),
    "crosstab_assoc"  -> (crosstabAssoc _))

  val oracle: Map[String, String] = Map(
    "dp_release" ->
      """WITH g AS (
        |  SELECT source, COUNT(*)::BIGINT AS true_n
        |  FROM documents GROUP BY source),
        |u AS (
        |  SELECT source, true_n, eps,
        |    CAST(('0x' || substring(md5(
        |        'dp|gate|' || CAST(eps AS VARCHAR) || '|' || source),
        |      1, 12))::BIGINT AS DOUBLE) / 281474976710656.0 AS u
        |  FROM g CROSS JOIN
        |    (SELECT unnest([0.5::DOUBLE, 1.0::DOUBLE, 2.0::DOUBLE])
        |       AS eps)),
        |n AS (
        |  SELECT source, eps, true_n,
        |    ROUND(-(1.0 / eps) * SIGN(u - 0.5)
        |      * LN(GREATEST(1.0 - 2.0 * ABS(u - 0.5), 1e-12)), 6)
        |      AS noise
        |  FROM u)
        |SELECT source, eps, true_n, noise,
        |  true_n + CAST(ROUND(noise, 0) AS BIGINT) AS released_n
        |FROM n ORDER BY source, eps""".stripMargin,
    "l_diversity" ->
      """WITH cls AS (
        |  SELECT c_nationkey,
        |         CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_band,
        |         CAST(COUNT(*) AS BIGINT) AS sz,
        |         CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS l
        |  FROM customer GROUP BY 1, 2),
        |a AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS classes_total,
        |         CAST(SUM(sz) AS BIGINT) AS rows_total,
        |         MIN(l) AS min_l, MAX(l) AS max_l,
        |         CAST(SUM(CASE WHEN l = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS classes_l1,
        |         CAST(SUM(CASE WHEN l = 1 THEN sz ELSE 0 END) AS BIGINT)
        |           AS rows_l1,
        |         CAST(SUM(l) AS BIGINT) AS sum_l
        |  FROM cls)
        |SELECT stat, value FROM (
        |  SELECT 'classes_total' AS stat, classes_total AS value FROM a
        |  UNION ALL SELECT 'rows_total', rows_total FROM a
        |  UNION ALL SELECT 'min_l', min_l FROM a
        |  UNION ALL SELECT 'max_l', max_l FROM a
        |  UNION ALL SELECT 'classes_l1', classes_l1 FROM a
        |  UNION ALL SELECT 'rows_l1', rows_l1 FROM a
        |  UNION ALL SELECT 'mean_l_ppm',
        |    CAST(round(sum_l * 1e6 / classes_total, 0) AS BIGINT) FROM a)
        |ORDER BY stat""".stripMargin,
    "join_fanout" ->
      """WITH kc AS (
        |  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1),
        |hist AS (
        |  SELECT c AS key_multiplicity,
        |         CAST(COUNT(*) AS BIGINT) AS n_keys
        |  FROM kc GROUP BY 1),
        |h2 AS (
        |  SELECT key_multiplicity, n_keys,
        |         key_multiplicity * n_keys AS total_rows,
        |         CAST(key_multiplicity AS DOUBLE) * key_multiplicity
        |           * n_keys AS pairs_contributed
        |  FROM hist),
        |tot AS (
        |  SELECT CAST(SUM(total_rows) AS BIGINT) AS input_rows,
        |         SUM(pairs_contributed) AS join_rows
        |  FROM h2)
        |SELECT key_multiplicity, n_keys, total_rows, pairs_contributed,
        |  input_rows, join_rows,
        |  ROUND(join_rows / input_rows + 1e-9, 4) AS amplification
        |FROM h2 CROSS JOIN tot
        |ORDER BY key_multiplicity""".stripMargin,
    "k_anonymity" ->
      """WITH cls AS (
        |  SELECT c_nationkey, c_mktsegment,
        |         CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_band,
        |         CAST(COUNT(*) AS BIGINT) AS sz
        |  FROM customer GROUP BY 1, 2, 3),
        |a AS (
        |  SELECT CAST(SUM(sz) AS BIGINT) AS rows_total,
        |         CAST(COUNT(*) AS BIGINT) AS classes_total,
        |         MIN(sz) AS min_class_size,
        |         CAST(SUM(CASE WHEN sz < 2 THEN sz ELSE 0 END) AS BIGINT)
        |           AS rows_k2_violating,
        |         CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)
        |           AS rows_k5_violating,
        |         CAST(SUM(CASE WHEN sz < 10 THEN sz ELSE 0 END) AS BIGINT)
        |           AS rows_k10_violating,
        |         CAST(SUM(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS classes_k5_violating
        |  FROM cls)
        |SELECT stat, value FROM (
        |  SELECT 'rows_total' AS stat, rows_total AS value FROM a
        |  UNION ALL SELECT 'classes_total', classes_total FROM a
        |  UNION ALL SELECT 'min_class_size', min_class_size FROM a
        |  UNION ALL SELECT 'rows_k2_violating', rows_k2_violating FROM a
        |  UNION ALL SELECT 'rows_k5_violating', rows_k5_violating FROM a
        |  UNION ALL SELECT 'rows_k10_violating', rows_k10_violating FROM a
        |  UNION ALL SELECT 'classes_k5_violating', classes_k5_violating
        |    FROM a
        |  UNION ALL SELECT 'k5_risk_ppm',
        |    CAST(round(rows_k5_violating * 1e6 / rows_total, 0) AS BIGINT)
        |    FROM a)
        |ORDER BY stat""".stripMargin,
    "t_closeness" ->
      """WITH c AS (
        |  SELECT c_nationkey,
        |         CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_band,
        |         c_mktsegment AS seg
        |  FROM customer),
        |cells AS (
        |  SELECT c_nationkey, bal_band, seg,
        |         CAST(COUNT(*) AS BIGINT) AS n_cs
        |  FROM c GROUP BY 1, 2, 3),
        |ct AS (
        |  SELECT c_nationkey, bal_band, CAST(SUM(n_cs) AS BIGINT) AS n_c
        |  FROM cells GROUP BY 1, 2),
        |st AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_s
        |       FROM c GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_s) AS BIGINT) AS nn FROM st),
        |pc AS (
        |  SELECT cells.c_nationkey, cells.bal_band,
        |    MIN(n_c) AS n_c, MIN(nn) AS nn,
        |    CAST(SUM(abs(n_cs * nn - n_s * n_c) - n_s * n_c) AS BIGINT)
        |      AS present_term
        |  FROM cells
        |  JOIN ct USING (c_nationkey, bal_band)
        |  JOIN st USING (seg)
        |  CROSS JOIN tot
        |  GROUP BY 1, 2),
        |f AS (
        |  SELECT n_c, nn, nn * n_c + present_term AS num FROM pc),
        |g AS (
        |  SELECT n_c, nn, num,
        |    num / (2.0 * n_c * nn) AS tvd,
        |    CAST(round(num * 1e6 / (2.0 * n_c * nn)) AS BIGINT) AS ppm,
        |    (5 * num > 3 * n_c * nn) AS above
        |  FROM f),
        |a AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS classes_total,
        |         CAST(SUM(n_c) AS BIGINT) AS rows_total,
        |         MAX(tvd) AS max_tvd,
        |         CAST(SUM(ppm) AS BIGINT) AS sum_ppm,
        |         CAST(SUM(CASE WHEN above THEN 1 ELSE 0 END) AS BIGINT)
        |           AS classes_above_03,
        |         CAST(SUM(CASE WHEN above THEN n_c ELSE 0 END) AS BIGINT)
        |           AS rows_above_03
        |  FROM g)
        |SELECT stat, value FROM (
        |  SELECT 'classes_total' AS stat,
        |         CAST(classes_total AS DOUBLE) AS value FROM a
        |  UNION ALL SELECT 'rows_total', CAST(rows_total AS DOUBLE) FROM a
        |  UNION ALL SELECT 'max_tvd', ROUND(max_tvd + 1e-9, 6) FROM a
        |  UNION ALL SELECT 'mean_tvd_ppm',
        |    ROUND(sum_ppm / CAST(classes_total AS DOUBLE)) FROM a
        |  UNION ALL SELECT 'classes_above_03',
        |    CAST(classes_above_03 AS DOUBLE) FROM a
        |  UNION ALL SELECT 'rows_above_03',
        |    CAST(rows_above_03 AS DOUBLE) FROM a)
        |ORDER BY stat""".stripMargin,
    "psi_drift" ->
      s"""WITH edges AS (
         |  SELECT quantile_cont(o_totalprice, 0.1) AS e1,
         |         quantile_cont(o_totalprice, 0.2) AS e2,
         |         quantile_cont(o_totalprice, 0.3) AS e3,
         |         quantile_cont(o_totalprice, 0.4) AS e4,
         |         quantile_cont(o_totalprice, 0.5) AS e5,
         |         quantile_cont(o_totalprice, 0.6) AS e6,
         |         quantile_cont(o_totalprice, 0.7) AS e7,
         |         quantile_cont(o_totalprice, 0.8) AS e8,
         |         quantile_cont(o_totalprice, 0.9) AS e9
         |  FROM orders
         |  WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
         |binned AS (
         |  SELECT CAST($psiBinExpr AS BIGINT) AS bin,
         |    (o_orderdate < TIMESTAMP '1998-01-01 00:00:00') AS is_base
         |  FROM orders, edges),
         |g AS (
         |  SELECT bin,
         |    SUM(CASE WHEN is_base THEN 1 ELSE 0 END)::BIGINT AS n_base,
         |    SUM(CASE WHEN is_base THEN 0 ELSE 1 END)::BIGINT AS n_cur
         |  FROM binned GROUP BY bin),
         |f AS (
         |  SELECT bin, n_base, n_cur,
         |    n_base / CAST(SUM(n_base) OVER () AS DOUBLE) AS p,
         |    n_cur / CAST(SUM(n_cur) OVER () AS DOUBLE) AS q
         |  FROM g)
         |SELECT bin, n_base, n_cur,
         |  ROUND(p + 1e-9, 6) AS p_base,
         |  ROUND(q + 1e-9, 6) AS p_cur,
         |  ROUND((GREATEST(q, 1e-4) - GREATEST(p, 1e-4))
         |        * LN(GREATEST(q, 1e-4) / GREATEST(p, 1e-4)) + 1e-9, 6)
         |    AS psi_term
         |FROM f ORDER BY bin""".stripMargin,
    "benford_digits" ->
      """WITH v AS (
        |  SELECT CAST(floor(o_totalprice) AS BIGINT) AS v
        |  FROM orders WHERE o_totalprice >= 1.0),
        |d AS (
        |  SELECT CASE WHEN v >= 100000000000000000 THEN v // 100000000000000000
        |              WHEN v >= 10000000000000000 THEN v // 10000000000000000
        |              WHEN v >= 1000000000000000 THEN v // 1000000000000000
        |              WHEN v >= 100000000000000 THEN v // 100000000000000
        |              WHEN v >= 10000000000000 THEN v // 10000000000000
        |              WHEN v >= 1000000000000 THEN v // 1000000000000
        |              WHEN v >= 100000000000 THEN v // 100000000000
        |              WHEN v >= 10000000000 THEN v // 10000000000
        |              WHEN v >= 1000000000 THEN v // 1000000000
        |              WHEN v >= 100000000 THEN v // 100000000
        |              WHEN v >= 10000000  THEN v // 10000000
        |              WHEN v >= 1000000   THEN v // 1000000
        |              WHEN v >= 100000    THEN v // 100000
        |              WHEN v >= 10000     THEN v // 10000
        |              WHEN v >= 1000      THEN v // 1000
        |              WHEN v >= 100       THEN v // 100
        |              WHEN v >= 10        THEN v // 10
        |              ELSE v END AS digit
        |  FROM v),
        |g AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY 1),
        |e(digit, exp_frac) AS (VALUES
        |  (1, 0.30103), (2, 0.176091), (3, 0.124939), (4, 0.09691),
        |  (5, 0.079181), (6, 0.066947), (7, 0.057992), (8, 0.051153),
        |  (9, 0.045757))
        |SELECT g.digit, g.n,
        |  ROUND(g.n / SUM(g.n) OVER () + 1e-9, 6) AS obs_frac,
        |  CAST(e.exp_frac AS DOUBLE) AS exp_frac,
        |  ROUND(abs(ROUND(g.n / SUM(g.n) OVER () + 1e-9, 6)
        |            - e.exp_frac), 6) AS dev
        |FROM g JOIN e ON e.digit = g.digit
        |ORDER BY g.digit""".stripMargin,
    "dq_checks" ->
      """WITH j AS (
        |  SELECT l.l_orderkey, l.l_shipdate, l.l_discount,
        |         o.o_orderkey, o.o_orderdate
        |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |lc AS (
        |  SELECT
        |    SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
        |      AS orphan_lineitem,
        |    SUM(CASE WHEN o_orderkey IS NOT NULL
        |             AND l_shipdate < o_orderdate THEN 1 ELSE 0 END)
        |      AS ship_before_order,
        |    SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END)
        |      AS bad_discount,
        |    COUNT(*) AS total
        |  FROM j),
        |rws AS (
        |  SELECT 'orphan_lineitem' AS check_name,
        |         orphan_lineitem AS violations, total FROM lc
        |  UNION ALL
        |  SELECT 'ship_before_order', ship_before_order, total FROM lc
        |  UNION ALL
        |  SELECT 'bad_discount', bad_discount, total FROM lc
        |  UNION ALL
        |  SELECT 'dup_orderkey',
        |         (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders),
        |         (SELECT COUNT(*) FROM orders)
        |  UNION ALL
        |  SELECT 'blank_doc_text',
        |         (SELECT SUM(CASE WHEN text IS NULL OR trim(text) = ''
        |                          THEN 1 ELSE 0 END) FROM documents),
        |         (SELECT COUNT(*) FROM documents))
        |SELECT check_name,
        |       CAST(violations AS BIGINT) AS violations,
        |       CAST(total AS BIGINT) AS total,
        |       ROUND(1.0 - violations::DOUBLE / total + 1e-9, 6) AS pass_rate
        |FROM rws ORDER BY check_name""".stripMargin,
    "value_histogram" ->
      """WITH b AS (
        |  SELECT least(greatest(CAST(floor(o_totalprice / 25000.0)
        |           AS BIGINT), 0), 19) AS bin,
        |         COUNT(*) AS n
        |  FROM orders GROUP BY 1)
        |SELECT bin, bin * 25000.0 AS lo, (bin + 1) * 25000.0 AS hi, n,
        |       ROUND(n / SUM(n) OVER () + 1e-9, 6) AS frac
        |FROM b ORDER BY bin""".stripMargin,
    "crosstab_assoc" ->
      """WITH cells AS (
        |  SELECT lang, source, COUNT(*) AS n
        |  FROM documents GROUP BY 1, 2),
        |m AS (
        |  SELECT lang, source, n,
        |    SUM(n) OVER (PARTITION BY lang)::DOUBLE
        |      / SUM(n) OVER ()
        |      * SUM(n) OVER (PARTITION BY source) AS e
        |  FROM cells)
        |SELECT lang, source, n,
        |       ROUND(e + 1e-9, 6) AS expected,
        |       ROUND(pow(n - e, 2) / e + 1e-9, 6) AS contrib
        |FROM m ORDER BY lang, source""".stripMargin)
}
