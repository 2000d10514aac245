package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Relational core: scans, aggregation, joins, sorts/limits, counts and the
  * reference's keyed-upsert semantics (SURVEY.md §2.1-§2.8).
  *
  * Scale notes per query are inline; the common theme: aggregations rely on
  * Catalyst's automatic partial (map-side) aggregation, small dimension
  * sides are broadcast explicitly, and every sorted-limit is a top-k
  * (TakeOrderedAndProject), never a global sort.
  */
object Relational {

  /** G2/G3-style full-table aggregation (TPC-H Q1 flavor): one wide scan →
    * map-side partial agg → 6-group final agg. At 100 TB this is the
    * canonical scan-bound query; only l_* columns named here are read
    * (column pruning) and the shipdate predicate reaches the parquet
    * row-group filter (predicate pushdown). */
  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    Tables.t(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        round(sum(col("l_extendedprice")), 4).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax"))), 4).as("sum_charge"),
        // +1e-9 before rounding: averages of fixed-precision decimals hit
        // true decimal ties (….xxxx5) where engines' tie-break rules
        // differ; the nudge breaks ties upward identically in both engines
        // and provably cannot move any non-tie value across a boundary
        // (non-tie ratios sit >= 1/(2·count·10^4) >= 2.5e-9 away).
        round(avg(col("l_quantity")) + 1e-9, 4).as("avg_qty"),
        round(avg(col("l_extendedprice")) + 1e-9, 4).as("avg_price"),
        round(avg(col("l_discount")) + 1e-9, 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** J1 + O3: 3-way join, group, top-10 by revenue (TPC-H Q3 flavor).
    * customer is tiny → broadcast; orders⋈lineitem shuffles on orderkey.
    * Ranking is on the ROUNDED revenue with an orderkey tie-break so the
    * top-k cutoff is deterministic across engines. */
  def q3TopK(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.t(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.t(spark, dir, "orders")
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val l = Tables.t(spark, dir, "lineitem")
      .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** S6/O1: full ordered scan (database.py:143-157's SELECT * ORDER BY). */
  def scanOrder(spark: SparkSession, dir: String): DataFrame =
    Tables.t(spark, dir, "customer").orderBy(col("c_custkey"))

  /** G2: row-count reconciliation across all tables (database.py:161-169,
    * transformer.py:160-161). Reads every table RAW (no ts conversion for
    * events — a count is column-independent), so each count collapses to
    * the parquet footer row counts instead of a data scan. */
  def rowCounts(spark: SparkSession, dir: String): DataFrame = {
    Tables.ensureNanosAsLong(spark)
    Tables.names.map { n =>
      Tables.read(spark, s"$dir/$n.parquet")
        .agg(count(lit(1)).as("n_rows"))
        .select(lit(n).as("tbl"), col("n_rows"))
    }.reduce(_.unionByName(_)).orderBy(col("tbl"))
  }

  /** K2/K3 keyed upsert as a query: last-writer-wins per key
    * (database.py:119-138's ON CONFLICT DO UPDATE). Spark-first
    * re-expression: row_number over (key ORDER BY recency DESC) = 1 —
    * one shuffle on the key; at 100 TB identical to the dedup-then-
    * overwrite MERGE pattern. Tie-broken on event_id for determinism. */
  def upsertLww(spark: SparkSession, dir: String): DataFrame =
    lastWriterWins(Tables.t(spark, dir, "events"),
        Seq("user_id", "event_type"),
        Seq(col("ts").desc, col("event_id").desc))
      .select(col("user_id"), col("event_type"), col("event_id"), col("value"))
      .orderBy(col("user_id"), col("event_type"))

  /** Generic keyed-upsert core: keep the most recent row per key. Applying
    * it to `existing.unionByName(incoming)` IS the reference's
    * ON CONFLICT DO UPDATE merge; it is idempotent by construction
    * (applying the same batch twice converges — see UpsertSpec). */
  def lastWriterWins(df: DataFrame, keys: Seq[String],
                     recency: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(recency: _*)
    // collision-proof internal name: a caller's own "rn" column must
    // survive this helper untouched
    df.withColumn("__lww_rn", row_number().over(w))
      .filter(col("__lww_rn") === 1)
      .drop("__lww_rn")
  }

  /** Multi-way dimension join (TPC-H Q5 flavor): fact table joined through
    * supplier/customer up the nation→region snowflake with a co-nation
    * constraint. All dimension sides are broadcast (region 5 rows → nation
    * 25 → supplier/customer small); the only shuffle is lineitem⋈orders on
    * orderkey + the final 5-group agg. At 100 TB this is exactly the plan
    * you want: one fact shuffle, everything else map-side. */
  def q5Join(spark: SparkSession, dir: String): DataFrame = {
    val r = Tables.t(spark, dir, "region").filter(col("r_name") === "ASIA")
    val n = Tables.t(spark, dir, "nation")
    val s = Tables.t(spark, dir, "supplier")
    val c = Tables.t(spark, dir, "customer")
    val o = Tables.t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1998-01-01").cast("timestamp"))
    val l = Tables.t(spark, dir, "lineitem")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(s), l("l_suppkey") === s("s_suppkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey") &&
                          c("c_nationkey") === s("s_nationkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Pure scan-filter-aggregate (TPC-H Q6 flavor): the pushdown showcase —
    * every predicate reaches the parquet reader, the aggregate is a single
    * map-side partial + scalar final. */
  def q6Filter(spark: SparkSession, dir: String): DataFrame =
    Tables.t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1997-01-01").cast("timestamp") &&
              col("l_discount").between(0.02, 0.04) &&
              col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 4)
             .as("revenue"),
           count(lit(1)).as("n_rows"))

  /** Rollup aggregation: per-(flag,status) revenue with subtotal and
    * grand-total rows (NULL-marked) — the grouping-sets family. */
  def rollupRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.t(spark, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
             .as("revenue"),
           count(lit(1)).as("n_rows"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  /** Distinct aggregation: per-supplier distinct part/order counts —
    * Catalyst expands this to a two-phase distinct-then-count plan. */
  def distinctAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.t(spark, dir, "lineitem")
      .groupBy(col("l_suppkey"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
           countDistinct(col("l_orderkey")).as("n_orders"),
           count(lit(1)).as("n_lines"))
      .orderBy(col("l_suppkey"))

  /** Exact ordered-set aggregation: linear-interpolated percentiles per
    * group (+1e-9 decimal-tie break, see q1Agg). Rides the
    * bounded-memory grouped-quantile dataflow (groupedQuantiles — the
    * percentile() aggregate held each group's Θ(distinct) value buffer
    * in one task); results are bit-identical, so the oracle is
    * unchanged. For 100 TB hot paths approx_percentile's mergeable
    * sketch is still the swap-in; the exact form is what the oracle can
    * check. */
  def percentiles(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.footerCount(spark, dir, "lineitem")
    val joined = if (n < QuantileDataflowMinRows) {
      // SMALL MODE, fused: all three ordered-set aggregates in ONE
      // scan + shuffle. The split per-column calls below cost two scans
      // plus a join — the r11→r13 percentiles bench creep (0.26 s fused
      // → 0.42–0.47 s split at sf0.1) was exactly this structure, with
      // no big-mode payoff below the dataflow floor. percentile() skips
      // NULLs natively and both measures are NOT-NULL TPC-H columns
      // (the exactQuantiles caller contract), so fused and split forms
      // are bit-identical here.
      Tables.t(spark, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_extendedprice, 0.5)").as("q50p"),
             expr("percentile(l_extendedprice, 0.9)").as("q90p"),
             expr("percentile(l_quantity, 0.5)").as("q50q"))
    } else {
      // big mode reads the SHARED staged rank histogram (one per
      // (table, group, value) — winsorize and approx_sketch read the
      // same l_extendedprice artifact instead of re-running the
      // dataflow)
      val price = exactQuantilesShared(spark, dir, "lineitem",
        "l_returnflag", "l_extendedprice",
        Seq(("q50p", 0.5), ("q90p", 0.9)))
      val qty = exactQuantilesShared(spark, dir, "lineitem",
        "l_returnflag", "l_quantity", Seq(("q50q", 0.5)))
      price.join(qty, Seq("l_returnflag"))
    }
    joined
      .select(col("l_returnflag"),
        round(col("q50p") + 1e-9, 4).as("p50_price"),
        round(col("q90p") + 1e-9, 4).as("p90_price"),
        round(col("q50q") + 1e-9, 4).as("p50_qty"))
      .orderBy(col("l_returnflag"))
  }

  /** Semi/anti join family (EXISTS / NOT EXISTS): segment customers by
    * whether they have an urgent order. Semi/anti never materialize the
    * probe side's columns — at scale the build side ships only its key. */
  def joinSemiAnti(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.t(spark, dir, "customer")
    val urgent = Tables.t(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    val has = c.join(urgent, c("c_custkey") === urgent("o_custkey"),
        "left_semi")
      .select(lit("has_urgent").as("segment"), col("c_custkey"))
    val not = c.join(urgent, c("c_custkey") === urgent("o_custkey"),
        "left_anti")
      .select(lit("no_urgent").as("segment"), col("c_custkey"))
    has.unionByName(not).orderBy(col("segment"), col("c_custkey"))
  }

  /** Outer join with null-fill: per-customer order stats keeping
    * order-less customers (LEFT JOIN + coalesce-to-zero). */
  def joinOuter(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.t(spark, dir, "customer")
    val o = Tables.t(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("t"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .select(col("c_custkey"),
              coalesce(col("n"), lit(0L)).as("n_orders"),
              round(coalesce(col("t"), lit(0.0)), 4).as("total_spend"))
      .orderBy(col("c_custkey"))
  }

  /** Scalar string-function family over customer/part attributes. */
  def stringFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.t(spark, dir, "part")
      .select(col("p_partkey"),
        upper(col("p_name")).as("name_upper"),
        substring(col("p_type"), 1, 5).as("type_prefix"),
        length(col("p_brand")).cast("long").as("brand_len"),
        regexp_extract(col("p_type"), "([A-Z]+)$", 1).as("type_last_word"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        trim(lower(col("p_name"))).as("name_norm"))
      .orderBy(col("p_partkey"))

  /** Scalar date/time-function family over orders. */
  def dateFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.t(spark, dir, "orders")
      .select(col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"),
        dayofmonth(col("o_orderdate")).cast("long").as("d"),
        quarter(col("o_orderdate")).cast("long").as("q"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        datediff(lit("1998-01-01").cast("date"),
                 col("o_orderdate").cast("date")).cast("long")
          .as("days_to_1998"))
      .orderBy(col("o_orderkey"))

  /** Set-operation family: customers active in 1996 INTERSECT/EXCEPT
    * those active in 1997 (both compile to aggregate/join shapes — no
    * dedicated shuffle machinery needed). */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    def active(y: Int) = Tables.t(spark, dir, "orders")
      .filter(year(col("o_orderdate")) === y)
      .select(col("o_custkey").as("c"))
    val both = active(1996).intersect(active(1997))
      .select(lit("both_years").as("segment"), col("c"))
    val only96 = active(1996).except(active(1997))
      .select(lit("only_1996").as("segment"), col("c"))
    both.unionByName(only96).orderBy(col("segment"), col("c"))
  }

  /** Sketch aggregates (HLL distinct + quantile sketch): rows-only check —
    * sketch estimates are engine-specific, so no DuckDB hash parity; the
    * exact twins (distinct_agg, percentiles) are the oracle-checked
    * versions. At 100 TB these mergeable sketches replace their exact
    * twins on hot paths. */
  /** Sketch estimates are engine-specific (HLL++ / quantile digest), so
    * the raw values can't be oracle-hashed — instead the query emits the
    * EXACT values (computable on both engines) plus booleans asserting
    * the sketch landed inside its published error bound. DuckDB's oracle
    * emits the exact values and literal TRUE; the hash gate then fails
    * precisely when a sketch drifts out of spec. Bounds: HLL++ default
    * rsd 5% → allow 3σ = 15%; percentile_approx(accuracy=1000) is
    * rank-exact within 1/1000, far inside the exact p45..p55 corridor. */
  def approxSketches(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.t(spark, dir, "lineitem")
    // the exact corridor rides the bounded-memory grouped-quantile
    // dataflow (big mode: the SHARED staged rank histogram — see
    // percentiles); the sketches stay in the one aggregate pass
    val exact = exactQuantilesShared(spark, dir, "lineitem",
      "l_returnflag", "l_extendedprice",
      Seq(("p45", 0.45), ("p50", 0.5), ("p55", 0.55)))
    li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("nd_exact"),
           approx_count_distinct(col("l_partkey")).as("nd_approx"),
           percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
             .as("p50_approx"))
      .join(broadcast(exact), Seq("l_returnflag"))
      .select(col("l_returnflag"),
        col("nd_exact"),
        (abs(col("nd_approx") - col("nd_exact")).cast("double")
          / col("nd_exact") <= 0.15).as("nd_ok"),
        round(col("p50") + lit(1e-9), 6).as("p50_exact"),
        (col("p50_approx") >= col("p45") &&
         col("p50_approx") <= col("p55")).as("p50_ok"))
      .orderBy(col("l_returnflag"))
  }

  /** SQL-text front: the same engine consumed as SQL over the fixture
    * tables (plus the custom cosine_sim/shingles functions registered in
    * the session) — identical Catalyst plans to the DataFrame API. */
  def sqlText(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    Tables.sql(spark, dir,
      """SELECT l.l_returnflag,
        |       ROUND(SUM(l.l_quantity), 4) AS sum_qty,
        |       COUNT(*) AS n_rows,
        |       (SELECT CAST(SUM(size(shingles(text))) AS BIGINT)
        |        FROM documents) AS total_shingles
        |FROM lineitem l
        |GROUP BY l.l_returnflag
        |ORDER BY l.l_returnflag""".stripMargin)
  }

  private val sqlLateralSql =
    """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
      |FROM customer c,
      |LATERAL (
      |  SELECT o_orderkey, o_totalprice FROM orders
      |  WHERE o_custkey = c.c_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey
      |  LIMIT 2) o
      |ORDER BY c.c_custkey, o.o_totalprice DESC, o.o_orderkey"""
      .stripMargin

  /** Correlated LATERAL join: per customer, the 2 highest-value orders —
    * the top-N-per-key shape written the way an analyst writes it.
    * Catalyst decorrelates the LIMITed lateral subquery into a
    * window-rank filter (no per-row subquery execution survives in the
    * physical plan), so it scales exactly like the explicit
    * window-rank form in `windowRank`. */
  def sqlLateral(spark: SparkSession, dir: String): DataFrame =
    Tables.sql(spark, dir, sqlLateralSql)

  /** Full CUBE over (returnflag, linestatus) with an explicit grouping id
    * — completes the grouping-sets family next to rollup_revenue. Cube is
    * a single shuffle: Catalyst expands the grouping sets map-side and
    * partial-aggregates each, so the fact table is still read once. */
  def cubeAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.t(spark, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast("int").as("gid"),
           count(lit(1)).as("n"),
           round(sum(col("l_quantity")) + 1e-9, 2).as("sum_qty"))
      .select(col("l_returnflag"), col("l_linestatus"), col("gid"),
              col("n"), col("sum_qty"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
               col("l_linestatus").asc_nulls_first)

  /** Custom GROUPING SETS (the shape cube/rollup can't express): an
    * asymmetric set list — (returnflag, linestatus), (returnflag),
    * (linestatus), and grand total, i.e. cube minus nothing here but
    * declared EXPLICITLY, the way reporting pipelines request exactly
    * the combinations they pay for (each extra set is another Expand
    * replica of the scan). Same single-shuffle Expand execution as cube:
    * one aggregate pass, grouping_id distinguishes the sets. */
  def groupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables.t(spark, dir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast("int").as("gid"),
           count(lit(1)).as("n"),
           round(sum(col("l_quantity")) + 1e-9, 2).as("sum_qty"))
      .select(col("l_returnflag"), col("l_linestatus"), col("gid"),
              col("n"), col("sum_qty"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
               col("l_linestatus").asc_nulls_first)

  /** Ranking-window family over orders per customer: rank / dense_rank /
    * percent_rank on a coarse key (order year — real ties), plus
    * row_number / ntile / lead on a total order (price desc, key — the
    * unique tie-break is what makes positional functions deterministic).
    * Both specs share the o_custkey partition, so Catalyst computes them
    * in one shuffle and two in-partition sorts. */
  def windowRank(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
              year(col("o_orderdate")).cast("int").as("oyear"))
    val wy = Window.partitionBy(col("o_custkey")).orderBy(col("oyear"))
    val wp = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    o.select(col("o_orderkey"), col("o_custkey"),
        rank().over(wy).cast("long").as("rnk"),
        dense_rank().over(wy).cast("long").as("drnk"),
        round(percent_rank().over(wy) + 1e-9, 4).as("prank"),
        row_number().over(wp).cast("long").as("rn"),
        ntile(4).over(wp).cast("long").as("quartile"),
        lead(col("o_totalprice"), 1).over(wp).as("next_price"))
      .orderBy(col("o_orderkey"))
  }

  /** CDC-style snapshot diff: two deterministic snapshots of `orders`
    * (A = pre-1999 bookings; B = post-1996 with a flat 1000.00 surcharge
    * on open orders — an exact double op, so no engine-specific rounding
    * enters the compared values) full-outer-joined on the key and
    * classified added / removed / changed, unchanged rows dropped. The
    * shape of incremental-refresh reconciliation: one co-partitioned
    * join on the snapshot key — both sides shuffle once on o_orderkey;
    * at 100 TB both snapshots would be bucketed on the key and the
    * shuffle disappears. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.t(spark, dir, "orders")
    val a = orders.filter(col("o_orderdate") < "1999-01-01")
      .select(col("o_orderkey"), col("o_totalprice").as("old_price"))
    val b = orders.filter(col("o_orderdate") >= "1996-01-01")
      .select(col("o_orderkey"),
        when(col("o_orderstatus") === "O", col("o_totalprice") + 1000.0)
          .otherwise(col("o_totalprice")).as("new_price"))
    a.join(b, Seq("o_orderkey"), "full_outer")
      .withColumn("change_type",
        when(col("old_price").isNull, "added")
          .when(col("new_price").isNull, "removed")
          .when(col("old_price") =!= col("new_price"), "changed")
          .otherwise("unchanged"))
      .filter(col("change_type") =!= "unchanged")
      .select(col("o_orderkey"), col("change_type"),
              col("old_price"), col("new_price"))
      .orderBy(col("o_orderkey"))
  }

  /** Statistical aggregate family: sample stddev/variance, correlation
    * and covariance per group — all mergeable moment sketches (Spark
    * partial-aggregates the (n, Σx, Σx²; Σxy) moments map-side, so the
    * shuffle carries one moment tuple per group per task at any scale).
    * Outputs round with the +1e-9 tie guard: moment merges are
    * partition-order-sensitive at the ulp level (SCALE.md, determinism
    * section). */
  def statsAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(stddev_samp(col("l_quantity")) + 1e-9, 4).as("sd_qty"),
        round(var_samp(col("l_quantity")) + 1e-9, 4).as("var_qty"),
        round(corr(col("l_quantity"), col("l_extendedprice")) + 1e-9, 6)
          .as("corr_qp"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")) + 1e-9, 2)
          .as("covar_qp"))
      .orderBy(col("l_returnflag"))

  private val sqlCorrelatedSql =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
      |WHERE o_totalprice > 2 * (SELECT AVG(o2.o_totalprice) FROM orders o2
      |                          WHERE o2.o_custkey = o.o_custkey)
      |ORDER BY o_orderkey""".stripMargin

  /** Correlated scalar subquery through the SQL front: orders more than
    * twice their customer's average — Catalyst DECORRELATES this into an
    * aggregate + join (no per-row subquery execution), the optimizer
    * behavior that makes correlated SQL usable at scale. */
  def sqlCorrelated(spark: SparkSession, dir: String): DataFrame =
    Tables.sql(spark, dir, sqlCorrelatedSql)

  /** TPC-H q14-shape conditional aggregation: monthly PROMO revenue share
    * — the CASE-WHEN-inside-SUM pattern (a.k.a. filtered aggregation).
    * Part is a broadcast dimension; one shuffle on the month key whose
    * cardinality is the calendar, not the data. */
  def condAgg(spark: SparkSession, dir: String): DataFrame = {
    val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
    Tables.t(spark, dir, "lineitem")
      .join(broadcast(Tables.t(spark, dir, "part")
              .select(col("p_partkey"), col("p_type"))),
            col("l_partkey") === col("p_partkey"))
      .groupBy(date_trunc("month", col("l_shipdate")).as("ship_month"))
      .agg(
        round(sum(when(col("p_type") === "PROMO", rev).otherwise(0.0)), 4)
          .as("promo_rev"),
        round(sum(rev), 4).as("total_rev"),
        // +1e-9: deterministic decimal-tie break, see q1Agg
        round(lit(100.0) *
          sum(when(col("p_type") === "PROMO", rev).otherwise(0.0)) /
          sum(rev) + 1e-9, 4).as("promo_share"))
      .orderBy(col("ship_month"))
  }

  /** TPC-H q18-shape HAVING: orders whose line quantities sum past a
    * threshold, re-joined to orders + customer for context. The HAVING
    * filter runs on the aggregate BEFORE the joins, so only qualifying
    * keys (a tiny set) reach the join — the orders/customer probes
    * broadcast against it at any scale. */
  /** TPC-H q7-shape nation-pair trade volume: lineitem up through
    * supplier→nation on one side and orders→customer→nation on the
    * other, revenue per (supp_nation, cust_nation, ship year) for
    * cross-nation flows. The q5 snowflake's plan stance, but with TWO
    * independent nation legs: every dimension (supplier, customer, both
    * nation copies) broadcasts, so the only shuffles are the
    * lineitem⋈orders fact join and the final
    * |nations|²·|years| aggregate. */
  def q7Volume(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1997-01-01").cast("timestamp"))
    val ord = Tables.t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val supp = Tables.t(spark, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    val cust = Tables.t(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val nat = Tables.t(spark, dir, "nation")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat.select(col("n_nationkey").as("sn_key"),
                                 col("n_name").as("supp_nation"))),
            col("s_nationkey") === col("sn_key"))
      .join(broadcast(nat.select(col("n_nationkey").as("cn_key"),
                                 col("n_name").as("cust_nation"))),
            col("c_nationkey") === col("cn_key"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
               year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
                 4).as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** Integer line revenue in 10^-4-dollar units: cents(extendedprice) ×
    * (100 − cents-of-discount). Each factor is ONE scalar op on the raw
    * double (deterministic IEEE — no accumulation), rounded to the exact
    * integer both engines agree on, so sums over it are bit-exact in any
    * aggregation order and across engines. The basis for every query
    * below that compares or ties-breaks on a revenue AGGREGATE (max-
    * equality, top-k cutoffs), where the usual round-after-sum doctrine
    * would leave a double boundary. Magnitude: ≤ ~1e9 units/row, so a
    * LongType sum stays exact below ~1e9 rows per GROUP; a 100 TB
    * all-in-one-group rollup swaps the sum to decimal(38,0) (same
    * exactness, wider range) — group-keyed aggregates never get there. */
  private def revUnits: Column =
    round(col("l_extendedprice") * 100, 0).cast("long") *
      (lit(100L) - round(col("l_discount") * 100, 0).cast("long"))

  /** TPC-H Q8-flavor market share: NATION_3's share of STANDARD-part
    * revenue sold to EUROPE customers, per order year. Five dimension
    * legs (part/supplier/customer/nation/region — all projected to key +
    * predicate columns) broadcast; the only shuffles are lineitem⋈orders
    * on orderkey and the |years|-group final agg. The share divides two
    * integer-exact revenue sums (revUnits), so the ratio is the same
    * double in both engines before the displayed rounding. */
  def q8Share(spark: SparkSession, dir: String): DataFrame = {
    val pt = Tables.t(spark, dir, "part")
      .filter(col("p_type") === "STANDARD").select(col("p_partkey"))
    val supp = Tables.t(spark, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    val cust = Tables.t(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val natS = Tables.t(spark, dir, "nation")
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val natC = Tables.t(spark, dir, "nation")
      .select(col("n_nationkey").as("cn_key"), col("n_regionkey"))
    val reg = Tables.t(spark, dir, "region")
      .filter(col("r_name") === "EUROPE").select(col("r_regionkey"))
    val ord = Tables.t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1998-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    Tables.t(spark, dir, "lineitem")
      .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(natS), col("s_nationkey") === col("sn_key"))
      .join(broadcast(natC), col("c_nationkey") === col("cn_key"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        sum(when(col("supp_nation") === "NATION_3", revUnits)
          .otherwise(0L)).as("nation_units"),
        sum(revUnits).as("total_units"))
      .select(col("o_year"),
        round(col("nation_units") / 10000.0, 4).as("nation_rev"),
        round(col("total_units") / 10000.0, 4).as("total_rev"),
        // degenerate-denominator guard (clusterAri `ari` doctrine): a
        // zero-revenue year reports share 0, not NaN, both engines
        when(col("total_units") === 0L, lit(0.0))
          .otherwise(round(col("nation_units").cast("double")
            / col("total_units") + 1e-9, 6)).as("mkt_share"))
      .orderBy(col("o_year"))
  }

  /** TPC-H Q9-flavor product profit by supplier nation and year (the
    * fixture has no partsupp, so supply cost is proxied as 60% of the
    * part's retail price — the join/agg SHAPE is Q9's). All-integer
    * amount in 10^-4-dollar units: revUnits − 60·retail-cents·quantity,
    * exact per row and under any sum order. part (key+cost) and the
    * nation name broadcast; supplier broadcasts projected; shuffles are
    * lineitem⋈orders and the |nations|·|years| final agg. */
  def q9Profit(spark: SparkSession, dir: String): DataFrame = {
    val pt = Tables.t(spark, dir, "part")
      .filter(col("p_name").like("%red%"))
      .select(col("p_partkey"),
        round(col("p_retailprice") * 100, 0).cast("long").as("rp_cents"))
    val supp = Tables.t(spark, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    val nat = Tables.t(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    val ord = Tables.t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"))
    val amount = revUnits -
      lit(60L) * col("rp_cents") * round(col("l_quantity"), 0).cast("long")
    Tables.t(spark, dir, "lineitem")
      .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
               year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(amount).as("units"), count(lit(1)).as("n_lines"))
      .select(col("nation"), col("o_year"),
        round(col("units") / 10000.0, 4).as("profit"), col("n_lines"))
      .orderBy(col("nation"), col("o_year"))
  }

  /** TPC-H Q10-flavor returned-item report: top 20 customers by revenue
    * lost to returns (l_returnflag = 'R') in 1997H1. Aggregates the
    * fact FIRST (one orderkey shuffle + one custkey agg, ≤ |customers|
    * rows), joins customer/nation attributes by KEY after — the
    * dimension attaches to the aggregate, never to the fact — then cuts
    * top-k on the integer revenue with a custkey tie-break, so the
    * cutoff is a TakeOrderedAndProject over Θ(customers), deterministic
    * across engines. */
  def q10Returned(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1997-07-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val perCust = Tables.t(spark, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(revUnits).as("units"), count(lit(1)).as("n_lines"))
    val cust = Tables.t(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
              col("c_nationkey"))
    val nat = Tables.t(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    perCust
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        col("c_acctbal"),
        round(col("units") / 10000.0, 4).as("revenue"), col("n_lines"),
        col("units"))
      .orderBy(col("units").desc, col("c_custkey"))
      .limit(20)
      .drop("units")
  }

  /** TPC-H Q15-flavor top supplier: the supplier(s) whose 1997H2 revenue
    * equals the global maximum. Per-supplier revenue is one suppkey agg
    * (Θ(suppliers) rows); the maximum reduces that aggregate to a 1-row
    * broadcast scalar the aggregate then filters against — no window,
    * no second fact scan. Equality at the max is on the INTEGER revenue
    * units, so "ties for first" is exact, not a double coincidence. */
  def q15TopSupp(spark: SparkSession, dir: String): DataFrame = {
    val perSupp = Tables.t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-07-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1998-01-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(revUnits).as("units"))
    val best = perSupp.agg(max(col("units")).as("best_units"))
    perSupp.crossJoin(broadcast(best))
      .filter(col("units") === col("best_units"))
      .join(broadcast(Tables.t(spark, dir, "supplier")
              .select(col("s_suppkey"), col("s_name"))),
            col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        round(col("units") / 10000.0, 4).as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H Q17-flavor small-quantity revenue by brand: lines whose
    * quantity is below 20% of their part's average order quantity. The
    * correlated AVG decorrelates into one per-part aggregate
    * (Θ(parts), map-side combinable) joined back by partkey; the
    * comparison cross-multiplies to integers (5·qty·n_lines < Σqty —
    * quantities are integral) so the 20% boundary cannot wobble with
    * either engine's division. Output is the Θ(brands) rollup of the
    * surviving lines' revenue. */
  def q17SmallQty(spark: SparkSession, dir: String): DataFrame = {
    val qty = round(col("l_quantity"), 0).cast("long")
    val li = Tables.t(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_quantity"),
              col("l_extendedprice"), col("l_discount"))
    val perPart = li.groupBy(col("l_partkey").as("pp_key"))
      .agg(sum(qty).as("sum_qty"), count(lit(1)).as("n_lines"))
    val brands = Tables.t(spark, dir, "part")
      .select(col("p_partkey"), col("p_brand"))
    li.join(perPart, col("l_partkey") === col("pp_key"))
      .filter(lit(5L) * qty * col("n_lines") < col("sum_qty"))
      .join(broadcast(brands), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(sum(revUnits).as("units"), count(lit(1)).as("n_small"))
      .select(col("p_brand"),
        round(col("units") / 10000.0, 4).as("small_qty_rev"),
        col("n_small"))
      .orderBy(col("p_brand"))
  }

  private val q21WaitingSql =
    """WITH lf AS (
      |  SELECT l_orderkey, l_suppkey,
      |         l_shipdate > o_orderdate + INTERVAL 90 DAY AS late
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE o_orderstatus = 'F')
      |SELECT s_name, n_name, COUNT(*) AS numwait
      |FROM lf l1
      |  JOIN supplier ON l1.l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |WHERE l1.late
      |  AND EXISTS (SELECT 1 FROM lf l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lf l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.late)
      |GROUP BY s_name, n_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 100""".stripMargin

  /** TPC-H Q21-shape: suppliers who single-handedly kept multi-supplier
    * 'F' orders waiting — the notorious EXISTS + NOT-EXISTS
    * double-correlated self-join on lineitem, the hardest decorrelation
    * shape in the suite (sql_exists / q22_idle_rich cover the
    * single-subquery forms). The fixture carries no commit/receipt
    * dates, so "late" is proxied as shipping > 90 days after the order
    * date, computed ONCE in the shared late-flag CTE that both engines
    * state identically — the subqueries then correlate on pure lineitem
    * columns exactly like the original.
    *
    * Written as SQL deliberately (the analyst form): Catalyst's
    * RewritePredicateSubquery must decorrelate the EXISTS into a
    * LEFT-SEMI and the NOT EXISTS into a LEFT-ANTI hash join on
    * l_orderkey, each carrying the `<> supplier` residual condition —
    * PlanSpec asserts both joins and that no subquery survives
    * planning. ExtendedOpsSpec cross-checks the one-aggregate rewrite
    * (per-order distinct-supplier counts: qualifies ⇔ late ∧ n_supp ≥ 2
    * ∧ n_late_supp = 1), the single-shuffle form a 100 TB deployment
    * would hand-write if the planner ever regressed. */
  def q21Waiting(spark: SparkSession, dir: String): DataFrame =
    Tables.sql(spark, dir, q21WaitingSql)

  /** The one-aggregate rewrite of q21Waiting's qualification rule. No
    * query calls it: it stays in main as the executable reference
    * ExtendedOpsSpec holds the decorrelated SQL form to, proving it
    * computes the textbook semantics: per order, count distinct
    * suppliers and distinct LATE suppliers in ONE orderkey-shuffled aggregate; a late
    * line qualifies ⇔ its order has ≥ 2 suppliers and exactly 1 late
    * one (necessarily the line's own). No self-join at all — the shape
    * to hand-write at scale if planner decorrelation ever regressed. */
  private[graft] def q21AggRewrite(spark: SparkSession,
                                   dir: String): DataFrame = {
    val lf = Tables.t(spark, dir, "lineitem")
      .join(Tables.t(spark, dir, "orders")
              .filter(col("o_orderstatus") === "F"),
            col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAY"))
          .as("late"))
    val perOrder = lf.groupBy(col("l_orderkey").as("po_key"))
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
           countDistinct(when(col("late"), col("l_suppkey")))
             .as("n_late_supp"))
    lf.filter(col("late"))
      .join(perOrder, col("l_orderkey") === col("po_key"))
      .filter(col("n_supp") >= 2 && col("n_late_supp") === 1)
      .join(broadcast(Tables.t(spark, dir, "supplier")),
            col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.t(spark, dir, "nation")),
            col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("s_name"), col("n_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }

  private val q2MinCostSql =
    """WITH ps AS (
      |  SELECT l_partkey AS pk, l_suppkey AS sk,
      |         MIN(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
      |           AS cost_c
      |  FROM lineitem GROUP BY l_partkey, l_suppkey)
      |SELECT s_acctbal, s_name, n_name, p_partkey, p_type,
      |       CAST(ROUND(cost_c / 100.0, 2) AS DOUBLE) AS supply_cost
      |FROM part
      |  JOIN ps ON pk = p_partkey
      |  JOIN supplier ON sk = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'EUROPE' AND p_type = 'STANDARD'
      |  AND cost_c = (SELECT MIN(ps2.cost_c)
      |                FROM ps ps2
      |                  JOIN supplier s2 ON ps2.sk = s2.s_suppkey
      |                  JOIN nation n2
      |                    ON s2.s_nationkey = n2.n_nationkey
      |                  JOIN region r2
      |                    ON n2.n_regionkey = r2.r_regionkey
      |                WHERE r2.r_name = 'EUROPE'
      |                  AND ps2.pk = p_partkey)
      |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
      |LIMIT 100""".stripMargin

  /** TPC-H Q2-shape: minimum-cost supplier per part across the
    * part→supplier→nation→region dimension chain — the correlated-MIN
    * scalar subquery whose decorrelation (a per-part MIN aggregate
    * joined back) is the other classic planner stress q17_smallqty's
    * correlated AVG started. The fixture has no partsupp table, so the
    * (part, supplier) cost relation derives from lineitem: cost =
    * MIN(extendedprice) per pair, held in INTEGER cents so the
    * correlated MIN and the outer equality are exact in both engines
    * (a float min could disagree on a ulp and flip membership).
    * Dimensions broadcast; the only shuffles are the ps aggregate and
    * its per-part MIN twin. */
  def q2MinCost(spark: SparkSession, dir: String): DataFrame =
    Tables.sql(spark, dir, q2MinCostSql)

  /** TPC-H Q14-shape promo revenue share per 1997 ship month — the
    * conditional-ratio-over-broadcast-join planner shape: one fact scan,
    * one broadcast dimension leg carrying only (key, predicate-bit), and
    * a single month-keyed aggregate computing BOTH the conditional and
    * unconditional revenue sums in one pass (no second scan, no self
    * join). Both sums are integer-exact (revUnits), so the share divides
    * two longs — same determinism argument as q8Share (ref
    * transformer.py:1 — the reference's derived-ratio metrics family). */
  def q14Promo(spark: SparkSession, dir: String): DataFrame = {
    val pt = Tables.t(spark, dir, "part")
      .select(col("p_partkey"), (col("p_type") === "PROMO").as("is_promo"))
    Tables.t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
      .agg(sum(when(col("is_promo"), revUnits).otherwise(lit(0L)))
             .as("promo_units"),
           sum(revUnits).as("total_units"))
      .select(col("ship_month"),
        round(col("promo_units") / 10000.0, 4).as("promo_revenue"),
        // +1e-9: deterministic decimal-tie break, see q1Agg
        round(lit(100.0) * col("promo_units") / col("total_units") + 1e-9, 4)
          .as("promo_share_pct"))
      .orderBy(col("ship_month"))
  }

  /** TPC-H Q18-shape large-volume orders: a HAVING-filtered fact
    * aggregate (per-order quantity sum > 350) joined back to orders and
    * customer for the top-100 report. The scale shape is
    * aggregate-then-join: the quantity sum reduces lineitem to one row
    * per order BEFORE any dimension join, and the >350 filter cuts that
    * to a needle set, so the orders/customer joins see a tiny probe side
    * (AQE converts them to broadcasts at runtime — the filtered size is
    * data-dependent, which is exactly the case runtime re-planning
    * exists for). Quantities are integral in the fixture, so the sum is
    * exact as a long in both engines and the >350 boundary cannot
    * float-flip. */
  def q18BigOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.t(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(round(sum(col("l_quantity")), 0).cast("long").as("sum_qty"))
      .filter(col("sum_qty") > 350)
    Tables.t(spark, dir, "orders")
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.t(spark, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
              col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** TPC-H Q11-shape important parts: per-part revenue vs a GLOBAL
    * scalar threshold (share > 0.06% of total) — the group-vs-grand-
    * total comparison shape. The grand total is a 1-row aggregate
    * broadcast back over the per-part relation (a broadcast nested-loop
    * join of one row — the one BNLJ that is always right), so the fact
    * table is scanned ONCE and aggregated ONCE; the naive form rescans
    * the fact for the scalar subquery. The comparison is integer cross-
    * multiplication (units·10⁴ > 6·total), never a float share, so the
    * threshold boundary is exact; at a 100 TB grand total the longs swap
    * to decimal(38,0) per the revUnits headroom note. */
  def q11Important(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.t(spark, dir, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(sum(revUnits).as("units"))
    val total = v.agg(sum(col("units")).as("total_units"))
    v.join(broadcast(total))
      .filter(col("units") * 10000L > lit(6L) * col("total_units"))
      .select(col("l_partkey").as("p_partkey"),
        round(col("units") / 10000.0, 4).as("value"),
        // +1e-9: deterministic decimal-tie break, see q1Agg
        round(lit(100.0) * col("units") / col("total_units") + 1e-9, 6)
          .as("share_pct"))
      .orderBy(col("p_partkey"))
  }

  /** Distributed global ranking — the replacement for an UNPARTITIONED
    * `Window.orderBy(...)` whenever the ranked relation grows with the
    * corpus (per-customer / per-supplier aggregates do: a dimension is
    * only "small" until the corpus is 100 TB). An unpartitioned window
    * funnels every row through ONE task's sort; this keeps the exact
    * same semantics with bounded per-task work:
    *
    *  1. P−1 range boundaries over `rangeCol` via approxQuantile — a
    *     MODEL PARAMETER (doubles, collected once, embedded as an array
    *     literal), same deployment shape as the IVF codebook.
    *  2. Deterministic map-side bucket id: #boundaries strictly below
    *     (asc) / above (desc) the row's value — monotone along the sort
    *     order by construction, so bucket i's rows all precede bucket
    *     i+1's. Boundary skew only mis-BALANCES buckets (ties share
    *     one), it can never mis-ORDER them, so rank exactness does not
    *     depend on the sketch.
    *  3. Per-bucket parallel sorts (`row_number` over a PARTITIONED
    *     window) plus a P-row offset table (cumulative counts — and
    *     cumulative sums of `carrySum`, for running-total callers)
    *     broadcast back: global_rank = offset(bucket) + local rank.
    *
    * The only unpartitioned window left runs over the P-row offset
    * aggregate — bounded by the parts constant, not the data. Columns
    * added: `rankName`, and with carrySum: `_cumsum` (running sum in
    * rank order) and `_stotal` (grand total); caller drops `_`-temps. */
  private[ops] def distributedRank(
      df: DataFrame, rangeCol: String, asc: Boolean, order: Seq[Column],
      rankName: String, carrySum: Option[String] = None,
      parts: Int = 32, knownBounds: Option[Array[Double]] = None)
      : DataFrame = {
    val probs = (1 until parts).map(_.toDouble / parts).toArray
    // callers ranking several measures of one relation pass bounds from
    // a single multi-column approxQuantile pass (one job, not one per
    // measure)
    val bounds = knownBounds
      .getOrElse(df.stat.approxQuantile(rangeCol, probs, 0.01))
      .distinct.sorted
    val v = col(rangeCol).cast("double")
    // NULL rangeCol placement must agree with Spark's sort defaults
    // (asc → nulls FIRST, desc → nulls LAST). The filter-count lambda
    // is NULL for null v, which array filter() treats as dropped →
    // bucket 0: correct for asc, but in desc mode a null must land in
    // the LAST bucket or its global rank contradicts the in-bucket
    // window order. All current callers rank non-null aggregates; this
    // keeps the helper honest for null-bearing ones.
    val bucket =
      if (asc) size(filter(typedLit(bounds), b => v > b))
      else when(v.isNull, lit(bounds.length))
        .otherwise(size(filter(typedLit(bounds), b => v < b)))
    val withB = df.withColumn("_bkt", bucket)
    val carry = carrySum.map(c => sum(col(c))).getOrElse(sum(lit(0.0)))
    // cumulative offsets over the P-row bucket aggregate; the window is
    // bounded by `parts`, never by the data
    val wOff = Window.orderBy(col("_bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = withB.groupBy(col("_bkt"))
      .agg(count(lit(1)).as("_c"), carry.as("_s"))
      .withColumn("_off", coalesce(sum(col("_c")).over(wOff), lit(0L)))
      .withColumn("_soff", coalesce(sum(col("_s")).over(wOff), lit(0.0)))
      .withColumn("_stotal", sum(col("_s")).over(
        Window.orderBy(col("_bkt"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("_bkt"), col("_off"), col("_soff"), col("_stotal"))
    val wIn = Window.partitionBy(col("_bkt")).orderBy(order: _*)
    val ranked = withB.join(broadcast(offs), "_bkt")
      .withColumn(rankName,
        (col("_off") + row_number().over(wIn)).cast("long"))
    if (carrySum.isDefined)
      ranked.withColumn("_cumsum",
          col("_soff") + sum(col(carrySum.get)).over(
            wIn.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .drop("_bkt", "_off", "_soff")
    else ranked.drop("_bkt", "_off", "_soff", "_stotal")
  }

  /** Exact PER-GROUP quantiles with bounded task memory — the grouped
    * complement of the psiEdges order-statistic selection. percentile()
    * holds each group's value→count map WHOLE in that group's
    * final-merge task (Θ(distinct values per group) heap — the shape
    * the round-11 probe measured at 316 s / 15M rows for psi_drift's
    * ungrouped case; a grouped call concentrates the same buffer in
    * |groups| tasks). Here the identical multiset semantics compute as
    * a dataflow: the (group, value) HISTOGRAM aggregates map-side
    * (Θ(distinct) distributed ROWS, no big buffer), a per-group window
    * over the histogram assigns each distinct value its [lo, hi] rank
    * range (window sort SPILLS — disk-safe, unlike an aggregation
    * buffer), each requested p fetches its two flanking ranks
    * pos = p·(n_g−1) through a broadcast of the Θ(|groups|·|ps|) target
    * relation, and the interpolation replicates Spark Percentile's
    * `if (lower == higher) lowerKey else (higher−pos)·lowerKey +
    * (pos−lower)·higherKey` double arithmetic in columns — results are
    * bit-identical to percentile() and the DuckDB quantile_cont
    * oracles. Returns one row per group: groupCol + one double column
    * per (name, p). */
  /** Input-size floor above which exact grouped quantiles switch from
    * the percentile() aggregate to the bucketed dataflow below
    * (PropertySpec-pinned). Below it the aggregate's value buffers are
    * small and its single pass wins (the dataflow pays ~2–3 s of fixed
    * job overhead per call — measured 9× on the sf0.1 bench when it was
    * unconditional); above it the buffer is the round-11 psi_drift
    * failure shape. The two forms are BIT-IDENTICAL (the dataflow
    * replicates Spark Percentile's interpolation), so the switch can
    * never change a result — the same adaptive stance AQE takes on join
    * strategies, keyed on the base table's footer count. */
  private[graft] val QuantileDataflowMinRows = 5000000L

  /** Exact per-group quantiles, mode chosen by input size — see
    * QuantileDataflowMinRows. `inputRows` is the caller's base-table
    * footer count (free; a filtered/derived count would cost a pass).
    *
    * CONTRACT (round-11 advice, both halves):
    *  - `inputRows` must be an UPPER BOUND on df's row count. Passing an
    *    underestimate for a large derived frame silently reintroduces
    *    the unbounded single-task percentile() buffer this switch exists
    *    to retire (the round-11 psi_drift failure shape). The existing
    *    call sites all pass the base-table footer count of a frame
    *    derived by filter/project/1:1-map — never a fan-out.
    *  - Groups whose values are all NULL (and empty inputs) yield NO
    *    row in big mode, where percentile() kept the group with NULL
    *    quantiles. Callers feed NOT-NULL measures (TPC-H columns, event
    *    values), so the shapes agree on every fixture; a caller that
    *    needs degenerate groups back must left-join the result to its
    *    group universe. */
  private[graft] def exactQuantiles(df: DataFrame, groupCol: String,
      valueCol: String, ps: Seq[(String, Double)],
      inputRows: Long): DataFrame =
    if (inputRows < QuantileDataflowMinRows) {
      val v = col(valueCol)
      df.filter(v.isNotNull).groupBy(col(groupCol))
        .agg(ps.map { case (nm, p) =>
          expr(s"percentile($valueCol, $p)").as(nm) }.head,
          ps.tail.map { case (nm, p) =>
            expr(s"percentile($valueCol, $p)").as(nm) }: _*)
    } else groupedQuantiles(df, groupCol, valueCol, ps)

  /** exactQuantiles over a BASE-TABLE projection, with the big-mode
    * ranked histogram STAGED per (dir, table, group, value) — one
    * Staged.layer artifact serves every caller's percentile set. The
    * round-11 100× probe priced the alternative: percentiles /
    * winsorize / approx_sketch each re-ran the full histogram + rank
    * dataflow over the same (l_returnflag, l_extendedprice) projection
    * (~28 s apiece at 60M rows). The ranked histogram is Θ(distinct
    * values) rows — the order-statistics index an offline stats job
    * would publish — and each consumer then pays only a broadcast-
    * targets pick pass over it. Small mode is unchanged (the aggregate
    * wins under 5M rows; no artifact is staged there). */
  private[graft] def exactQuantilesShared(spark: SparkSession,
      dir: String, table: String, groupCol: String, valueCol: String,
      ps: Seq[(String, Double)]): DataFrame = {
    val base = Tables.t(spark, dir, table)
      .select(col(groupCol), col(valueCol))
    // once-computed footer count — the round-12 creep: re-counting per call
    // (percentiles calls twice: price + qty) re-paid a job per invocation
    val n = Tables.footerCount(spark, dir, table)
    if (n < QuantileDataflowMinRows)
      exactQuantiles(base, groupCol, valueCol, ps, n)
    else {
      val hist = graft.Staged.layer(spark,
        graft.Staged.key("qhist", dir, table, groupCol, valueCol))(
        rankedGroupHist(base, groupCol, valueCol))
      quantilesFromHist(hist, groupCol, valueCol, ps)
    }
  }

  private[graft] def groupedQuantiles(df: DataFrame, groupCol: String,
      valueCol: String, ps: Seq[(String, Double)]): DataFrame =
    quantilesFromHist(rankedGroupHist(df, groupCol, valueCol),
      groupCol, valueCol, ps)

  /** The expensive half of the grouped-quantile dataflow: the (group,
    * value) histogram with each distinct value's global [_lo, _hi] rank
    * range within its group — a stageable order-statistics index (any
    * percentile of any caller reads off it). */
  private[graft] def rankedGroupHist(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val g = col(groupCol)
    val v = col(valueCol)
    val hist = df.filter(v.isNotNull)
      .groupBy(g, v).agg(count(lit(1)).as("_c"))
    // rank WITHIN (group, value-range bucket), offsets from the bounded
    // (|groups|·|buckets|) aggregate — the distributedRank move applied
    // per group, so no task ever sorts more than a bucket's slice of
    // one group's histogram (a bare per-group window would concentrate
    // each group's whole Θ(distinct) histogram in one sort task; global
    // bounds can still leave a value-concentrated group in few buckets
    // — the residual, same as distributedRank's)
    val bounds = df.filter(v.isNotNull).stat
      .approxQuantile(valueCol, (1 until 32).map(_ / 32.0).toArray, 0.01)
      .distinct.sorted
    val vd = v.cast("double")
    val withB = hist.withColumn("_bkt",
      size(filter(typedLit(bounds.toSeq), b => vd > b)))
    val wOff = Window.partitionBy(g).orderBy(col("_bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = withB.groupBy(g, col("_bkt"))
      .agg(sum(col("_c")).as("_bc"))
      .withColumn("_off", coalesce(sum(col("_bc")).over(wOff), lit(0L)))
      .select(g, col("_bkt"), col("_off"))
    val wIn = Window.partitionBy(g, col("_bkt")).orderBy(v)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withB.join(broadcast(offs), Seq(groupCol, "_bkt"))
      .withColumn("_hi", col("_off") + sum(col("_c")).over(wIn))
      .withColumn("_lo", col("_hi") - col("_c") + 1)
      .select(g, v, col("_lo"), col("_hi"))
  }

  /** The cheap half: given a ranked histogram, each requested p fetches
    * its two flanking ranks through a broadcast of the Θ(|groups|·|ps|)
    * target relation and interpolates exactly as Spark's Percentile
    * does (bit-identical — see the groupedQuantiles scaladoc). */
  private[graft] def quantilesFromHist(ranked: DataFrame,
      groupCol: String, valueCol: String,
      ps: Seq[(String, Double)]): DataFrame = {
    val g = col(groupCol)
    val v = col(valueCol)
    val targets = ranked.groupBy(g).agg(max(col("_hi")).as("_n"))
      .select(g +: ps.map { case (nm, p) =>
        (lit(p) * (col("_n") - 1).cast("double")).as(s"_pos_$nm") }: _*)
    // one streamed pass of the histogram past the broadcast targets;
    // each p keeps only its two flanking ranks
    val joined = ranked.join(broadcast(targets), Seq(groupCol))
    val picks = ps.map { case (nm, _) =>
      val pos = col(s"_pos_$nm")
      val rlo = (floor(pos) + 1).cast("long")
      val rho = (ceil(pos) + 1).cast("long")
      Seq(
        max(when(rlo.between(col("_lo"), col("_hi")), v)).as(s"_vlo_$nm"),
        max(when(rho.between(col("_lo"), col("_hi")), v)).as(s"_vho_$nm"),
        first(pos).as(s"_p_$nm"))
    }
    val agg = joined.groupBy(g)
      .agg(picks.flatten.head, picks.flatten.tail: _*)
    agg.select(g +: ps.map { case (nm, _) =>
      val pos = col(s"_p_$nm")
      val lo = col(s"_vlo_$nm").cast("double")
      val hi = col(s"_vho_$nm").cast("double")
      when(floor(pos) === ceil(pos), lo)
        .otherwise((ceil(pos) - pos) * lo + (pos - floor(pos)) * hi)
        .as(nm) }: _*)
  }

  /** Exact NTILE(k) bucket from a global 1-based rank: the first n%k
    * buckets take ceil(n/k) rows, the rest floor(n/k) — the ANSI
    * definition both Spark and DuckDB implement. Computing it from the
    * distributed rank keeps quintile scoring off the single-task
    * unpartitioned-window path. */
  private[ops] def ntileFromRank(rn: Column, n: Long, k: Int): Column = {
    val q = n / k
    val r = n % k
    when(rn <= r * (q + 1),
        floor((rn - 1) / lit((q + 1).toDouble)) + 1)
      .otherwise(lit(r) +
        floor((rn - 1 - r * (q + 1)) / lit(math.max(q, 1L).toDouble)) + 1)
      .cast("long")
  }

  /** RFM customer segmentation — the classic marketing rollup: per
    * customer recency (days since last order, anchored at the corpus
    * max order date so the result is reproducible), frequency, monetary
    * total, each scored into quintiles. One fact aggregate; the anchor
    * is a 1-row broadcast scalar and each quintile comes from
    * `distributedRank` + `ntileFromRank` over the |customers| aggregate
    * — a relation that GROWS with the corpus, so none of the three
    * rankings may route through a single-task unpartitioned window.
    * Quintile order keys use ROUNDED measures with custkey tie-breaks,
    * so the segment boundaries are deterministic cross-engine. */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.t(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_order"),
           count(lit(1)).as("n_orders"),
           round(sum(col("o_totalprice")), 4).as("spend"))
    // Persisted: six consumers derive from this relation (the count,
    // the boundary job, the three rank pipelines and their offset
    // subtrees, the final join spine) — without the cache each re-runs
    // the orders aggregate. |customers|-sized, disk-spillable, and
    // Bench/Verify clear the cache between queries. (Measured at sf0.1:
    // 4.2s as chained-uncached ranks → 2.1s in this shape.)
    val anchor0 = per.agg(max(col("last_order")).as("_anchor"))
    val base = per.crossJoin(broadcast(anchor0))
      .withColumn("recency_days",
        datediff(col("_anchor"), col("last_order")).cast("long"))
      .drop("_anchor")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Each quintile ranks the CACHED base independently and comes back
    // as a skinny (custkey, score) relation — chaining the three ranks
    // instead would put score i's full join+window pipeline inside
    // score i+1's offset subtree and re-evaluate it per level (the
    // quadratic-lineage trap). All three boundary sets come from ONE
    // multi-column approxQuantile job rather than one action per
    // measure (3 jobs → 1; measured ~0.9s of the 4.2→2.1s win) — and
    // the (count, bounds) pair is computed once per orders content like
    // every other learned banding parameter (psiEdges doctrine): n is
    // an exact invariant of the input, the bounds only steer
    // distributedRank's range partitioning (exactness does not depend
    // on them).
    val (n, boundsOf) = graft.Staged.value(
      graft.Staged.key("rfm_bounds", dir, "orders")) {
        val parts = 32
        val probs = (1 until parts).map(_.toDouble / parts).toArray
        val allBounds = base.stat.approxQuantile(
          Array("recency_days", "n_orders", "spend"), probs, 0.01)
        (base.count(), Map("recency_days" -> allBounds(0),
          "n_orders" -> allBounds(1), "spend" -> allBounds(2)))
      }
    def score(m: String, asc: Boolean, name: String): DataFrame = {
      val order =
        if (asc) Seq(col(m), col("o_custkey"))
        else Seq(col(m).desc, col("o_custkey"))
      distributedRank(base, m, asc, order, "_rn",
          knownBounds = Some(boundsOf(m)))
        .select(col("o_custkey"),
                ntileFromRank(col("_rn"), n, 5).as(name))
    }
    base
      .join(score("recency_days", asc = false, "r_score"), "o_custkey")
      .join(score("n_orders", asc = true, "f_score"), "o_custkey")
      .join(score("spend", asc = true, "m_score"), "o_custkey")
      .select(col("o_custkey"), col("recency_days"), col("n_orders"),
              col("spend"), col("r_score"), col("f_score"), col("m_score"))
      .orderBy(col("o_custkey"))
  }

  /** Pareto / revenue-concentration analysis: suppliers ranked by
    * revenue, cumulative share, and the is-top-80% flag (the 80/20
    * question every sourcing review asks). The fact table aggregates
    * once; rank AND running share come from one `distributedRank` pass
    * over the |suppliers| aggregate (carrySum threads the cumulative
    * revenue through the same bucketed layout), because suppliers grow
    * with the corpus — the unpartitioned ROW_NUMBER/SUM window the
    * naive form uses is a single-reducer sort at scale. Share
    * arithmetic divides ROUNDED revenue by the rounded total; the rank
    * orders by (rounded revenue desc, suppkey) so the curve is
    * deterministic (6-dp round + 1e-9 absorbs partial-sum association
    * ulps, the file's standard doctrine). */
  def paretoSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.t(spark, dir, "lineitem")
      .groupBy(col("l_suppkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
                 4).as("revenue"))
    distributedRank(per, "revenue", asc = false,
        Seq(col("revenue").desc, col("l_suppkey")), "rnk",
        carrySum = Some("revenue"))
      .withColumn("cum_share",
        round(col("_cumsum") / col("_stotal") + 1e-9, 6))
      .withColumn("is_top80", col("cum_share") <= 0.8)
      .select(col("l_suppkey"), col("revenue"), col("rnk"),
              col("cum_share"), col("is_top80"))
      .orderBy(col("rnk"))
  }

  /** Open-order backlog over time — interval counting by the classic
    * event-calculus trick: each order contributes +1 at its order date
    * and −1 at its fulfillment date (max lineitem ship date), daily
    * deltas aggregate (map-side combinable), and one running sum over
    * the |days| aggregate yields the backlog curve. No interval
    * self-join, no per-day scan: Θ(orders) delta rows, Θ(days) final
    * state. Days with no transitions are absent by construction (the
    * backlog is constant there — stated so the oracle encodes the same
    * convention). */
  def ordersOpen(spark: SparkSession, dir: String): DataFrame = {
    val fulfilled = Tables.t(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(max(col("l_shipdate")).as("ship_end"))
    val j = Tables.t(spark, dir, "orders")
      .join(fulfilled, col("o_orderkey") === col("l_orderkey"))
    val deltas = j.select(to_date(col("o_orderdate")).as("day"),
        lit(1L).as("d"))
      .unionByName(j.select(to_date(col("ship_end")).as("day"),
        lit(-1L).as("d")))
    deltas.groupBy(col("day"))
      .agg(sum(col("d")).as("net"),
           sum(when(col("d") > 0, 1L).otherwise(0L)).as("n_opened"),
           sum(when(col("d") < 0, 1L).otherwise(0L)).as("n_closed"))
      .withColumn("n_open",
        sum(col("net")).over(Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("day"), col("n_opened"), col("n_closed"), col("n_open"))
      .orderBy(col("day"))
  }

  private val sqlRecursiveSql =
    """WITH RECURSIVE bounds AS (
      |  SELECT year(MIN(o_orderdate)) AS y0, year(MAX(o_orderdate)) AS y1
      |  FROM orders),
      |years(y, y1) AS (
      |  SELECT y0, y1 FROM bounds
      |  UNION ALL
      |  SELECT y + 1, y1 FROM years WHERE y < y1
      |),
      |g AS (
      |  SELECT year(o_orderdate) AS y, COUNT(*) AS n,
      |         ROUND(SUM(o_totalprice), 4) AS revenue
      |  FROM orders GROUP BY 1)
      |SELECT CAST(years.y AS BIGINT) AS year,
      |       CAST(COALESCE(g.n, 0) AS BIGINT) AS n_orders,
      |       COALESCE(g.revenue, 0.0) AS revenue
      |FROM years LEFT JOIN g ON years.y = g.y
      |ORDER BY year""".stripMargin

  /** Recursive CTE through the SQL front (WITH RECURSIVE, new in Spark
    * 4): a year spine generated inductively, left-joined to yearly order
    * totals — zero-filling any silent years. The bounds come from one
    * aggregate and the upper one rides along the spine as a column: a
    * scalar MAX() subquery in the recursion guard re-scans the fact table
    * EVERY level (measured warm at sf0.1 on 4 cores, 7-level spine:
    * 2.35 s against 0.55 s for this form; 22 s vs 5 s for an 80-level
    * month spine), and bounds collected on the driver (0.45 s) run a job
    * while the DataFrame is built.
    *
    * Scale stance, measured: Spark executes recursion level-by-level —
    * one job per level — so recursion depth is a DRIVER cost, not a data
    * cost. A ≤10-level year spine is fine; deep calendar spines belong
    * to `sequence()` (panel_fill's shape). Recursion earns its place for
    * genuinely inductive queries, and this query pins the feature
    * working end to end against the same SQL in DuckDB. */
  def sqlRecursive(spark: SparkSession, dir: String): DataFrame =
    Tables.sql(spark, dir, sqlRecursiveSql)

  /** Cohort lifetime-value curves: customers grouped by first-order
    * year, revenue tracked by cohort age (order year − cohort year),
    * cumulative per cohort — the revenue twin of events_retention's
    * count matrix. Two fact aggregates (first-order per customer is
    * map-side combinable; the cohort join broadcasts the |customers|
    * first-year table relative to orders at fixture scale, sort-merge
    * beyond) and a running sum over the |cohorts|·|ages| aggregate. */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.t(spark, dir, "orders")
      .select(col("o_custkey"), year(col("o_orderdate")).as("y"),
              col("o_totalprice"))
    val firstYear = ord.groupBy(col("o_custkey"))
      .agg(min(col("y")).as("cohort_year"))
    val cells = ord.join(firstYear, Seq("o_custkey"))
      .groupBy(col("cohort_year").cast("long").as("cohort_year"),
               (col("y") - col("cohort_year")).cast("long").as("age"))
      .agg(count(lit(1)).as("n_orders"),
           round(sum(col("o_totalprice")), 4).as("revenue"))
    val byAge = Window.partitionBy(col("cohort_year")).orderBy(col("age"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("cum_revenue",
        round(sum(col("revenue")).over(byAge) + 1e-9, 4))
      .orderBy(col("cohort_year"), col("age"))
  }

  /** TPC-H q13-shape customer order-count distribution: LEFT join keeps
    * zero-order customers (the row an inner join silently drops — the
    * point of the query), per-customer counts, then the distribution of
    * those counts. Two aggregations, both map-side combinable; the
    * second one's key space is bounded by the max order count. */
  def q13Custdist(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.t(spark, dir, "customer").select(col("c_custkey"))
    val o = Tables.t(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"))
    c.join(o, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"))
      .groupBy(col("n_orders"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("n_customers").desc, col("n_orders").desc)
  }

  private val q22IdleRichSql =
    """SELECT c_mktsegment, COUNT(*) AS n_cust,
      |       ROUND(SUM(c_acctbal), 4) AS total_bal
      |FROM customer c
      |WHERE c_acctbal > (SELECT ROUND(AVG(c_acctbal) + 1e-9, 4)
      |                   FROM customer WHERE c_acctbal > 0)
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_orderdate >= TIMESTAMP '2001-01-01')
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** TPC-H q22-shape: above-average-balance customers with no RECENT
    * orders (the "idle rich" churn report; every fixture customer has
    * SOME order, so idleness is recency-scoped) — a scalar aggregate
    * subquery in the filter plus an anti join, grouped by segment. The threshold is
    * ROUNDED (+1e-9, 4 dp) before comparison: a raw float-average
    * threshold sits at a different ulp in each engine, and a customer
    * exactly on it would flip membership. Catalyst plans the scalar
    * subquery once (broadcast literal) and the NOT EXISTS as an anti
    * hash join — no per-row subqueries. */
  def q22IdleRich(spark: SparkSession, dir: String): DataFrame =
    Tables.sql(spark, dir, q22IdleRichSql)

  def sqlHaving(spark: SparkSession, dir: String): DataFrame = {
    // Filter on the RAW sum (like the oracle's HAVING), round only for
    // display — thresholding the rounded value would diverge for sums
    // that round onto the boundary (e.g. 150.00004 → 150.0).
    val big = Tables.t(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("raw_qty"))
      .filter(col("raw_qty") > 150)
      .select(col("l_orderkey"), round(col("raw_qty"), 4).as("total_qty"))
    big.join(Tables.t(spark, dir, "orders"),
             col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.t(spark, dir, "customer")
              .select(col("c_custkey"), col("c_name"))),
            col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
              col("o_totalprice"), col("total_qty"))
      .orderBy(col("o_orderkey"))
  }

  /** TPC-H q19-shape disjunctive predicate: OR of three (brand, size,
    * quantity) bands across the lineitem ⋈ part join. Catalyst extracts
    * the common join key, pushes the per-side residuals of the
    * disjunction into both scans (p_brand IN (...) prunes part;
    * l_quantity bounds prune lineitem row groups), and evaluates the
    * full OR post-join — the predicate shape that breaks naive
    * pushdown. */
  def disjunctiveFilter(spark: SparkSession, dir: String): DataFrame = {
    val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
    def band(brand: String, s0: Int, s1: Int, q0: Int, q1: Int) =
      col("p_brand") === brand &&
        col("p_size").between(s0, s1) && col("l_quantity").between(q0, q1)
    Tables.t(spark, dir, "lineitem")
      .join(broadcast(Tables.t(spark, dir, "part")
              .select(col("p_partkey"), col("p_brand"), col("p_size"))),
            col("l_partkey") === col("p_partkey"))
      .filter(band("Brand#11", 1, 15, 1, 20) ||
              band("Brand#22", 10, 30, 10, 35) ||
              band("Brand#19", 20, 50, 20, 50))
      .agg(round(sum(rev), 4).as("revenue"),
           count(lit(1)).as("n_lines"))
  }

  private val sqlExistsSql =
    """SELECT c_mktsegment,
      |  SUM(CASE WHEN EXISTS (SELECT 1 FROM orders o
      |                        WHERE o.o_custkey = c.c_custkey
      |                          AND o.o_orderstatus = 'P')
      |      THEN 1 ELSE 0 END)::BIGINT AS n_pending,
      |  SUM(CASE WHEN c_acctbal > 0 AND NOT EXISTS (
      |        SELECT 1 FROM orders o
      |        WHERE o.o_custkey = c.c_custkey
      |          AND o.o_orderpriority = '1-URGENT')
      |      THEN 1 ELSE 0 END)::BIGINT AS n_no_urgent
      |FROM customer c
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** EXISTS / NOT EXISTS through the SQL front: per-segment counts of
    * customers with a pending ('P') order and of positive-balance
    * customers with no URGENT order. Catalyst rewrites both into
    * semi/anti hash joins (no per-row subquery execution) — the
    * companion to joinSemiAnti's DataFrame formulation. */
  def sqlExists(spark: SparkSession, dir: String): DataFrame =
    Tables.sql(spark, dir, sqlExistsSql)

  /** Distribution windows: cume_dist, nth_value and full-frame
    * first/last — completes the ranking-window family (windowRank) with
    * the value-distribution members. All four specs share one customer
    * exchange; the full frame is declared explicitly (unbounded both
    * ways) so first/last read the whole partition, not the default
    * running frame. */
  def windowDist(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    val full = w.rowsBetween(Window.unboundedPreceding,
                             Window.unboundedFollowing)
    Tables.t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        // +1e-9: deterministic decimal-tie break, see q1Agg
        round(cume_dist().over(w) + 1e-9, 4).as("cd"),
        nth_value(col("o_totalprice"), 2).over(full).as("second_lowest"),
        first(col("o_totalprice")).over(full).as("min_price"),
        last(col("o_totalprice")).over(full).as("max_price"))
      .orderBy(col("o_orderkey"))
  }

  /** Table profiling: per-column row/null/distinct counts and numeric
    * min/max over `orders` — the data-quality summary a pipeline emits
    * per ingest batch. ONE scan: all per-column aggregates compute in a
    * single pass (Catalyst expands the multi-distinct into one Expand +
    * aggregate), then pivot to one row per column via stack. At 100 TB
    * the exact distincts swap for approx_count_distinct (mergeable HLL)
    * — the shape is unchanged. */
  def profileTable(spark: SparkSession, dir: String): DataFrame = {
    def nNull(c: String) = sum(col(c).isNull.cast("long"))
    val a = Tables.t(spark, dir, "orders").agg(
      count(lit(1)).as("n"),
      countDistinct(col("o_orderkey")).as("d_key"),
      nNull("o_orderkey").as("nn_key"),
      min(col("o_orderkey")).cast("double").as("mn_key"),
      max(col("o_orderkey")).cast("double").as("mx_key"),
      countDistinct(col("o_custkey")).as("d_cust"),
      nNull("o_custkey").as("nn_cust"),
      min(col("o_custkey")).cast("double").as("mn_cust"),
      max(col("o_custkey")).cast("double").as("mx_cust"),
      countDistinct(col("o_totalprice")).as("d_price"),
      nNull("o_totalprice").as("nn_price"),
      round(min(col("o_totalprice")), 4).as("mn_price"),
      round(max(col("o_totalprice")), 4).as("mx_price"),
      countDistinct(col("o_orderstatus")).as("d_status"),
      nNull("o_orderstatus").as("nn_status"),
      countDistinct(col("o_orderpriority")).as("d_prio"),
      nNull("o_orderpriority").as("nn_prio"))
    a.selectExpr(
      """stack(5,
        |  'o_orderkey',      n, nn_key,    d_key,    mn_key,   mx_key,
        |  'o_custkey',       n, nn_cust,   d_cust,   mn_cust,  mx_cust,
        |  'o_totalprice',    n, nn_price,  d_price,  mn_price, mx_price,
        |  'o_orderstatus',   n, nn_status, d_status, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        |  'o_orderpriority', n, nn_prio,   d_prio,   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
        |) AS (column_name, n_rows, n_null, n_distinct, min_val, max_val)"""
        .stripMargin)
      .orderBy(col("column_name"))
  }

  /** Largest-remainder money allocation ("penny allocation") — split
    * each order's total across its line items proportionally to item
    * price so the per-order cent sum reconciles EXACTLY (the invariant
    * billing/revenue-recognition pipelines must hold; naive per-item
    * rounding leaks cents). The whole computation is INTEGER
    * arithmetic — cents = floor(dollars·100 + 0.5), base share =
    * (total·price) div denom, remainder = (total·price) mod denom —
    * so cross-engine parity is bit-exact by construction: no double
    * division anywhere, and the +1-cent bumps go to the largest
    * INTEGER remainders with the (orderkey, linenumber) primary key as
    * the deterministic tie-break. Shapes: one order-keyed window pair
    * over ≤7-row partitions; the o%25 sample filter reaches both scans
    * BEFORE the join (predicate pushdown keeps the demo output small —
    * the plan is the full-corpus plan). */
  def pennyAlloc(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.t(spark, dir, "orders")
      .filter(col("o_orderkey") % 25 === 0)
      .select(col("o_orderkey"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long")
          .as("total_cents"))
    val li = Tables.t(spark, dir, "lineitem")
      .filter(col("l_orderkey") % 25 === 0)
      .select(col("l_orderkey"), col("l_linenumber"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long")
          .as("price_cents"))
    // The fixture's lineitem is NOT keyed by (l_orderkey, l_linenumber)
    // (~14k duplicate pairs at sf0.01), so both the bump tie-break and
    // the presentation sort carry price_cents to stay a total order of
    // the OUTPUT rows: two rows identical on all three keys are
    // indistinguishable in every output column, so rank interchange
    // between them cannot change the result multiset.
    val wO = Window.partitionBy(col("l_orderkey"))
    val wRank =
      wO.orderBy(col("rem").desc, col("l_linenumber"), col("price_cents"))
    li.join(o, col("l_orderkey") === col("o_orderkey")).drop("o_orderkey")
      .withColumn("denom", sum(col("price_cents")).over(wO))
      .filter(col("denom") > 0)
      .withColumn("num", col("total_cents") * col("price_cents"))
      .withColumn("base", expr("num div denom"))
      .withColumn("rem", col("num") % col("denom"))
      .withColumn("leftover",
        col("total_cents") - sum(col("base")).over(wO))
      .withColumn("bump",
        (row_number().over(wRank) <= col("leftover")).cast("long"))
      .select(col("l_orderkey"), col("l_linenumber"), col("price_cents"),
        (col("base") + col("bump")).as("alloc_cents"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("price_cents"),
        col("alloc_cents"))
  }

  /** Incremental JOIN-view maintenance: the per-(segment, nation)
    * revenue view over orders ⋈ customer, maintained as
    * V = merge(V_base, ΔA ⋈ B) — the delta algebra for a view whose
    * dimension side is static (the general both-sides-changing rule,
    * ΔV = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB, degenerates to its first term here).
    * Each slice is the agg_merge partial-aggregate shape with the
    * broadcast dimension join INSIDE the partial, so absorbing a daily
    * order batch touches only batch rows — never the order history.
    * The oracle joins and aggregates the full table directly: equality
    * proves the view delta is lossless, join included. */
  def ivmJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.t(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))
    def partial(pred: Column) = Tables.t(spark, dir, "orders")
      .filter(pred)
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("c_nationkey"))
      .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("s"))
    val cut = lit("1998-01-01").cast("timestamp")
    partial(col("o_orderdate") < cut)
      .unionAll(partial(col("o_orderdate") >= cut))
      .groupBy(col("c_mktsegment"), col("c_nationkey"))
      .agg(sum(col("n")).as("n_orders"),
           round(sum(col("s")), 4).as("revenue"))
      .orderBy(col("c_mktsegment"), col("c_nationkey"))
  }

  /** Equi-depth histogram — 10 equal-count price bins over orders, the
    * distribution profile an optimizer's statistics collector or a
    * feature-binning step wants (fixed-width bins — value_histogram —
    * put 90% of a skewed column in one bin; equi-depth bins adapt).
    * Exact ANSI NTILE membership WITHOUT a single-task global sort:
    * the bin comes from [[distributedRank]]'s range-bucketed global
    * rank (approx-quantile bounds as a collected model parameter,
    * per-bucket parallel sorts, P-row offset table broadcast back) via
    * [[ntileFromRank]] — same doctrine as rfm_segments. The oracle is
    * DuckDB's plain NTILE(10): equality proves the distributed rank
    * reproduces the ANSI definition bin for bin. */
  def equidepthHist(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    val n = o.count() // parquet footer metadata, no data scan
    val ranked = distributedRank(o, "o_totalprice", asc = true,
      Seq(col("o_totalprice"), col("o_orderkey")), "rn")
    ranked.withColumn("bin", ntileFromRank(col("rn"), n, 10))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"),
        round(sum(col("o_totalprice")), 4).as("sum_price"))
      .orderBy(col("bin"))
  }

  /** Winsorized (clamped-tail) per-group price stats — the robust
    * feature-scaling step that keeps a fat-tailed column's outliers
    * from dominating a mean. Cut points are the EXACT interpolating
    * p05/p95 per return flag (the percentiles-query parity doctrine:
    * both engines compute lo + (hi-lo)·frac on the same sorted
    * neighbors, and a clamp comparison against an interpolated cut
    * cannot flip on an ulp because no data value lies strictly between
    * two 1-ulp cut variants). Cuts are a |groups|-row broadcast back
    * into one pass over the fact table — no window, no second sort. */
  def winsorize(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.t(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice"))
    // exact interpolating cuts via the bounded-memory grouped-quantile
    // dataflow (bit-identical to the old percentile() aggregate; big
    // mode reads the SHARED staged rank histogram — see percentiles)
    val cuts = exactQuantilesShared(spark, dir, "lineitem",
      "l_returnflag", "l_extendedprice",
      Seq(("p05", 0.05), ("p95", 0.95)))
    li.join(broadcast(cuts), "l_returnflag")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_extendedprice") < col("p05"), 1L).otherwise(0L))
          .as("n_clip_lo"),
        sum(when(col("l_extendedprice") > col("p95"), 1L).otherwise(0L))
          .as("n_clip_hi"),
        round(avg(col("l_extendedprice")) + 1e-9, 4).as("mean_raw"),
        round(avg(greatest(least(col("l_extendedprice"), col("p95")),
                           col("p05"))) + 1e-9, 4).as("mean_wins"),
        round(min(col("p05")) + 1e-9, 4).as("p05"),
        round(max(col("p95")) + 1e-9, 4).as("p95"))
      .orderBy(col("l_returnflag"))
  }

  /** 2-D skyline (Pareto frontier): the urgent orders no other urgent
    * order beats on BOTH objectives (cheaper-or-equal price AND
    * later-or-equal date, strictly better in one). The naive form is an
    * all-pairs NOT EXISTS — a nested-loop the oracle can afford but a
    * 100 TB plan cannot. Distributed shape:
    *
    *  1. PREFILTER — prices bucketed fixed-width (B = 256); per-bucket
    *     max date is a B-row aggregate whose exclusive running max
    *     (a window over B rows, bucket-bounded like the calendar
    *     windows) broadcasts back. A row beaten by any strictly-cheaper
    *     bucket's max date is dominated (bucket monotone in price ⇒
    *     lower bucket ⇒ strictly lower price) and drops map-side.
    *     Every dominator itself survives the prefilter (its date ≥ the
    *     victim's > its own bucket's exclusive cummax, and cummax is
    *     monotone across buckets), so no skyline member is lost.
    *  2. EXACT — survivors S (frontier candidates; |S| is
    *     output-bounded per bucket, like dedup_clusters is
    *     output-bounded): per-distinct-price max date, running max
    *     over the ≤|S| distinct prices, keep rows strictly above every
    *     cheaper price's max (m1) and not beaten within their own
    *     price group (date = m2). Duplicate (price, date) points tie
    *     and are all kept — neither dominates the other. */
  def skyline(spark: SparkSession, dir: String): DataFrame = {
    val u = Tables.t(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
    val b = 256
    val rng = u.agg(min(col("o_totalprice")).as("lo"),
                    max(col("o_totalprice")).as("hi"))
    val bucketed = u.crossJoin(broadcast(rng))
      .withColumn("bkt", least(
        floor((col("o_totalprice") - col("lo")) * b /
              (col("hi") - col("lo") + lit(1e-9))).cast("long"), lit(b - 1L)))
      .drop("lo", "hi")
    val wB = Window.orderBy(col("bkt"))
    val bktMax = bucketed.groupBy(col("bkt"))
      .agg(max(col("o_orderdate")).as("bmax"))
      .withColumn("cummax_excl",
        max(col("bmax")).over(wB.rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("bkt"), col("cummax_excl"))
    val survivors = bucketed.join(broadcast(bktMax), Seq("bkt"))
      .filter(col("cummax_excl").isNull ||
              col("o_orderdate") > col("cummax_excl"))
      .drop("bkt", "cummax_excl")
    val wP = Window.orderBy(col("o_totalprice"))
    val grp = survivors.groupBy(col("o_totalprice"))
      .agg(max(col("o_orderdate")).as("m2"))
      .withColumn("m2", max(col("m2"))
        .over(wP.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("m1", lag(col("m2"), 1).over(wP))
    survivors.join(broadcast(grp), Seq("o_totalprice"))
      .filter((col("m1").isNull || col("o_orderdate") > col("m1")) &&
              col("o_orderdate") === col("m2"))
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
  }

  /** Incremental aggregate maintenance: per-customer order stats kept as
    * MERGEABLE partials (count, sum, min, max) over two disjoint slices
    * (orders before / since 1998-01-01 — an existing materialization and
    * a new batch), then MERGED without touching rows: counts/sums add,
    * min/max combine, avg derives from merged sum/count. The refresh
    * shape that lets a 100 TB rollup absorb a daily batch by merging
    * partition-level partials instead of rescanning history — same
    * algebra Catalyst uses for partial/final aggregation, expressed at
    * the table level. The oracle aggregates the full table directly:
    * equality PROVES the merge is lossless. */
  def aggMerge(spark: SparkSession, dir: String): DataFrame = {
    def partial(pred: Column) = Tables.t(spark, dir, "orders")
      .filter(pred)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("s"),
           min(col("o_totalprice")).as("mn"),
           max(col("o_totalprice")).as("mx"))
    val cut = lit("1998-01-01").cast("timestamp")
    partial(col("o_orderdate") < cut)
      .unionAll(partial(col("o_orderdate") >= cut))
      .groupBy(col("o_custkey"))
      .agg(sum(col("n")).as("n_orders"),
           round(sum(col("s")), 4).as("total_spend"),
           min(col("mn")).as("min_order"),
           max(col("mx")).as("max_order"),
           // +1e-9: deterministic decimal-tie break, see q1Agg
           round(sum(col("s")) / sum(col("n")) + 1e-9, 4).as("avg_order"))
      .orderBy(col("o_custkey"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_merge"      -> (aggMerge _),
    "window_dist"    -> (windowDist _),
    "profile_table"  -> (profileTable _),
    "cond_agg"       -> (condAgg _),
    "sql_having"     -> (sqlHaving _),
    "q7_volume"      -> (q7Volume _),
    "q8_share"       -> (q8Share _),
    "q9_profit"      -> (q9Profit _),
    "q10_returned"   -> (q10Returned _),
    "q15_topsupp"    -> (q15TopSupp _),
    "q17_smallqty"   -> (q17SmallQty _),
    "q21_waiting"    -> (q21Waiting _),
    "q2_mincost"     -> (q2MinCost _),
    "q14_promo"      -> (q14Promo _),
    "q18_bigorders"  -> (q18BigOrders _),
    "q11_important"  -> (q11Important _),
    "sql_recursive"  -> (sqlRecursive _),
    "cohort_ltv"     -> (cohortLtv _),
    "q13_custdist"   -> (q13Custdist _),
    "q22_idle_rich"  -> (q22IdleRich _),
    "orders_open"    -> (ordersOpen _),
    "rfm_segments"   -> (rfmSegments _),
    "pareto_suppliers" -> (paretoSuppliers _),
    "disjunctive"    -> (disjunctiveFilter _),
    "sql_exists"     -> (sqlExists _),
    "sql_text"       -> (sqlText _),
    "sql_correlated" -> (sqlCorrelated _),
    "stats_agg"      -> (statsAgg _),
    "cube_agg"       -> (cubeAgg _),
    "grouping_sets"  -> (groupingSets _),
    "sql_lateral"    -> (sqlLateral _),
    "window_rank"    -> (windowRank _),
    "snapshot_diff"  -> (snapshotDiff _),
    "set_ops"        -> (setOps _),
    "approx_sketch"  -> (approxSketches _),
    "skyline"        -> (skyline _),
    "equidepth_hist" -> (equidepthHist _),
    "winsorize"      -> (winsorize _),
    "penny_alloc"    -> (pennyAlloc _),
    "ivm_join"       -> (ivmJoin _),
    "join_semi_anti" -> (joinSemiAnti _),
    "join_outer"     -> (joinOuter _),
    "string_funcs"   -> (stringFuncs _),
    "date_funcs"     -> (dateFuncs _),
    "percentiles"    -> (percentiles _),
    "q1_agg"         -> (q1Agg _),
    "q3_topk"        -> (q3TopK _),
    "q5_join"        -> (q5Join _),
    "q6_filter"      -> (q6Filter _),
    "rollup_revenue" -> (rollupRevenue _),
    "distinct_agg"   -> (distinctAgg _),
    "scan_order"     -> (scanOrder _),
    "row_counts"     -> (rowCounts _),
    "upsert_lww"     -> (upsertLww _))

  /** DuckDB rendering of `revUnits` — SINGLE SOURCE for the five
    * TPC-H-shape oracles (the duckCosine doctrine: a units or rounding
    * change edits exactly one definition, so the oracles cannot drift
    * from the operator's integer-revenue basis). */
  private val revUnitsSql =
    "CAST(ROUND(l_extendedprice*100) AS BIGINT)" +
      " * (100 - CAST(ROUND(l_discount*100) AS BIGINT))"

  val oracle: Map[String, String] = Map(
    "q21_waiting" -> q21WaitingSql,
    "q2_mincost" -> q2MinCostSql,
    // Direct full-table aggregation: equality with the Spark side's
    // split-then-merge proves the partial-merge algebra is lossless.
    "agg_merge" ->
      """SELECT o_custkey,
        |  COUNT(*)::BIGINT AS n_orders,
        |  ROUND(SUM(o_totalprice), 4) AS total_spend,
        |  MIN(o_totalprice) AS min_order,
        |  MAX(o_totalprice) AS max_order,
        |  ROUND(SUM(o_totalprice) / COUNT(*) + 1e-9, 4) AS avg_order
        |FROM orders
        |GROUP BY o_custkey
        |ORDER BY o_custkey""".stripMargin,
    "window_dist" ->
      """SELECT o_orderkey, o_custkey,
        |  ROUND(cume_dist() OVER w + 1e-9, 4) AS cd,
        |  nth_value(o_totalprice, 2) OVER wf AS second_lowest,
        |  first_value(o_totalprice) OVER wf AS min_price,
        |  last_value(o_totalprice) OVER wf AS max_price
        |FROM orders
        |WINDOW
        |  w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey),
        |  wf AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_orderkey""".stripMargin,
    "profile_table" ->
      """SELECT 'o_orderkey' AS column_name, COUNT(*)::BIGINT AS n_rows,
        |  SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
        |  COUNT(DISTINCT o_orderkey)::BIGINT AS n_distinct,
        |  MIN(o_orderkey)::DOUBLE AS min_val, MAX(o_orderkey)::DOUBLE AS max_val
        |FROM orders
        |UNION ALL
        |SELECT 'o_custkey', COUNT(*)::BIGINT,
        |  SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT,
        |  COUNT(DISTINCT o_custkey)::BIGINT,
        |  MIN(o_custkey)::DOUBLE, MAX(o_custkey)::DOUBLE
        |FROM orders
        |UNION ALL
        |SELECT 'o_totalprice', COUNT(*)::BIGINT,
        |  SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)::BIGINT,
        |  COUNT(DISTINCT o_totalprice)::BIGINT,
        |  ROUND(MIN(o_totalprice), 4), ROUND(MAX(o_totalprice), 4)
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', COUNT(*)::BIGINT,
        |  SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)::BIGINT,
        |  COUNT(DISTINCT o_orderstatus)::BIGINT, NULL::DOUBLE, NULL::DOUBLE
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', COUNT(*)::BIGINT,
        |  SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)::BIGINT,
        |  COUNT(DISTINCT o_orderpriority)::BIGINT, NULL::DOUBLE, NULL::DOUBLE
        |FROM orders
        |ORDER BY column_name""".stripMargin,
    "cond_agg" ->
      """SELECT date_trunc('month', l_shipdate) AS ship_month,
        |  ROUND(SUM(CASE WHEN p_type = 'PROMO'
        |        THEN l_extendedprice * (1 - l_discount) ELSE 0 END), 4)
        |    AS promo_rev,
        |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS total_rev,
        |  ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
        |          THEN l_extendedprice * (1 - l_discount) ELSE 0 END) /
        |        SUM(l_extendedprice * (1 - l_discount)) + 1e-9, 4)
        |    AS promo_share
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q13_custdist" ->
      """WITH pc AS (
        |  SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
        |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY 1)
        |SELECT n_orders, COUNT(*) AS n_customers
        |FROM pc GROUP BY 1
        |ORDER BY n_customers DESC, n_orders DESC""".stripMargin,
    "q22_idle_rich" -> q22IdleRichSql,
    "cohort_ltv" ->
      """WITH o AS (
        |  SELECT o_custkey, year(o_orderdate) AS y, o_totalprice
        |  FROM orders),
        |fy AS (
        |  SELECT o_custkey, MIN(y) AS cohort_year FROM o GROUP BY 1),
        |cells AS (
        |  SELECT CAST(fy.cohort_year AS BIGINT) AS cohort_year,
        |         CAST(o.y - fy.cohort_year AS BIGINT) AS age,
        |         COUNT(*) AS n_orders,
        |         ROUND(SUM(o.o_totalprice), 4) AS revenue
        |  FROM o JOIN fy USING (o_custkey)
        |  GROUP BY 1, 2)
        |SELECT cohort_year, age, n_orders, revenue,
        |  ROUND(SUM(revenue) OVER (PARTITION BY cohort_year ORDER BY age
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |        + 1e-9, 4) AS cum_revenue
        |FROM cells ORDER BY cohort_year, age""".stripMargin,
    "sql_recursive" -> sqlRecursiveSql,
    "orders_open" ->
      """WITH f AS (
        |  SELECT l_orderkey, MAX(l_shipdate) AS ship_end
        |  FROM lineitem GROUP BY 1),
        |j AS (
        |  SELECT o.o_orderdate, f.ship_end
        |  FROM orders o JOIN f ON o.o_orderkey = f.l_orderkey),
        |d AS (
        |  SELECT (o_orderdate::TIMESTAMP)::DATE AS day, 1::BIGINT AS d
        |  FROM j
        |  UNION ALL
        |  SELECT (ship_end::TIMESTAMP)::DATE AS day, -1::BIGINT AS d
        |  FROM j),
        |g AS (
        |  SELECT day, CAST(SUM(d) AS BIGINT) AS net,
        |    CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_opened,
        |    CAST(SUM(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_closed
        |  FROM d GROUP BY 1)
        |SELECT day, n_opened, n_closed,
        |  CAST(SUM(net) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS n_open
        |FROM g ORDER BY day""".stripMargin,
    "rfm_segments" ->
      """WITH per AS (
        |  SELECT o_custkey, MAX(o_orderdate) AS last_order,
        |         COUNT(*) AS n_orders,
        |         ROUND(SUM(o_totalprice), 4) AS spend
        |  FROM orders GROUP BY 1),
        |r AS (
        |  SELECT *,
        |    CAST(MAX(last_order) OVER ()::DATE - last_order::DATE
        |         AS BIGINT) AS recency_days
        |  FROM per)
        |SELECT o_custkey, recency_days, n_orders, spend,
        |  CAST(NTILE(5) OVER (ORDER BY recency_days DESC, o_custkey)
        |       AS BIGINT) AS r_score,
        |  CAST(NTILE(5) OVER (ORDER BY n_orders, o_custkey) AS BIGINT)
        |    AS f_score,
        |  CAST(NTILE(5) OVER (ORDER BY spend, o_custkey) AS BIGINT)
        |    AS m_score
        |FROM r ORDER BY o_custkey""".stripMargin,
    "pareto_suppliers" ->
      """WITH per AS (
        |  SELECT l_suppkey,
        |    ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |  FROM lineitem GROUP BY 1),
        |r AS (
        |  SELECT l_suppkey, revenue,
        |    CAST(ROW_NUMBER() OVER w AS BIGINT) AS rnk,
        |    ROUND(SUM(revenue) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
        |                             AND CURRENT ROW)
        |          / SUM(revenue) OVER () + 1e-9, 6) AS cum_share
        |  FROM per
        |  WINDOW w AS (ORDER BY revenue DESC, l_suppkey))
        |SELECT l_suppkey, revenue, rnk, cum_share,
        |       cum_share <= 0.8 AS is_top80
        |FROM r ORDER BY rnk""".stripMargin,
    "q8_share" ->
      s"""WITH vol AS (
        |  SELECT year(o_orderdate) AS o_year,
        |         $revUnitsSql AS units,
        |         n1.n_name AS supp_nation
        |  FROM lineitem
        |    JOIN part      ON l_partkey = p_partkey
        |    JOIN orders    ON l_orderkey = o_orderkey
        |    JOIN supplier  ON l_suppkey = s_suppkey
        |    JOIN customer  ON o_custkey = c_custkey
        |    JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |    JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |    JOIN region    ON n2.n_regionkey = r_regionkey
        |  WHERE p_type = 'STANDARD' AND r_name = 'EUROPE'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate <  TIMESTAMP '1998-01-01')
        |SELECT CAST(o_year AS BIGINT) AS o_year,
        |  ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN units
        |                 ELSE 0 END) AS BIGINT) / 10000.0, 4) AS nation_rev,
        |  ROUND(CAST(SUM(units) AS BIGINT) / 10000.0, 4) AS total_rev,
        |  CASE WHEN SUM(units) = 0 THEN 0.0
        |       ELSE ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_3'
        |                      THEN units ELSE 0 END) AS DOUBLE)
        |            / CAST(SUM(units) AS DOUBLE) + 1e-9, 6)
        |  END AS mkt_share
        |FROM vol GROUP BY 1 ORDER BY 1""".stripMargin,
    "q14_promo" ->
      s"""WITH j AS (
        |  SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |    CASE WHEN p_type = 'PROMO' THEN $revUnitsSql ELSE 0 END
        |      AS promo_u,
        |    $revUnitsSql AS u
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate <  TIMESTAMP '1998-01-01')
        |SELECT ship_month,
        |  ROUND(CAST(SUM(promo_u) AS BIGINT) / 10000.0, 4)
        |    AS promo_revenue,
        |  ROUND(100.0 * CAST(SUM(promo_u) AS BIGINT)
        |        / CAST(SUM(u) AS BIGINT) + 1e-9, 4) AS promo_share_pct
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "q18_bigorders" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(ROUND(SUM(l_quantity)) AS BIGINT) AS sum_qty
        |  FROM lineitem GROUP BY 1
        |  HAVING CAST(ROUND(SUM(l_quantity)) AS BIGINT) > 350)
        |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        |       sum_qty
        |FROM big
        |  JOIN orders   ON o_orderkey = l_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "q11_important" ->
      s"""WITH v AS (
        |  SELECT l_partkey, CAST(SUM($revUnitsSql) AS BIGINT) AS units
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(SUM(units) AS BIGINT) AS total_units FROM v)
        |SELECT l_partkey AS p_partkey,
        |  ROUND(units / 10000.0, 4) AS value,
        |  ROUND(100.0 * units / total_units + 1e-9, 6) AS share_pct
        |FROM v CROSS JOIN t
        |WHERE units * 10000 > 6 * total_units
        |ORDER BY p_partkey""".stripMargin,
    "q9_profit" ->
      s"""SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  ROUND(CAST(SUM($revUnitsSql
        |        - 60 * CAST(ROUND(p_retailprice*100) AS BIGINT)
        |          * CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT)
        |        / 10000.0, 4) AS profit,
        |  COUNT(*) AS n_lines
        |FROM lineitem
        |  JOIN part     ON l_partkey = p_partkey
        |  JOIN orders   ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation   ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q10_returned" ->
      s"""WITH pc AS (
        |  SELECT o_custkey,
        |    CAST(SUM($revUnitsSql) AS BIGINT) AS units,
        |    COUNT(*) AS n_lines
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_returnflag = 'R'
        |    AND o_orderdate >= TIMESTAMP '1997-01-01'
        |    AND o_orderdate <  TIMESTAMP '1997-07-01'
        |  GROUP BY 1)
        |SELECT c_custkey, c_name, n_name, c_acctbal,
        |       ROUND(units / 10000.0, 4) AS revenue, n_lines
        |FROM pc
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation   ON c_nationkey = n_nationkey
        |ORDER BY units DESC, c_custkey LIMIT 20""".stripMargin,
    "q15_topsupp" ->
      s"""WITH ps AS (
        |  SELECT l_suppkey,
        |    CAST(SUM($revUnitsSql) AS BIGINT) AS units
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-07-01'
        |    AND l_shipdate <  TIMESTAMP '1998-01-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name,
        |       ROUND(units / 10000.0, 4) AS total_revenue
        |FROM ps JOIN supplier ON l_suppkey = s_suppkey
        |WHERE units = (SELECT MAX(units) FROM ps)
        |ORDER BY s_suppkey""".stripMargin,
    "q17_smallqty" ->
      s"""WITH pp AS (
        |  SELECT l_partkey AS pp_key,
        |         CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT)
        |           AS sum_qty,
        |         COUNT(*) AS n_lines
        |  FROM lineitem GROUP BY 1)
        |SELECT p_brand,
        |  ROUND(CAST(SUM($revUnitsSql) AS BIGINT)
        |    / 10000.0, 4) AS small_qty_rev,
        |  COUNT(*) AS n_small
        |FROM lineitem
        |  JOIN pp   ON l_partkey = pp_key
        |  JOIN part ON l_partkey = p_partkey
        |WHERE 5 * CAST(ROUND(l_quantity) AS BIGINT) * n_lines < sum_qty
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q7_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       year(l_shipdate) AS l_year,
        |       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM lineitem
        |  JOIN orders   ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01'
        |  AND n1.n_name <> n2.n_name
        |GROUP BY 1, 2, 3
        |ORDER BY 1, 2, 3""".stripMargin,
    "sql_having" ->
      """WITH big AS (
        |  SELECT l_orderkey, ROUND(SUM(l_quantity), 4) AS total_qty
        |  FROM lineitem GROUP BY 1 HAVING SUM(l_quantity) > 150)
        |SELECT c_custkey, c_name, o_orderkey, o_totalprice, total_qty
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,
    "disjunctive" ->
      """SELECT
        |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#22' AND p_size BETWEEN 10 AND 30
        |       AND l_quantity BETWEEN 10 AND 35)
        |   OR (p_brand = 'Brand#19' AND p_size BETWEEN 20 AND 50
        |       AND l_quantity BETWEEN 20 AND 50)""".stripMargin,
    "sql_exists" -> sqlExistsSql,
    "sql_correlated" -> sqlCorrelatedSql,
    "stats_agg" ->
      """SELECT l_returnflag,
        |  ROUND(stddev_samp(l_quantity) + 1e-9, 4) AS sd_qty,
        |  ROUND(var_samp(l_quantity) + 1e-9, 4) AS var_qty,
        |  ROUND(corr(l_quantity, l_extendedprice) + 1e-9, 6) AS corr_qp,
        |  ROUND(covar_samp(l_quantity, l_extendedprice) + 1e-9, 2)
        |    AS covar_qp
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "cube_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
        |  COUNT(*) AS n, ROUND(SUM(l_quantity) + 1e-9, 2) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag NULLS FIRST,
        |         l_linestatus NULLS FIRST""".stripMargin,
    "sql_lateral" -> sqlLateralSql,
    "grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
        |  COUNT(*) AS n, ROUND(SUM(l_quantity) + 1e-9, 2) AS sum_qty
        |FROM lineitem GROUP BY GROUPING SETS (
        |  (l_returnflag, l_linestatus), (l_returnflag), (l_linestatus), ())
        |ORDER BY gid, l_returnflag NULLS FIRST,
        |         l_linestatus NULLS FIRST""".stripMargin,
    "window_rank" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice,
        |         EXTRACT(year FROM o_orderdate)::INT AS oyear FROM orders)
        |SELECT o_orderkey, o_custkey,
        |  RANK() OVER wy AS rnk, DENSE_RANK() OVER wy AS drnk,
        |  ROUND(PERCENT_RANK() OVER wy + 1e-9, 4) AS prank,
        |  ROW_NUMBER() OVER wp AS rn, NTILE(4) OVER wp AS quartile,
        |  LEAD(o_totalprice) OVER wp AS next_price
        |FROM o
        |WINDOW wy AS (PARTITION BY o_custkey ORDER BY oyear),
        |       wp AS (PARTITION BY o_custkey
        |              ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    "snapshot_diff" ->
      """WITH a AS (
        |  SELECT o_orderkey, o_totalprice AS old_price FROM orders
        |  WHERE o_orderdate < '1999-01-01'),
        |b AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderstatus = 'O'
        |         THEN o_totalprice + 1000.0
        |         ELSE o_totalprice END AS new_price
        |  FROM orders WHERE o_orderdate >= '1996-01-01'),
        |j AS (
        |  SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
        |         a.old_price, b.new_price
        |  FROM a FULL OUTER JOIN b USING (o_orderkey))
        |SELECT o_orderkey,
        |  CASE WHEN old_price IS NULL THEN 'added'
        |       WHEN new_price IS NULL THEN 'removed'
        |       ELSE 'changed' END AS change_type, old_price, new_price
        |FROM j
        |WHERE old_price IS NULL OR new_price IS NULL
        |   OR old_price <> new_price
        |ORDER BY o_orderkey""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  ROUND(SUM(l_quantity), 4) AS sum_qty,
        |  ROUND(SUM(l_extendedprice), 4) AS sum_base_price,
        |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
        |  ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
        |  ROUND(AVG(l_quantity) + 1e-9, 4) AS avg_qty,
        |  ROUND(AVG(l_extendedprice) + 1e-9, 4) AS avg_price,
        |  ROUND(AVG(l_discount) + 1e-9, 4) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_topk" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,
    "q5_join" ->
      """SELECT n_name,
        |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,
    "sql_text" -> {
      val duckShingleCount =
        """SELECT CAST(SUM(len(list_distinct(CASE WHEN len(toks) >= 3
          |  THEN list_transform(generate_series(1, len(toks) - 2),
          |       i -> array_to_string(list_slice(toks, i, i + 2), ' '))
          |  ELSE [text] END))) AS BIGINT)
          |FROM (SELECT text, string_split_regex(text, '\s+') AS toks
          |      FROM documents)""".stripMargin
      s"""SELECT l_returnflag,
         |  ROUND(SUM(l_quantity), 4) AS sum_qty,
         |  COUNT(*) AS n_rows,
         |  ($duckShingleCount) AS total_shingles
         |FROM lineitem
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
    },
    "set_ops" ->
      """SELECT 'both_years' AS segment, c FROM (
        |  SELECT DISTINCT o_custkey AS c FROM orders
        |  WHERE EXTRACT(year FROM o_orderdate) = 1996
        |  INTERSECT
        |  SELECT DISTINCT o_custkey AS c FROM orders
        |  WHERE EXTRACT(year FROM o_orderdate) = 1997)
        |UNION ALL
        |SELECT 'only_1996' AS segment, c FROM (
        |  SELECT DISTINCT o_custkey AS c FROM orders
        |  WHERE EXTRACT(year FROM o_orderdate) = 1996
        |  EXCEPT
        |  SELECT DISTINCT o_custkey AS c FROM orders
        |  WHERE EXTRACT(year FROM o_orderdate) = 1997)
        |ORDER BY segment, c""".stripMargin,
    // approx_sketch: the sketch values themselves are engine-specific,
    // so the oracle checks the EXACT columns and expects the bound
    // booleans to be TRUE — an out-of-spec sketch hash-fails the gate.
    "approx_sketch" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey)::BIGINT AS nd_exact,
        |  TRUE AS nd_ok,
        |  ROUND(quantile_cont(l_extendedprice, 0.5) + 1e-9, 6) AS p50_exact,
        |  TRUE AS p50_ok
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // penny_alloc: all-integer arithmetic — the oracle restates the
    // same div/mod largest-remainder rule, so parity is bit-exact.
    // DuckDB promotes window SUM(BIGINT) to HUGEINT and the promotion
    // propagates through // and %, so denom/base/alloc_cents are
    // explicitly CAST back to BIGINT to match Spark's LongType.
    "penny_alloc" ->
      """WITH o AS (
        |  SELECT o_orderkey,
        |    CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS total_cents
        |  FROM orders WHERE o_orderkey % 25 = 0),
        |li AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
        |      AS price_cents
        |  FROM lineitem WHERE l_orderkey % 25 = 0),
        |j AS (
        |  SELECT l_orderkey, l_linenumber, price_cents, total_cents,
        |    CAST(SUM(price_cents) OVER (PARTITION BY l_orderkey)
        |         AS BIGINT) AS denom
        |  FROM li JOIN o ON l_orderkey = o_orderkey),
        |b AS (
        |  SELECT *,
        |    CAST((total_cents * price_cents) // denom AS BIGINT) AS base,
        |    CAST((total_cents * price_cents) % denom AS BIGINT) AS rem
        |  FROM j WHERE denom > 0),
        |r AS (
        |  SELECT *,
        |    total_cents - SUM(base) OVER (PARTITION BY l_orderkey)
        |      AS leftover,
        |    ROW_NUMBER() OVER (PARTITION BY l_orderkey
        |                       ORDER BY rem DESC, l_linenumber,
        |                                price_cents) AS rk
        |  FROM b)
        |SELECT l_orderkey, l_linenumber, price_cents,
        |  CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
        |       AS BIGINT) AS alloc_cents
        |FROM r
        |ORDER BY l_orderkey, l_linenumber, price_cents, alloc_cents"""
        .stripMargin,
    "ivm_join" ->
      """SELECT c_mktsegment, c_nationkey,
        |  COUNT(*) AS n_orders,
        |  ROUND(SUM(o_totalprice), 4) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // equidepth_hist: the oracle's plain NTILE is the ANSI definition
    // the distributed rank must reproduce bin for bin.
    "equidepth_hist" ->
      """WITH r AS (
        |  SELECT o_totalprice,
        |    CAST(NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey)
        |         AS BIGINT) AS bin
        |  FROM orders)
        |SELECT bin, COUNT(*) AS n_rows,
        |  MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
        |  ROUND(SUM(o_totalprice), 4) AS sum_price
        |FROM r GROUP BY bin ORDER BY bin""".stripMargin,
    "winsorize" ->
      """WITH cuts AS (
        |  SELECT l_returnflag,
        |    quantile_cont(l_extendedprice, 0.05) AS p05,
        |    quantile_cont(l_extendedprice, 0.95) AS p95
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l.l_returnflag, COUNT(*) AS n,
        |  SUM(CASE WHEN l_extendedprice < p05 THEN 1 ELSE 0 END)::BIGINT
        |    AS n_clip_lo,
        |  SUM(CASE WHEN l_extendedprice > p95 THEN 1 ELSE 0 END)::BIGINT
        |    AS n_clip_hi,
        |  ROUND(AVG(l_extendedprice) + 1e-9, 4) AS mean_raw,
        |  ROUND(AVG(GREATEST(LEAST(l_extendedprice, p95), p05)) + 1e-9, 4)
        |    AS mean_wins,
        |  ROUND(MIN(p05) + 1e-9, 4) AS p05,
        |  ROUND(MAX(p95) + 1e-9, 4) AS p95
        |FROM lineitem l JOIN cuts c ON l.l_returnflag = c.l_returnflag
        |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin,
    // skyline: the oracle is the textbook all-pairs dominance NOT
    // EXISTS — quadratic, affordable at oracle scale, and obviously
    // correct; equality proves the bucketed prefilter + frontier
    // windows drop exactly the dominated rows.
    "skyline" ->
      """WITH u AS (
        |  SELECT o_orderkey, o_totalprice, o_orderdate
        |  FROM orders WHERE o_orderpriority = '1-URGENT')
        |SELECT o_orderkey, o_totalprice, o_orderdate
        |FROM u s
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM u x
        |  WHERE x.o_totalprice <= s.o_totalprice
        |    AND x.o_orderdate >= s.o_orderdate
        |    AND (x.o_totalprice < s.o_totalprice
        |         OR x.o_orderdate > s.o_orderdate))
        |ORDER BY o_totalprice, o_orderkey""".stripMargin,
    "join_semi_anti" ->
      """SELECT 'has_urgent' AS segment, c_custkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey
        |                AND o_orderpriority = '1-URGENT')
        |UNION ALL
        |SELECT 'no_urgent' AS segment, c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')
        |ORDER BY segment, c_custkey""".stripMargin,
    "join_outer" ->
      """SELECT c_custkey,
        |  COALESCE(n, 0) AS n_orders,
        |  ROUND(COALESCE(t, 0.0), 4) AS total_spend
        |FROM customer LEFT JOIN (
        |  SELECT o_custkey, COUNT(*) AS n, SUM(o_totalprice) AS t
        |  FROM orders GROUP BY o_custkey) o ON c_custkey = o_custkey
        |ORDER BY c_custkey""".stripMargin,
    "string_funcs" ->
      """SELECT p_partkey,
        |  UPPER(p_name) AS name_upper,
        |  substring(p_type, 1, 5) AS type_prefix,
        |  CAST(length(p_brand) AS BIGINT) AS brand_len,
        |  regexp_extract(p_type, '([A-Z]+)$', 1) AS type_last_word,
        |  concat_ws('|', p_brand, p_type) AS brand_type,
        |  trim(lower(p_name)) AS name_norm
        |FROM part ORDER BY p_partkey""".stripMargin,
    "date_funcs" ->
      """SELECT o_orderkey,
        |  EXTRACT(year FROM o_orderdate) AS y,
        |  EXTRACT(month FROM o_orderdate) AS m,
        |  EXTRACT(day FROM o_orderdate) AS d,
        |  EXTRACT(quarter FROM o_orderdate) AS q,
        |  date_trunc('month', o_orderdate) AS month_start,
        |  date_diff('day', o_orderdate::DATE, DATE '1998-01-01') AS days_to_1998
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "percentiles" ->
      """SELECT l_returnflag,
        |  ROUND(quantile_cont(l_extendedprice, 0.5) + 1e-9, 4) AS p50_price,
        |  ROUND(quantile_cont(l_extendedprice, 0.9) + 1e-9, 4) AS p90_price,
        |  ROUND(quantile_cont(l_quantity, 0.5) + 1e-9, 4) AS p50_qty
        |FROM lineitem
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q6_filter" ->
      """SELECT ROUND(SUM(l_extendedprice * l_discount), 4) AS revenue,
        |       COUNT(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.02 AND 0.04
        |  AND l_quantity < 24""".stripMargin,
    "rollup_revenue" ->
      """SELECT l_returnflag, l_linestatus,
        |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "distinct_agg" ->
      """SELECT l_suppkey,
        |  COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_orderkey) AS n_orders,
        |  COUNT(*) AS n_lines
        |FROM lineitem
        |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,
    "scan_order" ->
      "SELECT * FROM customer ORDER BY c_custkey",
    "row_counts" ->
      Tables.names.map(n => s"SELECT '$n' AS tbl, COUNT(*) AS n_rows FROM $n")
        .mkString("", "\nUNION ALL\n", "\nORDER BY tbl"),
    "upsert_lww" ->
      """SELECT user_id, event_type, event_id, value FROM (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY user_id, event_type
        |    ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin)
}
