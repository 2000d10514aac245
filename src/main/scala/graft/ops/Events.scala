package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Event-time windowing over the `events` table (SURVEY.md §2.10/X6):
  * tumbling + sliding time windows, sessionization, and JSON property
  * extraction (X5). Batch here; the same aggregations run under Structured
  * Streaming in graft.streaming.EventStream (watermark + append mode).
  *
  * Scale notes: all three window queries shuffle once on
  * (window-bucket, key) or (user) — event-time bucketing is computed
  * map-side so the shuffle key space is bounded. Sliding windows fan each
  * row out window/slide = 4× before the shuffle (same as Spark's native
  * window() expansion).
  */
object Events {

  /** Tumbling 1-hour windows per event type: count / sum / avg. */
  def tumbling(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour")("start").as("window_start"),
               col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           round(sum(col("value")), 4).as("sum_value"),
           // +1e-9: deterministic decimal-tie break, see Relational.q1Agg
           round(avg(col("value")) + 1e-9, 4).as("avg_value"))
      .orderBy(col("window_start"), col("event_type"))

  /** Sliding 1-hour windows advancing every 15 minutes. */
  def sliding(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes")("start")
                 .as("window_start"),
               col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           round(sum(col("value")), 4).as("sum_value"))
      .orderBy(col("window_start"), col("event_type"))

  /** Sessionization, 30-minute inactivity gap, per user. Expressed as the
    * classic lag→gap-flag→cumulative-sum pattern (one window pass, one
    * shuffle on user_id); the streaming twin uses session_window. */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_ts").isNull ||
             unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L,
          lit(1)).otherwise(lit(0)))
      .withColumn("session_id", sum(col("is_new")).over(cum).cast("long"))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("session_start"),
           max(col("ts")).as("session_end"),
           count(lit(1)).as("n_events"),
           round(sum(col("value")), 4).as("sum_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** X5/P1/C7: JSON property extraction from events.props via from_json —
    * the reference's nested-JSON flatten applied to a real JSON column. */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"),
              from_json(col("props"),
                org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))("k")
                .as("k"))
      .filter(col("k").isNotNull)
      .orderBy(col("event_id"))

  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Pivot: per-user value totals spread across event-type columns — the
    * reference's two-indicator-tables→one-wide-row reshape (transformer
    * E2) generalized to N categories. One shuffle on user_id; the pivot
    * columns are a map-side CASE fan-out. */
  def pivot(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", eventTypes)
      .agg(round(sum(col("value")), 4))
      .orderBy(col("user_id"))

  /** As-of join (the canonical operator Spark lacks natively): attach to
    * every event the most recent prior purchase of the same user.
    * Spark-first composition — no custom plan node needed: a conditional
    * projection + last(ignoreNulls) over an unbounded-preceding window
    * gives exactly ASOF-backward semantics in ONE window pass over one
    * shuffle on the entity key. This is the scalable form: no range
    * cross-join, no per-row probe. */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .withColumn("p_ts",
        when(col("event_type") === "purchase", col("ts")))
      .withColumn("p_value",
        when(col("event_type") === "purchase", col("value")))
      .withColumn("last_purchase_ts", last(col("p_ts"), true).over(w))
      .withColumn("last_purchase_value", last(col("p_value"), true).over(w))
      .filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"),
              col("last_purchase_ts"), col("last_purchase_value"))
      .orderBy(col("event_id"))
  }

  /** ASOF-FORWARD: the time-reversed twin of asofJoin — attach to every
    * click the NEXT purchase of the same user (at or after the click),
    * plus the wait in µs. Completes the as-of family (backward /
    * forward) without a range join or per-row probe.
    *
    * The frame is the REVERSED running frame, not a following frame:
    * Spark evaluates [currentRow, unboundedFollowing] by re-aggregating
    * the frame's remainder for EVERY row — O(rows²) per partition
    * (UnboundedFollowingWindowFunctionFrame has no running-accumulator
    * form). Measured on the 10×-per-user-density probe: 41 s vs the
    * backward twin's ~4 s, a clean quadratic signature. Sorting the
    * partition time-DESCENDING turns "first non-null at or after me"
    * into "last non-null at or before me in reverse order" — the same
    * O(rows) running `last` accumulator asofJoin uses, over the
    * identical row set ((ts, event_id) ≥ current), so results are
    * bit-equal. */
  def asofForward(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .withColumn("p_ts",
        when(col("event_type") === "purchase", col("ts")))
      .withColumn("p_value",
        when(col("event_type") === "purchase", col("value")))
      .withColumn("next_purchase_ts", last(col("p_ts"), true).over(w))
      .withColumn("next_purchase_value", last(col("p_value"), true).over(w))
      .filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("next_purchase_ts"), col("next_purchase_value"),
        (unix_micros(col("next_purchase_ts")) - unix_micros(col("ts")))
          .as("us_to_purchase"))
      .orderBy(col("event_id"))
  }

  /** ASOF with TOLERANCE: asofJoin's backward match, but a match older
    * than 1 hour is rejected (pandas merge_asof's `tolerance` — the
    * staleness bound a feature-store lookup enforces so a model never
    * trains on hours-old state). Same single per-user window pass; the
    * bound is a pure post-projection on the matched timestamp, so the
    * tolerant variant costs exactly the plain as-of plus one
    * comparison — never a range join. The µs arithmetic is integer,
    * and the is_stale flag keeps rejected matches auditable instead of
    * silently null. */
  def asofTolerance(spark: SparkSession, dir: String): DataFrame = {
    val tolUs = 3600L * 1000000L
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .withColumn("p_ts",
        when(col("event_type") === "purchase", col("ts")))
      .withColumn("p_value",
        when(col("event_type") === "purchase", col("value")))
      .withColumn("m_ts", last(col("p_ts"), true).over(w))
      .withColumn("m_value", last(col("p_value"), true).over(w))
      .filter(col("event_type") === "click")
      .withColumn("age_us",
        unix_micros(col("ts")) - unix_micros(col("m_ts")))
      .select(col("event_id"), col("user_id"), col("ts"),
        when(col("age_us") <= tolUs, col("m_ts")).as("purchase_ts"),
        when(col("age_us") <= tolUs, col("m_value")).as("purchase_value"),
        coalesce(col("age_us") > tolUs, lit(false)).as("is_stale"))
      .orderBy(col("event_id"))
  }

  /** Skew-resistant two-phase aggregation (salting): partial aggregate on
    * (key, salt), then final aggregate on key. With a hot key (one
    * event_type dominating), the salt spreads the partial agg across
    * 16 reducers instead of one; results are salt-independent, so the
    * oracle is the plain GROUP BY. */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("salt", pmod(hash(col("user_id")), lit(16)))
      .groupBy(col("event_type"), col("salt"))
      .agg(count(lit(1)).as("pn"), sum(col("value")).as("pv"))
      .groupBy(col("event_type"))
      .agg(sum(col("pn")).as("n_events"),
           round(sum(col("pv")), 4).as("sum_value"))
      .orderBy(col("event_type"))

  /** Skew-safe dimension join — the salted-JOIN twin of heavyHitters'
    * salted aggregation: enrich every event with its user's profile when
    * the join key is pathologically hot (this fixture's 15 user_ids at
    * ANY event volume — at 100 TB each key's rows exceed one executor's
    * memory, so an unsalted shuffle join stalls on 15 straggler tasks).
    *
    * Salting: the dimension side replicates ×S (explode over the salt
    * domain — dim rows are per-key aggregates, so ×S of a small relation),
    * the fact side computes salt = hash(event_id) mod S map-side; joining
    * on (user_id, salt) spreads each hot key over S reducer partitions.
    * The shuffle hint states the production premise honestly: a dimension
    * too big to broadcast (with a broadcastable dim you would broadcast
    * and salt nothing — q3/q5 demonstrate that path). Salting is pure
    * execution strategy: the result, and the oracle, are the plain join. */
  def skewJoin(spark: SparkSession, dir: String): DataFrame = {
    val s = 8
    val e = Tables.events(spark, dir)
    val dim = e.groupBy(col("user_id"))
      .agg(round(sum(col("value")), 4).as("user_total"),
           count(lit(1)).as("user_events"))
      .select(col("user_id"), col("user_total"), col("user_events"),
        explode(sequence(lit(0), lit(s - 1))).as("salt"))
    val fact = e.select(col("event_id"), col("user_id"),
                        col("event_type"), col("value"))
      .withColumn("salt", pmod(hash(col("event_id")), lit(s)))
    fact.join(dim.hint("merge"), Seq("user_id", "salt"))
      .select(col("event_id"), col("user_id"), col("event_type"),
              col("value"), col("user_total"), col("user_events"))
      .orderBy(col("event_id"))
  }

  /** Range (interval) join: ordered event pairs of the same user within a
    * 5-minute horizon. Spark-first scalable form: band-bucket the time
    * axis (bucket = ts div 300s), explode the probe side into its two
    * candidate buckets, hash-join on (user, bucket), then apply the exact
    * range predicate — turns an O(n²) theta join into an equi-join whose
    * cost is Σ bucket-pair sizes. The oracle states the same relation as
    * the naive non-equi join. */
  def rangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"),
              unix_micros(col("ts")).as("us"))
    val horizon = 300000000L // 5 min in µs
    val a = e.select(col("event_id").as("id_a"), col("user_id"),
                     col("us").as("us_a"),
        explode(array(expr(s"us div $horizon"),
                      expr(s"us div $horizon") + 1)).as("bucket"))
    val b = e.select(col("event_id").as("id_b"), col("user_id"),
                     col("us").as("us_b"),
        expr(s"us div $horizon").as("bucket"))
    // each build row owns exactly one bucket, so a pair matches through
    // exactly one of the probe's two candidate buckets — no dedup needed
    a.join(b, Seq("user_id", "bucket"))
      .filter(col("us_b") >= col("us_a") &&
              col("us_b") <= col("us_a") + horizon &&
              col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"), col("user_id"),
              (col("us_b") - col("us_a")).as("gap_us"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Unpivot (melt): the wide per-user pivot back to long form — the
    * reverse reshape, dropping the null cells the pivot introduced. */
  def unpivot(spark: SparkSession, dir: String): DataFrame =
    pivot(spark, dir)
      .unpivot(Array(col("user_id")),
               eventTypes.map(col).toArray, "event_type", "sum_value")
      .filter(col("sum_value").isNotNull)
      .orderBy(col("user_id"), col("event_type"))

  /** Cohort retention: users bucketed by first-seen date, activity
    * counted per (cohort, day offset) — the engagement matrix behind any
    * retention curve. Two shuffles: min-date per user (map-side
    * combinable), then the cohort join back (user-keyed, co-partitioned
    * with the first aggregate so AQE can reuse the exchange). */
  def retentionCohort(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.t(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("d"))
    val c = e.groupBy(col("user_id")).agg(min(col("d")).as("cohort"))
    e.join(c, "user_id")
      .groupBy(col("cohort"),
               datediff(col("d"), col("cohort")).cast("long").as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort"), col("day_offset"))
  }

  /** Ordered funnel (signup → view → click → purchase): per user the
    * first timestamp of each stage, a user advances only while each
    * stage's first touch is strictly after the previous stage's. One
    * user-keyed shuffle with conditional-min partial aggregation, then a
    * 4-row conditional count — the stage table never leaves the
    * executors until the final 4-row result. */
  def funnelStages(spark: SparkSession, dir: String): DataFrame = {
    def firstTs(t: String) =
      min(when(col("event_type") === t, col("ts"))).as(s"t_$t")
    val m = Tables.t(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg(firstTs("signup"), firstTs("view"), firstTs("click"),
           firstTs("purchase"))
    val s1 = col("t_signup").isNotNull
    val s2 = s1 && col("t_view") > col("t_signup")
    val s3 = s2 && col("t_click") > col("t_view")
    val s4 = s3 && col("t_purchase") > col("t_click")
    m.agg(count(when(s1, 1)).as("signup"), count(when(s2, 1)).as("view"),
          count(when(s3, 1)).as("click"), count(when(s4, 1)).as("purchase"))
      .select(expr(
        """stack(4, 1, 'signup', signup, 2, 'view', view,
          |         3, 'click', click, 4, 'purchase', purchase)
          |  AS (ord, stage, users)""".stripMargin))
      .orderBy(col("ord"))
      .select(col("stage"), col("users"))
  }

  /** Trailing-window anomaly detection: per event type, flag values more
    * than 2.5 sample standard deviations from the trailing-100 mean
    * (frame excludes the current row — a spike must not mask itself).
    * The monitoring shape over any metric stream: one shuffle on the
    * type key, O(frame) state per row, warm-up guard (≥ 30 trailing
    * rows) before the detector arms. Deterministic ordering via the
    * (ts, event_id) tie-break. */
  def zscoreAnomalies(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.t(spark, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"), col("ts"))
    zscoreChunked(e, Some(graft.Staged.key("zscore_stats", dir, "events")))
      .getOrElse(zscorePlain(e))
  }

  /** The direct formulation: one window partitioned by event type. Correct
    * at any scale, but its parallelism ceiling is |event types| — the
    * entire point of zscoreChunked. Kept as the semantics definition and
    * as the fallback when chunk statistics can't guarantee the chunked
    * rewrite is lossless. */
  private[graft] def zscorePlain(e: DataFrame): DataFrame = {
    val win = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-100, -1)
    e
      .withColumn("mu", avg(col("value")).over(win))
      .withColumn("sd", stddev_samp(col("value")).over(win))
      .withColumn("n", count(lit(1)).over(win))
      // threshold the ROUNDED z (repo determinism rule): engines
      // accumulate the frame in different orders, so an unrounded
      // |z| >= 2.5 could flip membership for boundary rows
      .withColumn("z",
        round((col("value") - col("mu")) / col("sd") + 1e-9, 4))
      .filter(col("n") >= 30 && col("sd") > 0 && abs(col("z")) >= 2.5)
      .select(col("event_id"), col("event_type"), col("value"), col("z"))
      .orderBy(col("event_id"))
  }

  /** Scale path for the trailing-rows window: chunk each type's stream
    * into day buckets and carry each bucket's LAST `frame` rows into its
    * successor as shadow rows, so every trailing frame is fully contained
    * in one (type, bucket) partition. Parallelism becomes |types × days|
    * instead of |types| — the plain form's single-reducer-per-type sort is
    * the one 100 TB wall left in the engine. Frame contents (and their
    * accumulation order) are identical to the plain window, so results
    * are bit-equal (EventsSpec pins this on fixtures where both paths
    * engage).
    *
    * Lossless only if no frame can span more than one bucket boundary —
    * i.e. every bucket that HAS a successor holds at least `frame` rows.
    * That is checked against the measured per-bucket counts (a tiny
    * aggregate — the same runtime-statistics gate as the adaptive CC
    * labeler); if any bucket is under-full the operator falls back to the
    * plain window (production would widen the chunk instead: size chunks
    * so min-rows-per-chunk ≥ frame). Returns None on fallback. */
  private[graft] def zscoreChunked(e: DataFrame,
      memoKey: Option[graft.Staged.Key] = None): Option[DataFrame] = {
    val frame = 100
    val spark = e.sparkSession
    val b = e.withColumn("bucket", date_trunc("DAY", col("ts")))
    // |types × days| rows — the chunk-occupancy statistics behind the
    // losslessness gate. Collected (they are broadcast to every carry-
    // join task anyway, so the driver holds them either way) and, for
    // the dir-backed operator, computed once per events content like
    // every learned banding parameter: the gate verdict and the carry
    // map are input invariants, but every invocation re-ran the full
    // events aggregate to re-derive them. Spec callers pass no key and
    // keep the uncached compute.
    def statRows(): Seq[org.apache.spark.sql.Row] = {
      val stats = b.groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("cnt"))
      val wb = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
      stats.withColumn("next_bucket", lead(col("bucket"), 1).over(wb))
        .collect().toSeq
    }
    val rows = memoKey match {
      case Some(k) => graft.Staged.value(k)(statRows())
      case None => statRows()
    }
    val underFull = rows.exists(r => !r.isNullAt(3) && r.getLong(2) < frame)
    if (underFull) return None
    val carryMap = spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(
        rows.filter(r => !r.isNullAt(3))).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("bucket",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("cnt",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("next_bucket",
          org.apache.spark.sql.types.TimestampType))))
      .select(col("event_type"), col("bucket"), col("next_bucket"))
    val wr = Window.partitionBy(col("event_type"), col("bucket"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val carry = b.withColumn("rn", row_number().over(wr))
      .filter(col("rn") <= frame).drop("rn")
      .join(broadcast(carryMap), Seq("event_type", "bucket"))
      .withColumn("bucket", col("next_bucket")).drop("next_bucket")
      .withColumn("is_carry", lit(true))
    val unioned = b.withColumn("is_carry", lit(false)).unionByName(carry)
    val w = Window.partitionBy(col("event_type"), col("bucket"))
      .orderBy(col("ts"), col("event_id")).rowsBetween(-frame, -1)
    Some(unioned
      .withColumn("mu", avg(col("value")).over(w))
      .withColumn("sd", stddev_samp(col("value")).over(w))
      .withColumn("n", count(lit(1)).over(w))
      .filter(!col("is_carry"))
      .withColumn("z",
        round((col("value") - col("mu")) / col("sd") + 1e-9, 4))
      .filter(col("n") >= 30 && col("sd") > 0 && abs(col("z")) >= 2.5)
      .select(col("event_id"), col("event_type"), col("value"), col("z"))
      .orderBy(col("event_id")))
  }

  /** Time-series resample: regularize the event stream to a fixed 6-hour
    * grid per user — aggregate to grid buckets, then densify each user's
    * [first, last] bucket range with gap rows (n_events = 0, sum_value
    * NULL). The regularization step before any trailing-window feature
    * (zscore, roll5) whose frame semantics assume an unbroken grid.
    *
    * One shuffle on (user, bucket) for the aggregate; the spine is a
    * per-user min/max roll-up exploded to Θ(time-range / granularity)
    * rows and joined back on the same (user, bucket) key. Bucketing is
    * computed map-side, so no key concentrates beyond one user's grid. */
  def resample(spark: SparkSession, dir: String): DataFrame = {
    val b = Tables.events(spark, dir)
      .groupBy(col("user_id"),
               window(col("ts"), "6 hours")("start").as("bucket"))
      .agg(count(lit(1)).as("n_events"),
           round(sum(col("value")), 4).as("sum_value"))
    val spine = b.groupBy(col("user_id"))
      .agg(min(col("bucket")).as("b0"), max(col("bucket")).as("b1"))
      .select(col("user_id"),
        explode(sequence(col("b0"), col("b1"), expr("interval 6 hours")))
          .as("bucket"))
    spine.join(b, Seq("user_id", "bucket"), "left")
      .select(col("user_id"), col("bucket"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        col("sum_value"))
      .orderBy(col("user_id"), col("bucket"))
  }

  /** SCD type-2 history: compress each user's event stream into validity
    * intervals — a new row only where the tracked attribute (event_type)
    * CHANGES, valid_from = change time, valid_to = next change (NULL =
    * current, flagged). The slowly-changing-dimension shape every
    * warehouse load needs; also the run-length encoding of a state
    * stream.
    *
    * Both windows share the (user, time) spec → one shuffle + one sort;
    * the change filter runs between them on the same partitioning, so
    * Catalyst plans a single exchange. */
  def scdHistory(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("event_type").as("state"),
        col("ts").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
      .orderBy(col("user_id"), col("valid_from"))
  }

  /** Time-RANGE window frame: per user, event count and value sum over
    * the trailing ONE HOUR of event time (frame bounds in TIME, not row
    * counts — rows frames answer "last 100 events", this answers "last
    * hour", a different and equally standard feature shape; peers with
    * the same timestamp enter the frame together, so the result is
    * deterministic without a row tie-break).
    *
    * The order key is epoch MICROSECONDS as a long: Spark's rangeBetween
    * needs a numeric key, and integer microseconds make the frame
    * boundary exact in both engines (a float seconds key would make
    * boundary membership an ulp question). One shuffle on user_id; frame
    * state is bounded by one user's events-per-hour. */
  def rangeFrame(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"))
      .rangeBetween(-3600L * 1000000L, 0L)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("n_1h", count(lit(1)).over(w))
      // +1e-9: deterministic decimal-tie break, see Relational.q1Agg
      .withColumn("sum_1h", round(sum(col("value")).over(w) + 1e-9, 4))
      .select(col("event_id"), col("user_id"), col("n_1h"), col("sum_1h"))
      .orderBy(col("event_id"))
  }

  /** Robust (median/MAD) outlier flagging per event type — the
    * heavy-tail-safe complement to events_zscore: a handful of extreme
    * events can't drag the center or inflate the spread, because both
    * statistics are order statistics. rscore = (value − median) /
    * (1.4826·MAD), flagged at |rscore| ≥ 3 on the ROUNDED score (repo
    * determinism rule for derived-float thresholds).
    *
    * Shape: two grouped exact-percentile aggregations (median of value,
    * then median of |value − med|) joined back broadcast — group
    * cardinality is |event types|, so both joins are trivially
    * broadcast-able. Exact percentile buffers each group's values in its
    * reducer; at 100 TB the drop-in swap is approx_percentile (a
    * mergeable t-digest-style sketch, map-side combinable) — exact stays
    * here because the oracle can check it bit-for-bit. */
  def madOutliers(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.t(spark, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    // both median stages ride the bounded-memory grouped exact quantile
    // dataflow (Relational.groupedQuantiles) — percentile() held each
    // type's Θ(distinct values) buffer whole in one task
    // the per-type (median, MAD) pairs are a |types|-row MODEL PARAMETER
    // (the psiEdges doctrine), computed once per events content:
    // the r13 form collected the medians once per call but left the MAD
    // stage lazy, so every invocation still ran the deviations quantile
    // pass (a full events pass) to re-learn the same |types| doubles —
    // the scoring query below needs only the published literals.
    val madRows = graft.Staged.value(
      graft.Staged.key("mad_model", dir, "events")) {
        val nEvents = Tables.footerCount(spark, dir, "events") // footer-only
        import spark.implicits._
        val med = Relational.exactQuantiles(e, "event_type", "value",
            Seq(("med", 0.5)), nEvents)
          .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
          .toDF("event_type", "med")
        Relational.exactQuantiles(
            e.join(broadcast(med), Seq("event_type"))
              .select(col("event_type"), abs(col("value") - col("med"))
                .as("absdev")),
            "event_type", "absdev", Seq(("mad", 0.5)), nEvents)
          .join(broadcast(med), Seq("event_type"))
          .collect()
          .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSeq
      }
    val mad = {
      import spark.implicits._
      madRows.toDF("event_type", "mad", "med")
    }
    e.join(broadcast(mad), Seq("event_type"))
      .withColumn("rscore",
        round((col("value") - col("med")) / (col("mad") * 1.4826) + 1e-9, 4))
      .filter(col("mad") > 0 && abs(col("rscore")) >= 3.0)
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("med") + 1e-9, 4).as("med"),
        round(col("mad") + 1e-9, 4).as("mad"),
        col("rscore"))
      .orderBy(col("event_id"))
  }

  /** Trailing-5-row discrete median of value per user — the robust
    * rolling center a monitoring pipeline layers over the rolling mean
    * (one whale event can't drag it). Median choice is DISCRETE (the
    * lower-middle element, sorted index (n−1)/2): an actual data value,
    * so cross-engine parity is exact — no interpolation arithmetic whose
    * accumulation order could differ. The frame is materialized with
    * collect_list over the 5-row window: bounded O(5) state per row,
    * same single (user) shuffle + sort as every other per-user window. */
  def rollingMedian(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id")).rowsBetween(-4, 0)
    Tables.events(spark, dir)
      .withColumn("frame", collect_list(col("value")).over(w))
      .select(col("event_id"), col("user_id"),
        // lower-middle element of the sorted frame = DuckDB quantile_disc
        expr("element_at(array_sort(frame), " +
             "CAST((size(frame) - 1) / 2 AS INT) + 1)").as("med5"))
      .orderBy(col("event_id"))
  }

  /** Trailing exponentially-weighted moving average (α = 0.3) of value
    * per user — the classic time-decayed feature a monitoring/feature
    * pipeline layers beside the rolling mean and median (recent events
    * dominate, old ones decay geometrically). The textbook recurrence
    * acc ← α·x + (1−α)·acc is folded LEFT over a trailing 50-row frame
    * (collect_list preserves frame order), seeded with the frame's
    * oldest element — at 50 terms the truncated tail weighs (1−α)^49 ≈
    * 3e-8, and because both engines fold the SAME ≤50 doubles in the
    * SAME order with the same IEEE mul/add, cross-engine parity is
    * exact, not approximate (DuckDB's list_reduce seeds with the first
    * element too). Bounded O(50) state per row, one (user) shuffle +
    * sort — the rolling_median stance; an unbounded running EWMA would
    * instead be the streaming twin's mapGroupsWithState shape. */
  def ewma(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id")).rowsBetween(-49, 0)
    Tables.events(spark, dir)
      .withColumn("frame", collect_list(col("value")).over(w))
      .select(col("event_id"), col("user_id"),
        round(expr("aggregate(slice(frame, 2, size(frame) - 1), frame[0], " +
          "(acc, x) -> 0.3D * x + 0.7D * acc)") + 1e-9, 4).as("ewma50"))
      .orderBy(col("event_id"))
  }

  /** Exact trailing-window distinct users — DAU plus 7-day rolling
    * distinct (WAU) per day. A rolling DISTINCT has no window-function
    * form (distinct state doesn't merge like sums), and the naive shape
    * — a grid⋈events range join — is a nested-loop at scale. Instead
    * each (user, day) incidence EXPLODES map-side into the ≤ 7 grid
    * days it covers (sequence + explode, a pure projection): total work
    * is Θ(incidences·7) with no join before the one (day, user)
    * aggregate, whose two-phase distinct Spark plans with map-side
    * partials. The trailing grid days an explosion invents past the
    * last active day are trimmed by a broadcast semi-join against the
    * |days| grid (calendar-bounded, always broadcastable). */
  def rollingDistinct(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d0")).distinct()
    val grid = ud.select(col("d0").as("day")).distinct()
    ud.select(col("user_id"), col("d0"),
        explode(expr("sequence(d0, date_add(d0, 6))")).as("day"))
      .join(broadcast(grid), Seq("day"), "left_semi")
      .groupBy(col("day"))
      .agg(
        countDistinct(when(col("d0") === col("day"), col("user_id")))
          .as("dau"),
        countDistinct(col("user_id")).as("wau7"))
      .orderBy(col("day"))
  }

  /** Closed-form OLS trend per event type — slope/intercept/R² of the
    * daily event count against the day index, the drift detector a
    * metrics pipeline fits per series. The regression runs on the
    * NORMAL-EQUATION SUMS (Σx, Σy, Σxy, Σx², Σy²), which are all
    * INTEGERS here (day indices × counts) — integer sums are
    * order-independent across any partitioning, so both engines divide
    * the same two exact integers and parity holds to the 6dp rounding
    * with no floating accumulation anywhere. Two map-side-combinable
    * aggregates (days, then sums); the only broadcast is the 1-row
    * global min day. Days with zero events don't enter the fit (the
    * daily relation has no row to count) — stated so the oracle
    * matches. Large products (the R² numerator square) are cast to
    * double BEFORE squaring in both engines: the square of a ~1e12
    * integer overflows BIGINT but is exact in double only as written,
    * identically, on both sides. */
  def trendFit(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("d"))
    val m = e.agg(min(col("d")).as("d0"))
    val daily = e.crossJoin(broadcast(m))
      .groupBy(col("event_type"), datediff(col("d"), col("d0")).as("x"))
      .agg(count(lit(1)).as("y"))
    daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("event_type"), col("n_days"),
        // a 1-day series has n·Σx²−(Σx)² = 0: the fit is undefined, so
        // both engines emit NULL rather than relying on 0/0 semantics
        when(col("n_days") > 1,
          round((col("n_days") * col("sxy") - col("sx") * col("sy"))
                  .cast("double") /
                (col("n_days") * col("sxx") - col("sx") * col("sx"))
                  .cast("double") + 1e-9, 6)).as("slope"),
        when(col("n_days") > 1,
          round((col("sy") * col("sxx") - col("sx") * col("sxy"))
                  .cast("double") /
                (col("n_days") * col("sxx") - col("sx") * col("sx"))
                  .cast("double") + 1e-9, 6)).as("intercept"),
        when(col("n_days") > 1,
          round(pow((col("n_days") * col("sxy") - col("sx") * col("sy"))
                      .cast("double"), 2) /
                ((col("n_days") * col("sxx") - col("sx") * col("sx"))
                   .cast("double") *
                 (col("n_days") * col("syy") - col("sy") * col("sy"))
                   .cast("double")) + 1e-9, 6)).as("r2"))
      .orderBy(col("event_type"))
  }

  /** Top-25 3-step user journeys — the sequential patterns (ordered
    * event-type trigrams) users actually walk, the product-analytics
    * cousin of n-gram mining. Sequences are scoped to (user, day) so a
    * window partition is session-bounded, never one user's full
    * history: lead(1)/lead(2) inside the partition build each
    * overlapping step triple as a pure window projection (no per-user
    * array collect — a whale user's history never materializes in one
    * task's memory beyond the day slice). One partial-aggregatable
    * count per distinct triple, then top-k via TakeOrderedAndProject.
    * Count ties at the cutoff break on the path names so the top-25
    * membership is deterministic across engines. */
  def journeyPaths(spark: SparkSession, dir: String): DataFrame = {
    val w = Window
      .partitionBy(col("user_id"), to_date(col("ts")))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("step2", lead(col("event_type"), 1).over(w))
      .withColumn("step3", lead(col("event_type"), 2).over(w))
      .filter(col("step2").isNotNull && col("step3").isNotNull)
      .groupBy(col("event_type").as("step1"), col("step2"), col("step3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("step1"), col("step2"), col("step3"))
      .limit(25)
  }

  /** Daily active / new / cumulative distinct users — the canonical
    * growth-accounting rollup. Exact cumulative distincts WITHOUT a
    * giant running-distinct state: each user collapses to one
    * first-seen day (groupBy user), days aggregate those firsts, and
    * the running sum over the |days| row aggregate equals the distinct
    * count of everything seen so far. The unpartitioned cumsum window
    * touches only |days| rows (bounded by calendar time, not corpus
    * size), so the single-task window is fine at any scale. */
  def cumulativeUsers(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val newU = e.groupBy(col("user_id")).agg(min(col("day")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("new_users"))
    val active = e.groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("active_users"))
    // a user's first day is an active day, so the left join loses nothing
    active.join(newU, Seq("day"), "left")
      .withColumn("new_users", coalesce(col("new_users"), lit(0L)))
      .withColumn("cum_users",
        sum(col("new_users")).over(Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("day"), col("active_users"), col("new_users"),
              col("cum_users"))
      .orderBy(col("day"))
  }

  /** First-order event-type transition matrix per user stream (the
    * Markov-chain view of user behavior): count of each (from → to)
    * adjacent pair, plus the row-normalized transition probability.
    * One per-user window pass for the lead, one bounded groupBy
    * (|types|² keys, map-side combinable); the normalizing sum is a
    * window over the aggregated matrix, never the event stream. */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", round(
        col("n") / sum(col("n")).over(Window.partitionBy(col("from_type")))
          + 1e-9, 6))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Last-touch attribution: for every purchase, the most recent
    * preceding click in the same user's stream — last click time, lag to
    * purchase, and how many clicks came before. One conditional window
    * pass (CASE inside MAX/COUNT over an unbounded-preceding frame), one
    * user shuffle; all outputs are timestamps/integers, so cross-engine
    * parity is exact. Purchases with no prior click keep NULLs (direct
    * conversions — the row a marketing report must not drop). */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(spark, dir)
      .withColumn("last_click_ts",
        max(when(col("event_type") === "click", col("ts"))).over(w))
      .withColumn("clicks_before",
        count(when(col("event_type") === "click", lit(1))).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts").as("purchase_ts"),
        col("last_click_ts"),
        (unix_micros(col("ts")) - unix_micros(col("last_click_ts")))
          .as("us_since_click"),
        col("clicks_before"))
      .orderBy(col("event_id"))
  }

  /** Daily engagement rollup over sessionize's output: sessions started,
    * bounce rate (single-event sessions), mean events per session, mean
    * session seconds. Stacks the gap-sessionization pass (one user
    * shuffle) with one bounded |days| aggregate — the report an
    * engagement dashboard refreshes nightly. */
  def sessionStats(spark: SparkSession, dir: String): DataFrame =
    sessionize(spark, dir)
      .groupBy(to_date(col("session_start")).as("day"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounce"),
        round(avg(col("n_events")) + 1e-9, 4).as("avg_events"),
        round(avg(unix_micros(col("session_end"))
          - unix_micros(col("session_start"))) / 1e6 + 1e-9, 4)
          .as("avg_session_sec"))
      .withColumn("bounce_rate",
        round(col("n_bounce") / col("n_sessions") + 1e-9, 4))
      .orderBy(col("day"))

  /** Inter-arrival latency profile per event type: p50/p90/p99 of the
    * µs gaps between a user's consecutive events of that type. Deltas
    * are one lag-window pass (integer µs — exact); the percentiles are
    * exact interpolating quantiles per |types| group (quantile_cont
    * convention, like mad_outlier; at 100 TB the documented swap is
    * approx_percentile — same mergeable-sketch note applies). */
  def interarrival(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    // per-type tail quantiles via the bounded-memory grouped exact
    // quantile dataflow (Relational.groupedQuantiles — the percentile()
    // form held each type's Θ(distinct deltas) buffer in one task)
    val deltas = Tables.events(spark, dir)
      .withColumn("delta_us",
        unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
      .filter(col("delta_us").isNotNull)
      .select(col("event_type"), col("delta_us"))
    val counts = deltas.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"))
    val nEvents = Tables.footerCount(spark, dir, "events") // footer-only
    val qs = Relational.exactQuantiles(deltas, "event_type", "delta_us",
      Seq(("q50", 0.5), ("q90", 0.9), ("q99", 0.99)), nEvents)
    counts.join(qs, Seq("event_type"))
      .select(col("event_type"), col("n_gaps"),
        round(col("q50") + 1e-9, 2).as("p50_us"),
        round(col("q90") + 1e-9, 2).as("p90_us"),
        round(col("q99") + 1e-9, 2).as("p99_us"))
      .orderBy(col("event_type"))
  }

  /** Telemetry coverage-gap report: the hour cells with ZERO events
    * inside each event type's observed [first, last] hour range — the
    * monitoring complement of resample (which fills gaps; this one
    * reports them). Per-type min/max collapse map-side; the hour spine
    * explodes from |types| aggregate rows (Θ(range/hour) cells, not
    * Θ(events)); observed hours pre-aggregate before the anti join. */
  def gapDetect(spark: SparkSession, dir: String): DataFrame = {
    val hours = Tables.events(spark, dir)
      .select(col("event_type"),
        date_trunc("hour", col("ts")).as("hour"))
    val observed = hours.groupBy(col("event_type"), col("hour"))
      .agg(count(lit(1)).as("n"))
    val spine = observed.groupBy(col("event_type"))
      .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"),
          expr("INTERVAL 1 HOUR"))).as("hour"))
    spine.join(observed, Seq("event_type", "hour"), "left_anti")
      .orderBy(col("event_type"), col("hour"))
  }

  /** Lag-1 autocorrelation of the daily event-count series per type —
    * the "is today predicted by yesterday" seasonality smoke test. The
    * series aggregates map-side to |types|·|days| rows; the lag and the
    * corr aggregate run over that bounded panel (corr's moment sketches
    * are the stats_agg precedent for cross-engine parity). */
  /** Holt linear-trend forecast per event type — the FORECASTING member
    * that completes the series-diagnostics family (trend_fit fits a
    * global OLS line, autocorr measures persistence, seasonalDow
    * decomposes weekday structure; this projects the next week's
    * volume, the capacity-planning number an event pipeline actually
    * wants). Textbook double exponential smoothing, α = 0.3 / β = 0.1,
    * initialized l₁ = y₁, b₁ = y₂ − y₁, folded left over the ordered
    * daily series; forecasts ŷ(h) = l + h·b for h ∈ {1, 3, 7}.
    *
    * Determinism (the events_ewma doctrine): the recurrence is an
    * array-local fold over the per-type collected daily series — both
    * engines fold the SAME doubles in the SAME IEEE order with the
    * SAME expression shapes (the b-update restates the l-update inline
    * rather than referencing it, so the float op sequence is identical
    * text in both), and outputs round at 4 dp.
    *
    * Scale: the state is Θ(|types|) structs; the fold cost is the daily
    * series length — days grow with calendar time, not corpus size, so
    * the per-type array is bounded by the data's time span (a decades-
    * long span is ~10⁴ doubles — still array-local). One shuffle onto
    * (type, day), one onto type. */
  def forecastHolt(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("double").as("y"))
    val ser = daily.groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("day"), col("y")))).as("s"))
      .filter(size(col("s")) >= 2)
    def yAt(i: Int) = element_at(col("s"), i)("y")
    val init = struct(yAt(1).as("l"), (yAt(2) - yAt(1)).as("b"))
    val rest = slice(col("s"), lit(3), greatest(size(col("s")) - 2, lit(0)))
    val folded = aggregate(rest, init, (acc, e) => {
      val l = acc("l"); val b = acc("b"); val y = e("y")
      struct(
        (lit(0.3) * y + lit(0.7) * (l + b)).as("l"),
        (lit(0.1) * ((lit(0.3) * y + lit(0.7) * (l + b)) - l)
          + lit(0.9) * b).as("b"))
    })
    ser.withColumn("st", folded)
      .select(col("event_type"), size(col("s")).cast("long").as("n_days"),
        round(col("st")("l") + 1e-9, 4).as("level"),
        round(col("st")("b") + 1e-9, 4).as("trend"),
        round(col("st")("l") + lit(1) * col("st")("b") + 1e-9, 4)
          .as("forecast_1"),
        round(col("st")("l") + lit(3) * col("st")("b") + 1e-9, 4)
          .as("forecast_3"),
        round(col("st")("l") + lit(7) * col("st")("b") + 1e-9, 4)
          .as("forecast_7"))
      .orderBy(col("event_type"))
  }

  def autocorr(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    daily
      .withColumn("prev_n", lag(col("n"), 1).over(w))
      .filter(col("prev_n").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        round(corr(col("n"), col("prev_n")) + 1e-9, 6).as("lag1_corr"))
      .orderBy(col("event_type"))
  }

  /** Hour-of-day × day-of-week activity heatmap with per-cell share —
    * the seasonality profile behind capacity planning. Cell keys are
    * map-side expressions (Spark's Sunday=1 dayofweek shifted to the
    * 0-based convention), so the shuffle carries ≤ 7·24 groups; the
    * share denominator windows over the aggregate. */
  def heatmap(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .groupBy((dayofweek(col("ts")) - 1).cast("long").as("dow"),
               hour(col("ts")).cast("long").as("hod"))
      .agg(count(lit(1)).as("n"))
    cells
      .withColumn("share",
        round(col("n") / sum(col("n")).over(Window.partitionBy()) + 1e-9, 6))
      .orderBy(col("dow"), col("hod"))
  }

  /** Weekday seasonal decomposition of the per-type value series: each
    * (event_type, day-of-week) cell's mean against the type's overall
    * mean, plus a variance-explained seasonality strength
    * (1 − within-dow variance / total variance — the ANOVA identity,
    * computed from the same moment sums). One map-side-combinable
    * aggregate to ≤ |types|·7 cells carries n/Σ/Σ² — every later
    * quantity (means, seasonal offsets, both variances) derives from
    * those moments, so the pass count is ONE regardless of corpus size,
    * and the type-level totals are a ≤|types|-row broadcast back onto
    * the cells. Presentation floats follow the round(+1e-9) doctrine
    * (stats_agg/autocorr precedent for moment-sum parity). */
  def seasonalDow(spark: SparkSession, dir: String): DataFrame =
    seasonalFromCells(seasonalCells(Tables.events(spark, dir)))

  /** The moment-cell aggregate (SHARED with the streaming twin — twins
    * that recompute signals independently drift): one map-side-
    * combinable pass to ≤ |types|·7 cells carrying n/Σ/Σ². Works
    * unchanged on a streaming DataFrame in complete mode — the cells
    * ARE the bounded state. */
  private[graft] def seasonalCells(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"),
               (dayofweek(col("ts")) - 1).cast("long").as("dow"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("s"),
           sum(col("value") * col("value")).as("ss"))

  /** Derivation tail over the cell relation (shared, see above). */
  private[graft] def seasonalFromCells(cell: DataFrame): DataFrame = {
    val tot = cell.groupBy(col("event_type").as("t_type"))
      .agg(sum(col("n")).as("nn"), sum(col("s")).as("stot"),
           sum(col("ss")).as("sstot"),
           sum(col("ss") - col("s") * col("s") / col("n")).as("resid_ss"))
      .select(col("t_type"), (col("stot") / col("nn")).as("om"),
        ((col("sstot") - col("stot") * col("stot") / col("nn"))
          - col("resid_ss")).as("explained_ss"),
        (col("sstot") - col("stot") * col("stot") / col("nn"))
          .as("total_ss"))
    cell.join(broadcast(tot), col("event_type") === col("t_type"))
      .select(col("event_type"), col("dow"), col("n"),
        round(col("s") / col("n") + 1e-9, 4).as("dow_mean"),
        round(col("s") / col("n") - col("om") + 1e-9, 4).as("seasonal"),
        // a type whose values are all identical has total_ss = 0; the
        // unguarded 0/0 would emit NaN here while the oracle's
        // divide-by-zero behaves differently — report 0 by convention
        // (the clusterAri `ari` doctrine), mirrored in the oracle
        when(col("total_ss") === 0, lit(0.0))
          .otherwise(round(col("explained_ss") / col("total_ss") + 1e-9, 6))
          .as("strength"))
      .orderBy(col("event_type"), col("dow"))
  }

  /** The native two-table as-of join (graft.plans.AsOfJoinExec — custom
    * LogicalPlan + Strategy + SparkPlan) on the clicks⋈purchases shape:
    * each click takes the most recent purchase at-or-before it. Differs
    * from asofJoin's single-table window form ONLY in tie semantics —
    * this is the pure-time trades⋈quotes as-of (a purchase at the
    * click's exact instant matches regardless of event_id order; the
    * window form only sees rows earlier in (ts, id) order), and in
    * dataflow: two key-clustered exchanges feeding one O(n) forward
    * merge with O(1) state, no union, no nullable-baggage columns. */
  def asofNative(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    graft.plans.AsOf.join(clicks, purchases)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("asof_ts").as("last_purchase_ts"),
        col("asof_value").as("last_purchase_value"))
      .orderBy(col("event_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "asof_native"       -> (asofNative _),
    "events_seasonal"   -> (seasonalDow _),
    "events_autocorr"   -> (autocorr _),
    "events_forecast"   -> (forecastHolt _),
    "events_heatmap"    -> (heatmap _),
    "gap_detect"        -> (gapDetect _),
    "session_stats"     -> (sessionStats _),
    "interarrival"      -> (interarrival _),
    "asof_forward"      -> (asofForward _),
    "attribution"       -> (attribution _),
    "rolling_median"    -> (rollingMedian _),
    "events_ewma"       -> (ewma _),
    "cumulative_users"  -> (cumulativeUsers _),
    "event_transitions" -> (eventTransitions _),
    "mad_outlier"      -> (madOutliers _),
    "rolling_distinct" -> (rollingDistinct _),
    "journey_paths"    -> (journeyPaths _),
    "trend_fit"        -> (trendFit _),
    "asof_tolerance"   -> (asofTolerance _),
    "events_range_frame" -> (rangeFrame _),
    "scd2_history"     -> (scdHistory _),
    "events_resample"  -> (resample _),
    "events_zscore"    -> (zscoreAnomalies _),
    "events_retention" -> (retentionCohort _),
    "events_funnel"   -> (funnelStages _),
    "events_unpivot"  -> (unpivot _),
    "range_join"      -> (rangeJoin _),
    "events_tumbling" -> (tumbling _),
    "events_sliding"  -> (sliding _),
    "events_session"  -> (sessionize _),
    "events_json"     -> (jsonExtract _),
    "events_pivot"    -> (pivot _),
    "asof_join"       -> (asofJoin _),
    "skew_join"       -> (skewJoin _),
    "events_heavy"    -> (heavyHitters _))

  // All oracles truncate ns→µs up front (ts::TIMESTAMP floors, matching
  // Spark's `ts div 1000`) and use the truncated value throughout.
  val oracle: Map[String, String] = Map(
    "asof_native" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, value,
        |         ts::TIMESTAMP AS ts_us
        |  FROM events),
        |c AS (
        |  SELECT event_id, user_id, ts_us FROM e
        |  WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, ts_us, event_id AS p_id, value FROM e
        |  WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT c.event_id, c.user_id, c.ts_us,
        |         p.ts_us AS p_ts, p.value AS p_value,
        |         ROW_NUMBER() OVER (PARTITION BY c.event_id
        |           ORDER BY p.ts_us DESC, p.p_id DESC) AS rn
        |  FROM c LEFT JOIN p
        |    ON c.user_id = p.user_id AND p.ts_us <= c.ts_us)
        |SELECT event_id, user_id, ts_us AS ts,
        |       p_ts AS last_purchase_ts, p_value AS last_purchase_value
        |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "events_seasonal" ->
      """WITH cell AS (
        |  SELECT event_type,
        |         CAST(dayofweek(ts::TIMESTAMP) AS BIGINT) AS dow,
        |         COUNT(*) AS n, SUM(value) AS s, SUM(value*value) AS ss
        |  FROM events GROUP BY 1, 2),
        |tot AS (
        |  SELECT event_type,
        |         SUM(n) AS nn, SUM(s) AS stot, SUM(ss) AS sstot,
        |         SUM(ss - s*s/n) AS resid_ss
        |  FROM cell GROUP BY 1)
        |SELECT c.event_type, c.dow, c.n,
        |  ROUND(c.s/c.n + 1e-9, 4) AS dow_mean,
        |  ROUND(c.s/c.n - t.stot/t.nn + 1e-9, 4) AS seasonal,
        |  CASE WHEN t.sstot - t.stot*t.stot/t.nn = 0 THEN 0.0
        |       ELSE ROUND(((t.sstot - t.stot*t.stot/t.nn) - t.resid_ss)
        |            / (t.sstot - t.stot*t.stot/t.nn) + 1e-9, 6)
        |  END AS strength
        |FROM cell c JOIN tot t USING (event_type)
        |ORDER BY 1, 2""".stripMargin,
    "events_forecast" ->
      """WITH daily AS (
        |  SELECT event_type, (ts::TIMESTAMP)::DATE AS day,
        |         CAST(COUNT(*) AS DOUBLE) AS y
        |  FROM events GROUP BY 1, 2),
        |ser AS (
        |  SELECT event_type, list(y ORDER BY day) AS s
        |  FROM daily GROUP BY 1 HAVING COUNT(*) >= 2),
        |st AS (
        |  SELECT event_type, len(s)::BIGINT AS n_days,
        |    list_reduce(
        |      list_concat([[s[1], s[2] - s[1]]],
        |        list_transform(s[3:], y -> [y, CAST(0 AS DOUBLE)])),
        |      (acc, x) -> [
        |        0.3 * x[1] + 0.7 * (acc[1] + acc[2]),
        |        0.1 * ((0.3 * x[1] + 0.7 * (acc[1] + acc[2])) - acc[1])
        |          + 0.9 * acc[2]]) AS f
        |  FROM ser)
        |SELECT event_type, n_days,
        |  ROUND(f[1] + 1e-9, 4) AS level,
        |  ROUND(f[2] + 1e-9, 4) AS trend,
        |  ROUND(f[1] + 1 * f[2] + 1e-9, 4) AS forecast_1,
        |  ROUND(f[1] + 3 * f[2] + 1e-9, 4) AS forecast_3,
        |  ROUND(f[1] + 7 * f[2] + 1e-9, 4) AS forecast_7
        |FROM st ORDER BY event_type""".stripMargin,
    "events_autocorr" ->
      """WITH daily AS (
        |  SELECT event_type, (ts::TIMESTAMP)::DATE AS day,
        |         COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |l AS (
        |  SELECT event_type, n,
        |    LAG(n) OVER (PARTITION BY event_type ORDER BY day) AS prev_n
        |  FROM daily)
        |SELECT event_type, COUNT(*) AS n_days,
        |  ROUND(corr(n, prev_n) + 1e-9, 6) AS lag1_corr
        |FROM l WHERE prev_n IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "events_heatmap" ->
      """WITH c AS (
        |  SELECT CAST(dayofweek(ts::TIMESTAMP) AS BIGINT) AS dow,
        |         CAST(hour(ts::TIMESTAMP) AS BIGINT) AS hod,
        |         COUNT(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT dow, hod, n,
        |  ROUND(n / SUM(n) OVER () + 1e-9, 6) AS share
        |FROM c ORDER BY dow, hod""".stripMargin,
    "gap_detect" ->
      """WITH h AS (
        |  SELECT event_type, date_trunc('hour', ts::TIMESTAMP) AS hour
        |  FROM events),
        |obs AS (SELECT DISTINCT event_type, hour FROM h),
        |m AS (
        |  SELECT event_type, MIN(hour) AS h0, MAX(hour) AS h1
        |  FROM obs GROUP BY 1),
        |spine AS (
        |  SELECT event_type,
        |    unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
        |  FROM m)
        |SELECT s.event_type, s.hour
        |FROM spine s LEFT JOIN obs o
        |  ON s.event_type = o.event_type AND s.hour = o.hour
        |WHERE o.hour IS NULL
        |ORDER BY s.event_type, s.hour""".stripMargin,
    "session_stats" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts::TIMESTAMP AS ts_us FROM events),
        |l AS (
        |  SELECT *, LAG(ts_us) OVER (
        |    PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_ts
        |  FROM e),
        |f AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL
        |                   OR epoch_us(ts_us) - epoch_us(prev_ts) > 1800000000
        |            THEN 1 ELSE 0 END AS is_new
        |  FROM l),
        |s AS (
        |  SELECT *, CAST(SUM(is_new) OVER (
        |    PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM f),
        |sess AS (
        |  SELECT user_id, session_id,
        |         MIN(ts_us) AS session_start, MAX(ts_us) AS session_end,
        |         COUNT(*) AS n_events
        |  FROM s GROUP BY 1, 2)
        |SELECT session_start::DATE AS day,
        |  COUNT(*) AS n_sessions,
        |  CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_bounce,
        |  ROUND(AVG(n_events) + 1e-9, 4) AS avg_events,
        |  ROUND(AVG(epoch_us(session_end) - epoch_us(session_start)) / 1e6
        |        + 1e-9, 4) AS avg_session_sec,
        |  ROUND(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
        |        / COUNT(*)::DOUBLE + 1e-9, 4) AS bounce_rate
        |FROM sess GROUP BY 1 ORDER BY 1""".stripMargin,
    "interarrival" ->
      """WITH d AS (
        |  SELECT event_type,
        |    epoch_us(ts::TIMESTAMP) - epoch_us(LAG(ts::TIMESTAMP) OVER (
        |      PARTITION BY user_id, event_type
        |      ORDER BY ts::TIMESTAMP, event_id)) AS delta_us
        |  FROM events)
        |SELECT event_type, COUNT(*) AS n_gaps,
        |  ROUND(quantile_cont(delta_us, 0.5) + 1e-9, 2) AS p50_us,
        |  ROUND(quantile_cont(delta_us, 0.9) + 1e-9, 2) AS p90_us,
        |  ROUND(quantile_cont(delta_us, 0.99) + 1e-9, 2) AS p99_us
        |FROM d WHERE delta_us IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "asof_forward" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, value, ts::TIMESTAMP AS ts
        |  FROM events),
        |w AS (
        |  SELECT event_id, user_id, event_type, ts,
        |    FIRST_VALUE(CASE WHEN event_type = 'purchase' THEN ts END
        |                IGNORE NULLS) OVER win AS next_purchase_ts,
        |    FIRST_VALUE(CASE WHEN event_type = 'purchase' THEN value END
        |                IGNORE NULLS) OVER win AS next_purchase_value
        |  FROM e
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN CURRENT ROW
        |                          AND UNBOUNDED FOLLOWING))
        |SELECT event_id, user_id, ts, next_purchase_ts,
        |  next_purchase_value,
        |  epoch_us(next_purchase_ts) - epoch_us(ts) AS us_to_purchase
        |FROM w WHERE event_type = 'click'
        |ORDER BY event_id""".stripMargin,
    "attribution" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, ts::TIMESTAMP AS ts
        |  FROM events),
        |w AS (
        |  SELECT event_id, user_id, event_type, ts,
        |    MAX(CASE WHEN event_type = 'click' THEN ts END) OVER win
        |      AS last_click_ts,
        |    CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) OVER win
        |      AS BIGINT) AS clicks_before
        |  FROM e
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING
        |                          AND 1 PRECEDING))
        |SELECT event_id, user_id, ts AS purchase_ts, last_click_ts,
        |  epoch_us(ts) - epoch_us(last_click_ts) AS us_since_click,
        |  clicks_before
        |FROM w WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,
    "rolling_median" ->
      """SELECT event_id, user_id,
        |  quantile_disc(value, 0.5) OVER (
        |    PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id
        |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS med5
        |FROM events ORDER BY event_id""".stripMargin,
    "events_ewma" ->
      """WITH f AS (
        |  SELECT event_id, user_id,
        |    list(value) OVER (
        |      PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id
        |      ROWS BETWEEN 49 PRECEDING AND CURRENT ROW) AS frame
        |  FROM events)
        |SELECT event_id, user_id,
        |  ROUND(list_reduce(frame, (acc, x) ->
        |    CAST(0.3 AS DOUBLE) * x + CAST(0.7 AS DOUBLE) * acc)
        |    + 1e-9, 4) AS ewma50
        |FROM f ORDER BY event_id""".stripMargin,
    "cumulative_users" ->
      """WITH e AS (
        |  SELECT user_id, (ts::TIMESTAMP)::DATE AS day FROM events),
        |fs AS (SELECT user_id, MIN(day) AS day FROM e GROUP BY 1),
        |nu AS (SELECT day, COUNT(*) AS new_users FROM fs GROUP BY 1),
        |ac AS (SELECT day, COUNT(DISTINCT user_id) AS active_users
        |       FROM e GROUP BY 1)
        |SELECT ac.day, ac.active_users,
        |  COALESCE(nu.new_users, 0) AS new_users,
        |  CAST(SUM(COALESCE(nu.new_users, 0)) OVER (
        |    ORDER BY ac.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_users
        |FROM ac LEFT JOIN nu USING (day) ORDER BY day""".stripMargin,
    "event_transitions" ->
      """WITH p AS (
        |  SELECT event_type AS from_type,
        |    LEAD(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts::TIMESTAMP, event_id) AS to_type
        |  FROM events),
        |m AS (
        |  SELECT from_type, to_type, COUNT(*) AS n FROM p
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  ROUND(n / SUM(n) OVER (PARTITION BY from_type)::DOUBLE + 1e-9, 6)
        |    AS p
        |FROM m ORDER BY from_type, to_type""".stripMargin,
    "rolling_distinct" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, (ts::TIMESTAMP)::DATE AS d0
        |  FROM events),
        |grid AS (SELECT DISTINCT d0 AS day FROM ud),
        |w AS (
        |  SELECT g.day, u.user_id, u.d0
        |  FROM grid g JOIN ud u ON u.d0 BETWEEN g.day - 6 AND g.day)
        |SELECT day,
        |  COUNT(DISTINCT CASE WHEN d0 = day THEN user_id END) AS dau,
        |  COUNT(DISTINCT user_id) AS wau7
        |FROM w GROUP BY day ORDER BY day""".stripMargin,
    "trend_fit" ->
      """WITH d0 AS (
        |  SELECT MIN((ts::TIMESTAMP)::DATE) AS d0 FROM events),
        |daily AS (
        |  SELECT event_type,
        |    date_diff('day', d0, (ts::TIMESTAMP)::DATE) AS x,
        |    COUNT(*) AS y
        |  FROM events, d0 GROUP BY 1, 2),
        |s AS (
        |  SELECT event_type, COUNT(*) AS n_days,
        |    SUM(x) AS sx, SUM(y) AS sy, SUM(x * x) AS sxx,
        |    SUM(x * y) AS sxy, SUM(y * y) AS syy
        |  FROM daily GROUP BY 1)
        |SELECT event_type, n_days,
        |  CASE WHEN n_days > 1 THEN
        |    ROUND(CAST(n_days * sxy - sx * sy AS DOUBLE) /
        |          CAST(n_days * sxx - sx * sx AS DOUBLE) + 1e-9, 6)
        |  END AS slope,
        |  CASE WHEN n_days > 1 THEN
        |    ROUND(CAST(sy * sxx - sx * sxy AS DOUBLE) /
        |          CAST(n_days * sxx - sx * sx AS DOUBLE) + 1e-9, 6)
        |  END AS intercept,
        |  CASE WHEN n_days > 1 THEN
        |    ROUND(POW(CAST(n_days * sxy - sx * sy AS DOUBLE), 2) /
        |          (CAST(n_days * sxx - sx * sx AS DOUBLE) *
        |           CAST(n_days * syy - sy * sy AS DOUBLE)) + 1e-9, 6)
        |  END AS r2
        |FROM s ORDER BY event_type""".stripMargin,
    "journey_paths" ->
      """WITH s AS (
        |  SELECT event_type AS step1,
        |    LEAD(event_type, 1) OVER w AS step2,
        |    LEAD(event_type, 2) OVER w AS step3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id, (ts::TIMESTAMP)::DATE
        |               ORDER BY ts::TIMESTAMP, event_id))
        |SELECT step1, step2, step3, COUNT(*) AS n
        |FROM s WHERE step2 IS NOT NULL AND step3 IS NOT NULL
        |GROUP BY 1, 2, 3
        |ORDER BY n DESC, step1, step2, step3
        |LIMIT 25""".stripMargin,
    "mad_outlier" ->
      """WITH med AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY event_type),
        |mad AS (
        |  SELECT e.event_type,
        |         quantile_cont(abs(e.value - m.med), 0.5) AS mad,
        |         any_value(m.med) AS med
        |  FROM events e JOIN med m USING (event_type)
        |  GROUP BY e.event_type)
        |SELECT event_id, event_type, value, med, mad, rscore FROM (
        |  SELECT e.event_id, e.event_type, e.value,
        |         ROUND(m.med + 1e-9, 4) AS med,
        |         ROUND(m.mad + 1e-9, 4) AS mad,
        |         ROUND((e.value - m.med) / (m.mad * 1.4826) + 1e-9, 4)
        |           AS rscore
        |  FROM events e JOIN mad m USING (event_type)
        |  WHERE m.mad > 0)
        |WHERE abs(rscore) >= 3.0
        |ORDER BY event_id""".stripMargin,
    "events_range_frame" ->
      """SELECT event_id, user_id, n_1h, sum_1h FROM (
        |  SELECT event_id, user_id,
        |    CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
        |    ROUND(SUM(value) OVER w + 1e-9, 4) AS sum_1h
        |  FROM (SELECT event_id, user_id, value,
        |          epoch_us(ts::TIMESTAMP) AS us FROM events)
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us
        |               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW))
        |ORDER BY event_id""".stripMargin,
    "scd2_history" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, ts::TIMESTAMP AS ts
        |  FROM events),
        |l AS (
        |  SELECT *, LAG(event_type) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM e),
        |c AS (SELECT * FROM l WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id, event_type AS state, ts AS valid_from,
        |  LEAD(ts) OVER w AS valid_to,
        |  LEAD(ts) OVER w IS NULL AS is_current
        |FROM c
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, valid_from""".stripMargin,
    "events_resample" ->
      """WITH e AS (
        |  SELECT user_id, time_bucket(INTERVAL 6 HOURS, ts::TIMESTAMP)
        |           AS bucket, value
        |  FROM events),
        |b AS (
        |  SELECT user_id, bucket, COUNT(*) AS n_events,
        |         ROUND(SUM(value), 4) AS sum_value
        |  FROM e GROUP BY 1, 2),
        |m AS (
        |  SELECT user_id, MIN(bucket) AS b0, MAX(bucket) AS b1
        |  FROM b GROUP BY 1),
        |s AS (
        |  SELECT user_id,
        |    unnest(generate_series(b0, b1, INTERVAL 6 HOURS)) AS bucket
        |  FROM m)
        |SELECT s.user_id, s.bucket,
        |       COALESCE(b.n_events, 0) AS n_events, b.sum_value
        |FROM s LEFT JOIN b ON s.user_id = b.user_id AND s.bucket = b.bucket
        |ORDER BY 1, 2""".stripMargin,
    "events_zscore" ->
      """WITH e AS (
        |  SELECT ts::TIMESTAMP AS ts, event_id, event_type, value
        |  FROM events),
        |w AS (
        |  SELECT event_id, event_type, value,
        |    AVG(value) OVER win AS mu,
        |    STDDEV_SAMP(value) OVER win AS sd,
        |    COUNT(*) OVER win AS n
        |  FROM e
        |  WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id
        |                 ROWS BETWEEN 100 PRECEDING AND 1 PRECEDING))
        |SELECT event_id, event_type, value, z FROM (
        |  SELECT event_id, event_type, value, n, sd,
        |         ROUND((value - mu) / sd + 1e-9, 4) AS z
        |  FROM w)
        |WHERE n >= 30 AND sd > 0 AND ABS(z) >= 2.5
        |ORDER BY event_id""".stripMargin,
    "events_retention" ->
      """WITH e AS (
        |  SELECT user_id, CAST(ts::TIMESTAMP AS DATE) AS d FROM events),
        |c AS (SELECT user_id, MIN(d) AS cohort FROM e GROUP BY user_id)
        |SELECT c.cohort, date_diff('day', c.cohort, e.d) AS day_offset,
        |       COUNT(DISTINCT e.user_id) AS n_users
        |FROM e JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "events_funnel" ->
      """WITH e AS (SELECT user_id, event_type, ts::TIMESTAMP AS ts
        |           FROM events),
        |m AS (
        |  SELECT user_id,
        |    MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t1,
        |    MIN(CASE WHEN event_type = 'view' THEN ts END) AS t2,
        |    MIN(CASE WHEN event_type = 'click' THEN ts END) AS t3,
        |    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t4
        |  FROM e GROUP BY user_id)
        |SELECT s.stage, s.users FROM (
        |  SELECT 1 AS ord, 'signup' AS stage,
        |         COUNT(CASE WHEN t1 IS NOT NULL THEN 1 END) AS users FROM m
        |  UNION ALL SELECT 2, 'view',
        |         COUNT(CASE WHEN t1 IS NOT NULL AND t2 > t1 THEN 1 END) FROM m
        |  UNION ALL SELECT 3, 'click',
        |         COUNT(CASE WHEN t1 IS NOT NULL AND t2 > t1 AND t3 > t2
        |               THEN 1 END) FROM m
        |  UNION ALL SELECT 4, 'purchase',
        |         COUNT(CASE WHEN t1 IS NOT NULL AND t2 > t1 AND t3 > t2
        |               AND t4 > t3 THEN 1 END) FROM m) s
        |ORDER BY s.ord""".stripMargin,
    "events_tumbling" ->
      """SELECT time_bucket(INTERVAL 1 HOUR, ts::TIMESTAMP) AS window_start,
        |       event_type,
        |       COUNT(*) AS n_events,
        |       ROUND(SUM(value), 4) AS sum_value,
        |       ROUND(AVG(value) + 1e-9, 4) AS avg_value
        |FROM events
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "events_sliding" ->
      """WITH e AS (SELECT ts::TIMESTAMP AS ts_us, event_type, value FROM events)
        |SELECT time_bucket(INTERVAL 15 MINUTES, ts_us)
        |         - k * INTERVAL 15 MINUTES AS window_start,
        |       event_type,
        |       COUNT(*) AS n_events,
        |       ROUND(SUM(value), 4) AS sum_value
        |FROM e CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) u
        |WHERE ts_us < time_bucket(INTERVAL 15 MINUTES, ts_us)
        |        - k * INTERVAL 15 MINUTES + INTERVAL 1 HOUR
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "events_session" ->
      """WITH e AS (
        |  SELECT user_id, event_id, value, ts::TIMESTAMP AS ts_us FROM events),
        |l AS (
        |  SELECT *, LAG(ts_us) OVER (
        |    PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_ts
        |  FROM e),
        |f AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL
        |                   OR epoch_us(ts_us) - epoch_us(prev_ts) > 1800000000
        |            THEN 1 ELSE 0 END AS is_new
        |  FROM l),
        |s AS (
        |  SELECT *, CAST(SUM(is_new) OVER (
        |    PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM f)
        |SELECT user_id, session_id,
        |       MIN(ts_us) AS session_start,
        |       MAX(ts_us) AS session_end,
        |       COUNT(*) AS n_events,
        |       ROUND(SUM(value), 4) AS sum_value
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "events_json" ->
      """SELECT event_id,
        |       CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k
        |FROM events
        |WHERE regexp_extract(props, '"k": ([0-9]+)', 1) <> ''
        |ORDER BY event_id""".stripMargin,
    "events_pivot" ->
      """SELECT user_id,
        |  ROUND(SUM(value) FILTER (event_type = 'click'), 4) AS click,
        |  ROUND(SUM(value) FILTER (event_type = 'error'), 4) AS error,
        |  ROUND(SUM(value) FILTER (event_type = 'purchase'), 4) AS purchase,
        |  ROUND(SUM(value) FILTER (event_type = 'signup'), 4) AS signup,
        |  ROUND(SUM(value) FILTER (event_type = 'view'), 4) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "asof_tolerance" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, value,
        |         ts::TIMESTAMP AS ts_us
        |  FROM events),
        |m AS (
        |  SELECT *,
        |    last_value(CASE WHEN event_type = 'purchase' THEN ts_us END
        |               IGNORE NULLS) OVER w AS m_ts,
        |    last_value(CASE WHEN event_type = 'purchase' THEN value END
        |               IGNORE NULLS) OVER w AS m_value
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |               ROWS UNBOUNDED PRECEDING)),
        |a AS (
        |  SELECT *, epoch_us(ts_us) - epoch_us(m_ts) AS age_us
        |  FROM m WHERE event_type = 'click')
        |SELECT event_id, user_id, ts_us AS ts,
        |  CASE WHEN age_us <= 3600000000 THEN m_ts END AS purchase_ts,
        |  CASE WHEN age_us <= 3600000000 THEN m_value END
        |    AS purchase_value,
        |  COALESCE(age_us > 3600000000, FALSE) AS is_stale
        |FROM a ORDER BY event_id""".stripMargin,
    "asof_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, value,
        |         ts::TIMESTAMP AS ts_us
        |  FROM events),
        |m AS (
        |  SELECT *,
        |    last_value(CASE WHEN event_type = 'purchase' THEN ts_us END
        |               IGNORE NULLS) OVER w AS last_purchase_ts,
        |    last_value(CASE WHEN event_type = 'purchase' THEN value END
        |               IGNORE NULLS) OVER w AS last_purchase_value
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |               ROWS UNBOUNDED PRECEDING))
        |SELECT event_id, user_id, ts_us AS ts,
        |       last_purchase_ts, last_purchase_value
        |FROM m WHERE event_type = 'click'
        |ORDER BY event_id""".stripMargin,
    "events_heavy" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |       ROUND(SUM(value), 4) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // salting is execution strategy only — the oracle is the plain join
    "skew_join" ->
      """WITH d AS (
        |  SELECT user_id, ROUND(SUM(value), 4) AS user_total,
        |         COUNT(*)::BIGINT AS user_events
        |  FROM events GROUP BY user_id)
        |SELECT e.event_id, e.user_id, e.event_type, e.value,
        |       d.user_total, d.user_events
        |FROM events e JOIN d USING (user_id)
        |ORDER BY e.event_id""".stripMargin,
    // HAVING mirrors the Spark side's isNotNull: after a pivot, a NULL
    // cell means "no rows" OR "rows whose values are all NULL" — both
    // read as NULL sum here too, so the filter makes the two shapes
    // equivalent for every input, not just the current fixture.
    "events_unpivot" ->
      """SELECT user_id, event_type, ROUND(SUM(value), 4) AS sum_value
        |FROM events
        |GROUP BY user_id, event_type
        |HAVING SUM(value) IS NOT NULL
        |ORDER BY user_id, event_type""".stripMargin,
    "range_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, ts::TIMESTAMP AS ts_us FROM events)
        |SELECT a.event_id AS id_a, b.event_id AS id_b, a.user_id AS user_id,
        |       epoch_us(b.ts_us) - epoch_us(a.ts_us) AS gap_us
        |FROM e a JOIN e b ON a.user_id = b.user_id
        |  AND b.ts_us >= a.ts_us
        |  AND epoch_us(b.ts_us) - epoch_us(a.ts_us) <= 300000000
        |  AND a.event_id <> b.event_id
        |ORDER BY id_a, id_b""".stripMargin)
}
