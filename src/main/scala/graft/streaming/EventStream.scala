package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming twin of graft.ops.Events (SURVEY.md §2.10): the
  * same event-time aggregations under readStream with watermarks. The
  * reference is strictly batch; this is the scale path for the `events`
  * table as an unbounded source (Kafka/files at 100 TB — the query shape
  * is identical, only the source changes).
  *
  * Local testing drives these with the parquet fixture as a file stream +
  * a memory sink (see EventStreamSpec); processAllAvailable() makes that
  * synchronous and deterministic.
  */
object EventStream {

  /** The events schema with ts stored as `tsType` (INT64 nanos in the
    * driver fixtures, TIMESTAMP or TIMESTAMP_NTZ elsewhere — the stream
    * must declare what the footer holds; see Tables.events). */
  def rawSchema(tsType: DataType = LongType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** The file-stream source only accepts directories (a real deployment
    * streams a directory of arriving files); a single-file fixture is
    * staged into a temp dir via symlink, one per source file
    * ([[graft.Staged.dir]] — repeated reads reuse one dir instead of
    * leaking one per call). Shared by readEvents / readDocuments /
    * readOrders / readEmbeddings — one staging rule, four schemas. */
  private def stagedStreamDir(dir: String, fileName: String): String = {
    // absolute: a relative link target resolves against the temp dir the
    // link lives in, so it would dangle and the stream would read 0 rows
    val p = java.nio.file.Paths.get(dir, fileName).toAbsolutePath.normalize
    if (java.nio.file.Files.isRegularFile(p))
      graft.Staged.dir(graft.Staged.Key("stream", Nil, Seq(p.toString))) {
        d => java.nio.file.Files.createSymbolicLink(d.resolve(fileName), p)
      }.toString
    else p.toString
  }

  // PUBLISHED static sides: a relation a stream joins against is staged
  // as a committed layer (graft.Staged.layer, keyed by the table it
  // derives from) and the stream reads it back. A stream-static join
  // re-evaluates the static side's full lineage EVERY MICRO-BATCH (and
  // once per join when the plan joins it repeatedly) — fine for a raw
  // table scan, wrong for derived lineage like a corpus-wide aggregate or
  // signature index: at 100 TB that is a full offline job re-run per
  // trigger. The round-trip pins the artifact the way a production
  // deploy would (the offline job WRITES the index; the online gate READS
  // it) — micro-batches then scan Θ(artifact) bytes, and repeated
  // invocations (Bench's warmup + timed passes) read the artifact instead
  // of re-writing it. Same doctrine as collecting benchBloom/corpusCms
  // driver-side, for relations too big or too structured to ride as a
  // constant.

  /** Unbounded read of the events fixture (file-stream source). The file
    * source only accepts directories (a real deployment streams a
    * directory of arriving files); a single-file fixture is staged into a
    * temp dir via symlink (cached, cleaned up at exit). */
  def readEvents(spark: SparkSession, dir: String,
                 filesPerTrigger: Option[Int] = None): DataFrame = {
    graft.Tables.ensureNanosAsLong(spark)
    val streamDir = stagedStreamDir(dir, "events.parquet")
    // Match the batch loader's timestamp acceptance (Tables.events): the
    // stream schema must mirror what the parquet footer actually stores,
    // so peek it with a batch read (footer-only) and normalize the same
    // three ways — nanos-as-long, NTZ wall clock (≡ instant under the
    // UTC session), or already-instant.
    // (an empty not-yet-populated stream dir can't be peeked — fall back
    // to the fixture default, INT64 nanos)
    val storedTs =
      try spark.read.parquet(streamDir).schema("ts").dataType
      catch { case _: org.apache.spark.sql.AnalysisException => LongType }
    val reader = spark.readStream.schema(rawSchema(storedTs))
    filesPerTrigger.foreach(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    val raw = reader.parquet(streamDir)
    storedTs match {
      case LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** Tumbling 1-hour counts per event type with a 2-hour watermark:
    * late rows beyond the watermark are dropped, finalized windows emit
    * exactly once in append mode. */
  def tumbling(spark: SparkSession, dir: String): DataFrame =
    readEvents(spark, dir)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           round(sum(col("value")), 4).as("sum_value"))
      .select(col("w")("start").as("window_start"), col("event_type"),
              col("n_events"), col("sum_value"))

  /** Arbitrary-state streaming: a running per-user (count, sum) maintained
    * in explicit GroupState via flatMapGroupsWithState — the escape hatch
    * for stateful logic no built-in aggregation expresses (the reference
    * has none, but a training-data pipeline's per-entity quota/dedup
    * counters live here). State is partitioned by user_id, so it scales
    * with the key space across executors; each micro-batch touches only
    * the keys present in the batch. */
  def runningUserStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val typed = readEvents(spark, dir)
      .selectExpr("user_id", "value").as[(Long, Double)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double), (Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Double)],
         state: GroupState[(Long, Double)]) =>
          val (n0, s0) = state.getOption.getOrElse((0L, 0.0))
          var n = n0; var s = s0
          rows.foreach { r => n += 1; s += r._2 }
          state.update((n, s))
          Iterator((uid, n, s))
      }
      .toDF("user_id", "n_events", "sum_value")
  }

  /** Coarse event-time BAND for compositing into a stream-stream join's
    * equi-key (the batch range-join bucketing recipe applied to join
    * STATE): with band width = the join's interval length, a right-side
    * row's matches all lie in its own band or the one below, so the left
    * side registers under TWO band keys (`bandPair`) and the right
    * probes exactly ONE (`bandOf`) — each qualifying pair still meets
    * exactly once (the right row's band is unique), so the emitted set
    * is unchanged. What changes is the state-probe cost: keyed on
    * user_id alone, a probing row scans every stored row of that user
    * within the watermark horizon — and during a large micro-batch
    * (probe scale: the whole 10M-event fixture in batch 0, watermark
    * still at 0) the horizon is the user's ENTIRE history, the measured
    * ~28% funnel wall at 6,667 events/user. Keyed on (user, band), the
    * probe touches only rows within one interval-width of the match
    * window — Θ(density × interval) instead of Θ(density × horizon).
    * Inclusive interval ends stay covered: floor((t+W)/W) = floor(t/W)+1
    * for every t, so the two-band set is exact, not approximate. */
  private def bandOf(ts: org.apache.spark.sql.Column,
                     widthUs: Long): org.apache.spark.sql.Column = {
    // exact integer floor-division (µs ≥ 0 on every fixture): Column `/`
    // is DOUBLE division, and trusting float rounding at a band boundary
    // is exactly the kind of 1-ulp hazard the rounding doctrine bans —
    // subtract the remainder first so the quotient is an exact integer
    // (k·W / W with k·W < 2^53 divides exactly under IEEE 754)
    val us = unix_micros(ts)
    ((us - pmod(us, lit(widthUs))) / widthUs).cast("long")
  }
  private def bandPair(ts: org.apache.spark.sql.Column,
                       widthUs: Long): org.apache.spark.sql.Column =
    explode(array(bandOf(ts, widthUs), bandOf(ts, widthUs) + 1))

  /** Whether to band this source's stream-stream join keys — a SCALE
    * dial, fixture-exact like statefulWidth: banding pays one extra
    * explode (2× left-side state rows) and a band-keyed exchange, and
    * buys probe cost Θ(density × interval) instead of Θ(density ×
    * horizon). Measured both ways: at the 100k-event sf0.1 bench the
    * probing it saves is negligible and the overhead is +28% on the
    * funnel twin (2.99 → 3.83 s); at the 10M-event density probe it wins
    * 5.6× (1,080 → 194 s funnel, 62.7 → 7.9 s interval join). Gate on
    * the source's footer count — the same batch-size proxy statefulWidth
    * uses (production would dial this from trigger policy + observed
    * per-key density). Forcible both ways via -Dgraft.band.minRows
    * (0 = always band, Long.MaxValue = never), which is how
    * StreamingSpec pins banded == unbanded bit-equality on the fixtures
    * the oracle gate runs at — the ivf_retrain both-branches doctrine
    * applied to the plan dial. */
  private def bandingOn(spark: SparkSession, dir: String): Boolean = {
    // fail loudly NAMING the property: an unguarded toLong would throw a
    // bare NumberFormatException at plan-build time with no hint which
    // -D was malformed
    val minRows = sys.props.get("graft.band.minRows").map(v =>
      v.toLongOption.getOrElse(sys.error(
        s"-Dgraft.band.minRows must be a long, got '$v'")))
      .getOrElse(1000000L)
    graft.Tables.footerCount(spark, dir, "events") >= minRows
  }
  private def withBand(df: DataFrame, on: Boolean, name: String,
                       c: => org.apache.spark.sql.Column): DataFrame =
    if (on) df.withColumn(name, c) else df
  private def bandEq(on: Boolean, a: String,
                     b: String): org.apache.spark.sql.Column =
    if (on) col(a) === col(b) else lit(true)

  /** Stream-stream interval join (attribution shape): purchases joined to
    * the user's clicks in the preceding hour. Both sides carry watermarks
    * and the join predicate bounds event time on both ends, so state for
    * either side is dropped once the watermark passes the interval —
    * bounded state at any scale; past the [[bandingOn]] row gate the
    * join state is partitioned by (user_id, 1-hour event-time band) —
    * see [[bandOf]] for why the band is in the key. */
  def clickPurchaseJoin(spark: SparkSession, dir: String): DataFrame = {
    val banded = bandingOn(spark, dir)
    val bandUs = 3600L * 1000000L // band width = the 1-hour interval
    val clicks = withBand(
      readEvents(spark, dir)
        .filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"))
        .withWatermark("click_ts", "2 hours"),
      banded, "c_band", bandPair(col("click_ts"), bandUs))
    val purchases = withBand(
      readEvents(spark, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
                col("value"))
        .withWatermark("purchase_ts", "2 hours"),
      banded, "p_band", bandOf(col("purchase_ts"), bandUs))
    clicks.join(purchases,
        col("user_id") === col("p_user") &&
          bandEq(banded, "c_band", "p_band") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("click_ts"), col("purchase_ts"),
              col("value"))
  }

  /** MULTI-WAY stream-stream join: view → click (≤ 6 h later) →
    * purchase (≤ 12 h after the click), all three sides unbounded. Spark
    * executes this as two cascaded watermarked interval joins; each
    * stage's state is bounded by its interval + watermark horizon. Past
    * the [[bandingOn]] row gate, each join's equi-key composites user_id
    * with a coarse event-time band
    * sized to ITS interval (6 h for view→click, 12 h for →purchase —
    * see [[bandOf]]): without the band, a probing row scans the user's
    * whole in-state history (quadratic in per-user density inside a
    * large micro-batch — the round-12 density probe's 1,080 s wall,
    * ~28% of it state probing); with it, probing is Θ(rows within one
    * interval width). The bands differ per join, so the second join
    * re-shuffles the (already match-proportional) intermediate — the
    * probe-cost win dominates the extra exchange at every measured
    * density. The time-ordering predicates are strict on event time
    * (not event_id), so the shape works on streams that carry no global
    * sequence — the common case at ingest. */
  def funnelJoinStream(spark: SparkSession, dir: String,
                       filesPerTrigger: Option[Int] = None): DataFrame = {
    val banded = bandingOn(spark, dir)
    val band6Us = 6L * 3600L * 1000000L
    val band12Us = 12L * 3600L * 1000000L
    def leg(t: String, tsName: String, extra: org.apache.spark.sql.Column*)
        : DataFrame =
      readEvents(spark, dir, filesPerTrigger)
        .filter(col("event_type") === t)
        .select((Seq(col("user_id").as(s"${t}_user"),
                     col("ts").as(tsName)) ++ extra): _*)
        .withWatermark(tsName, "2 hours")
    val views = withBand(leg("view", "view_ts"),
      banded, "v_band", bandPair(col("view_ts"), band6Us))
    val clicks = withBand(leg("click", "click_ts"),
      banded, "c_band", bandOf(col("click_ts"), band6Us))
    val purchases = withBand(leg("purchase", "purchase_ts", col("value")),
      banded, "p_band", bandOf(col("purchase_ts"), band12Us))
    val vc = views
      .join(clicks,
        col("view_user") === col("click_user") &&
          bandEq(banded, "v_band", "c_band") &&
          col("click_ts") >= col("view_ts") &&
          col("click_ts") <= col("view_ts") + expr("INTERVAL 6 HOURS"))
      .drop("v_band", "c_band") // lenient no-op when unbanded
      // a stream may carry at most ONE event-time column into the next
      // stateful operator: demote view_ts to a plain value (rebuilding it
      // through µs round-trip drops the watermark metadata) and let
      // click_ts drive the second join's state eviction
      .withColumn("view_ts_v", expr("timestamp_micros(unix_micros(view_ts))"))
      .drop("view_ts")
    withBand(vc, banded, "c12_band", bandPair(col("click_ts"), band12Us))
      .join(purchases,
        col("click_user") === col("purchase_user") &&
          bandEq(banded, "c12_band", "p_band") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 12 HOURS"))
      .select(col("view_user").as("user_id"),
              col("view_ts_v").as("view_ts"),
              col("click_ts"), col("purchase_ts"), col("value"))
  }

  /** Streaming exact-dedup: first event per (user, type) survives, state
    * expiring with the watermark (dropDuplicatesWithinWatermark) — the
    * streaming twin of batch exact dedup, with bounded key state. */
  def dedupStream(spark: SparkSession, dir: String): DataFrame =
    readEvents(spark, dir)
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** Staged ARRIVAL PERMUTATION of the events fixture, one per dir: file
    * f_0000 holds each (user, type) key's MAX-event_id row, f_0001
    * everything else, with pinned ascending mtimes so the file source
    * (maxFilesPerTrigger=1) makes f_0000 the first micro-batch. Pinning
    * arrival is what makes dropDuplicatesWithinWatermark's surviving
    * payload a pure function of the data: each key's first ARRIVAL is
    * alone in batch 0 (no in-batch race — one row per key per file by
    * construction), and every later duplicate lands in a strictly later
    * batch against live state. Max-event_id is deliberately NOT the
    * batch dedup survivor rule (min event-time struct): the oracle can
    * only be checking arrival-order semantics if the arrival winner
    * differs from every natural data order. */
  private def arrivalStagedDir(spark: SparkSession, dir: String): String =
    graft.Staged.dir(graft.Staged.key("arrival", dir, "events")) { out =>
      import org.apache.spark.sql.expressions.Window
      val ranked = graft.Tables.events(spark, dir)
        .select(col("event_id"), col("ts"), col("user_id"),
                col("event_type"), col("value"))
        .withColumn("arn", row_number().over(Window
          .partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("event_id").desc)))
      def writeOne(df: DataFrame, name: String, mtime: Long): Unit = {
        val tmp = java.nio.file.Files.createTempDirectory("graft_arr_w")
        df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val s = java.nio.file.Files.list(tmp)
        val part =
          try s.toArray.map(_.toString)
            .filter(p => p.endsWith(".parquet") && !p.contains("_SUCCESS"))
            .head
          finally s.close()
        val dst = out.resolve(name)
        java.nio.file.Files.move(java.nio.file.Paths.get(part), dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(mtime))
        graft.Staged.deleteRec(tmp) // only the moved part survives
      }
      writeOne(ranked.filter(col("arn") === 1).drop("arn"),
        "f_0000.parquet", 1000000000000L)
      writeOne(ranked.filter(col("arn") =!= 1).drop("arn"),
        "f_0001.parquet", 1000000060000L)
    }.toString

  /** Arrival-order streaming dedup, ORACLE-GATED — the last streaming
    * form that was spec-only: dropDuplicatesWithinWatermark keeps each
    * key's first-ARRIVED payload, which plain SQL can't restate for an
    * arbitrary arrival order, so the arrival is pinned by the staged
    * two-file permutation above and the survivor becomes "the
    * max-event_id row per (user, type)" — exactly what the oracle
    * states. The watermark delay is far beyond the fixture's time span,
    * so no key's state expires mid-run and re-admits a duplicate (state
    * stays bounded by KEY cardinality — the same bound the production
    * 2-hour form enjoys; only the gate needs the horizon pinned open). */
  def dedupArrivalStream(spark: SparkSession, dir: String): DataFrame =
    dedupArrivalStreamFrom(spark, arrivalStagedDir(spark, dir))

  /** The stream itself, over an already-staged arrival dir — split out
    * so the restart-recovery spec can feed the permutation one file per
    * RUN (die between f_0000 and f_0001) through the same lineage. */
  private[graft] def dedupArrivalStreamFrom(spark: SparkSession,
      stagedDir: String): DataFrame =
    spark.readStream
      .schema(StructType(Seq(
        StructField("event_id", LongType),
        StructField("ts", TimestampType),
        StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(stagedDir)
      .withWatermark("ts", "3650 days")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"),
              col("event_id").as("arrival_event_id"), col("value"))

  /** Oracle-checkable streaming dedup: first-writer-wins per (user,
    * type) BY EVENT TIME — the surviving payload is the min (ts,
    * event_id, value) struct, the same min-struct survivor doctrine as
    * batch exact dedup, so the winner is a pure function of the data and
    * never of arrival order (dedupStream above keeps the
    * arrival-order-first semantics real ingest wants; its survivor
    * PAYLOAD is what can't be oracle-checked). Complete-mode aggregation:
    * state is ONE struct + count per live key — bounded by key
    * cardinality, not stream length — and the final emitted table equals
    * the batch GROUP BY exactly. */
  def dedupFirstStream(spark: SparkSession, dir: String): DataFrame =
    readEvents(spark, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(struct(col("ts"), col("event_id"), col("value"))).as("w"),
           count(lit(1)).as("n_dups"))
      .select(col("user_id"), col("event_type"),
        col("w")("ts").as("first_ts"),
        col("w")("event_id").as("first_event_id"),
        col("w")("value").as("first_value"),
        col("n_dups"))

  /** Streaming twin of Events.resample: per-user 6-hour-grid
    * regularization with GAP EMISSION — buckets the event stream, and
    * when the watermark passes a grid boundary emits every bucket up to
    * it, INCLUDING empty gap buckets (n_events = 0, sum NULL) between
    * data buckets. Built on flatMapGroupsWithState with an event-time
    * timeout: the timer wakes the key even in batches that carry none of
    * its rows, which is exactly what no built-in windowed aggregation
    * expresses (a window only fires where data exists — gaps by
    * definition have none).
    *
    * State per user: the next unemitted bucket plus the open (not yet
    * watermark-finalized) bucket aggregates — O(open buckets) ≤
    * O(watermark horizon / granularity), bounded at any scale; keys
    * partition across executors like every stateful op here. */
  def resampleStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val bucketMs = 6L * 3600 * 1000
    val typed = readEvents(spark, dir)
      .withWatermark("ts", "2 hours")
      .select(col("user_id"), col("ts"), col("value"))
      .as[(Long, java.sql.Timestamp, Double)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[
        // state: (next bucket to emit, open bucket → (n, sum))
        (Long, Map[Long, (Long, Double)]),
        (Long, java.sql.Timestamp, Long, java.lang.Double)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[(Long, java.sql.Timestamp, Double)],
         state: GroupState[(Long, Map[Long, (Long, Double)])]) =>
          var (next, open) = state.getOption.getOrElse((-1L, Map.empty[Long, (Long, Double)]))
          rows.foreach { case (_, ts, v) =>
            val b = math.floorDiv(ts.getTime, bucketMs) * bucketMs
            val (n0, s0) = open.getOrElse(b, (0L, 0.0))
            open = open.updated(b, (n0 + 1, s0 + v))
            if (next == -1L || b < next) next = b
          }
          val wm = state.getCurrentWatermarkMs()
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, java.sql.Timestamp, Long, java.lang.Double)]
          // finalize grid cells the watermark has passed, but never past
          // the last bucket that holds data (the user's grid is
          // [first, last-seen] like the batch spine)
          val lastData = if (open.isEmpty) -1L else open.keys.max
          while (next != -1L && next + bucketMs <= wm && next <= lastData) {
            val cell = open.get(next)
            out += ((uid, new java.sql.Timestamp(next),
              cell.map(_._1).getOrElse(0L),
              cell.map(c => Double.box(BigDecimal(c._2)
                .setScale(4, BigDecimal.RoundingMode.HALF_UP)
                .toDouble)).orNull)) // HALF_UP: same as batch round(_, 4)
            open = open.removed(next)
            next += bucketMs
          }
          if (next != -1L) {
            state.update((next, open))
            // Wake this key when the watermark reaches the next boundary
            // (must be strictly beyond the current watermark) — but only
            // while unfinalized buckets remain: with `open` empty the
            // emission loop is bounded by lastData and can never produce
            // output, so a timer would wake every fully-drained key on
            // every microbatch forever (churn growing with total distinct
            // users ever seen). New data re-wakes the key by itself.
            if (open.nonEmpty)
              state.setTimeoutTimestamp(math.max(next + bucketMs, wm + 1))
          }
          out.iterator
      }
      .toDF("user_id", "bucket", "n_events", "sum_value")
  }

  /** Streaming twin of Events.rangeFrame: per event, the trailing-1-hour
    * (count, sum) over the same user's events — time-RANGE frame features
    * computed incrementally on an unbounded stream. No built-in streaming
    * aggregation emits one row PER EVENT with a frame over its
    * neighborhood, so this is flatMapGroupsWithState:
    *
    *  - buffer per user: events not yet evictable, in event-time order;
    *  - an event's frame [ts-1h, ts] is complete once the watermark
    *    passes ts (anything that could still join the frame would be ≤ ts
    *    < watermark — dropped as too-late by definition), so events emit
    *    exactly once, when the watermark crosses them;
    *  - eviction: a buffered event can serve frames only of events within
    *    1h after it, and unemitted events are > wm − so anything older
    *    than wm − 1h is dead state. Buffer size is therefore bounded by
    *    one user's events per (watermark horizon + 1h) — O(hours of
    *    traffic), never the stream's history;
    *  - the event-time timer re-wakes the key only while unemitted events
    *    remain (same drained-key stance as resampleStream).
    *
    * Frame arithmetic matches the batch RANGE frame exactly: integer
    * microsecond bounds, peers included, sum accumulated in (ts,
    * event_id) order, batch-identical rounding. */
  def rangeFrameStream(spark: SparkSession, dir: String,
      filesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val hourUs = 3600L * 1000000L
    // the watermarked ts attribute must survive the projection for the
    // event-time timeout to bind; the state function reads only `us`
    val typed = readEvents(spark, dir, filesPerTrigger)
      .withWatermark("ts", "2 hours")
      .select(col("user_id"), col("event_id"), col("ts"),
              unix_micros(col("ts")).as("us"), col("value"))
      .as[(Long, Long, java.sql.Timestamp, Long, Double)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[
        // state: buffered (event_id, us, value, emitted) rows
        Seq[(Long, Long, Double, Boolean)],
        (Long, Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[(Long, Long, java.sql.Timestamp, Long, Double)],
         state: GroupState[Seq[(Long, Long, Double, Boolean)]]) =>
          val buf = scala.collection.mutable.ArrayBuffer.from(
            state.getOption.getOrElse(Seq.empty))
          rows.foreach { case (_, eid, _, us, v) =>
            buf += ((eid, us, v, false))
          }
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          // event-time order; event_id tie-break fixes the accumulation
          // order for peers, mirroring the batch determinism rule
          val sorted = buf.sortBy(e => (e._2, e._1))
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
          val kept = sorted.map { e =>
            if (!e._4 && e._2 < wmUs) {
              val frame = sorted.filter(o => o._2 >= e._2 - hourUs && o._2 <= e._2)
              val sum = frame.iterator.map(_._3).sum
              out += ((e._1, uid, frame.size.toLong,
                BigDecimal(sum + 1e-9)
                  .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
              e.copy(_4 = true)
            } else e
          // evict dead frame-history: unemitted events are >= wm, and
          // their frames reach back exactly 1h INCLUSIVE, so the oldest
          // row still reachable sits at wm - 1h — keep the boundary
          }.filter(_._2 >= wmUs - hourUs)
          if (kept.isEmpty) state.remove()
          else {
            state.update(kept.toSeq)
            // re-wake only while unemitted events remain; new data
            // re-wakes a drained key by itself
            if (kept.exists(!_._4))
              state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1)
          }
          out.iterator
      }
      .toDF("event_id", "user_id", "n_1h", "sum_1h")
  }

  /** Session windows (30-minute gap) per user via the native
    * session_window — the streaming-stateful form of Events.sessionize. */
  def sessions(spark: SparkSession, dir: String): DataFrame =
    readEvents(spark, dir)
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
           round(sum(col("value")), 4).as("sum_value"))
      .select(col("session_window")("start").as("session_start"),
              col("user_id"), col("n_events"), col("sum_value"))

  /** Stream-side analog of Tables.spread for CPU-DENSE per-row stages
    * (perceptual signatures, shingling): a micro-batch from a file
    * source carries the file's own split width — a small single-file
    * trigger is ONE task, serializing work that is embarrassingly
    * parallel (measured: the admission stream's probe-side signature
    * scan ran 1-wide while the batch twin ran 32-wide). The stateless
    * exchange costs Θ(micro-batch) rows — the right trade exactly when
    * the per-row work dominates the row move, which is why only the
    * heavy text/signature streams use it; cheap row-shaped streams
    * (quota, enrich, resample) keep the source's width. */
  private def spreadStream(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Unbounded read of the documents fixture (file-stream source, same
    * symlink staging as readEvents). */
  def readDocuments(spark: SparkSession, dir: String): DataFrame = {
    val streamDir = stagedStreamDir(dir, "documents.parquet")
    spark.readStream.schema(StructType(Seq(
        StructField("doc_id", LongType),
        StructField("text", StringType),
        StructField("lang", StringType),
        StructField("source", StringType),
        StructField("n_chars", LongType))))
      .parquet(streamDir)
  }

  /** Unbounded read of the orders fixture (file-stream source, same
    * symlink staging as readEvents/readDocuments). The fixture stores
    * o_orderdate as timestamp[us] — already an instant under the UTC
    * session, no normalization needed. */
  def readOrders(spark: SparkSession, dir: String): DataFrame = {
    val streamDir = stagedStreamDir(dir, "orders.parquet")
    spark.readStream.schema(StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_custkey", LongType),
        StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType),
        StructField("o_orderdate", TimestampType),
        StructField("o_orderpriority", StringType))))
      .parquet(streamDir)
  }

  /** Streaming drift cells (16th twin) — psi_drift's CURRENT slice as a
    * live monitor: the base-slice decile edges are the published 1-row
    * artifact of the offline audit (the benchBloom deployment doctrine —
    * scoring traffic never recomputes the baseline), each arriving
    * current-slice order bins MAP-SIDE against that broadcast relation
    * through the SAME shared CASE text the batch operator evaluates
    * (Audit.psiBinExpr), and the complete-mode count per bin is the
    * bounded state: ≤ 10 rows regardless of stream length. The final
    * report (fractions, clamps, PSI terms, and the batch base counts)
    * derives sink-side through the shared Audit.psiTail — see
    * StreamingBatch.streamingPsiDrift. */
  def driftCellsStream(spark: SparkSession, dir: String): DataFrame = {
    val audit = graft.ops.Audit
    val edges = graft.Staged.layer(spark,
        graft.Staged.key("psi_edges", dir, "orders"))(
      audit.psiEdges(spark, dir).withColumn("jk", lit(1)))
    spreadStream(readOrders(spark, dir))
      .filter(!audit.psiIsBase) // shared slice rule: NULL dates are current
      .withColumn("jk", lit(1))
      .join(broadcast(edges), Seq("jk"))
      .withColumn("bin", expr(audit.psiBinExpr).cast("long"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n_cur"))
  }

  /** Unbounded read of the embeddings fixture (file-stream source, same
    * symlink staging as readEvents/readDocuments). */
  def readEmbeddings(spark: SparkSession, dir: String): DataFrame = {
    val streamDir = stagedStreamDir(dir, "embeddings.parquet")
    spark.readStream.schema(StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)),
        StructField("label", IntegerType))))
      .parquet(streamDir)
  }

  /** Streaming ANN admission (15th twin) — ann_incremental on an
    * unbounded VECTOR stream, closing the online arc of the vector-index
    * family exactly as mmAdmissionStream closed it for assets: the
    * corpus (even vec_ids) stands as a published sign-bucket index
    * (write → read back from day one — the mmAdmissionStream lesson;
    * micro-batches scan Θ(index) bytes, never re-derive corpus
    * signatures); each arriving vector (odd vec_ids) computes its
    * signature ARRAY-LOCALLY, explodes its Hamming ≤ ProbeRadius probe
    * ball (the symmetric admission-gate tier — see the ProbeRadius
    * scaladoc for why gates keep the ball while the search tier is
    * margin-directed), and meets the index through ONE stateless
    * stream-static equi-join on the bucket key. The returned relation is
    * the per-candidate (vec_id, c_id, sim) stream; the per-vector
    * verdict reduce rides INSIDE the sink's per-micro-batch transform
    * (StreamingBatch.streamingAnnAdmission) — every candidate row of a
    * vector is derived from its single input row by stateless operators,
    * so all of them live in the same micro-batch and a within-batch
    * groupBy(vec_id) equals the global one (vec_ids are unique). Zero
    * streaming state, no watermark; the final table equals batch
    * ann_incremental bit-for-bit under any batching via the SHARED
    * Similarity.admissionFromCandidates tail. */
  def annAdmissionStream(spark: SparkSession, dir: String): DataFrame = {
    val sim = graft.ops.Similarity
    // count() is answered from parquet footer metadata, no data scan
    val bits = sim.gateBits(
      graft.Tables.footerCount(spark, dir, "embeddings"))
    val index = graft.Staged.layer(spark,
        graft.Staged.key("ann_index", dir, "embeddings"))(
      graft.Tables.spread(graft.Tables.t(spark, dir, "embeddings"))
        .filter(col("vec_id") % 2 === 0)
        .select(sim.signBits(col("embedding"), bits).as("bucket"),
                col("vec_id").as("c_id"), col("embedding").as("c_emb")))
    spreadStream(readEmbeddings(spark, dir))
      .filter(col("vec_id") % 2 === 1)
      .select(col("vec_id"), col("embedding"),
        explode(sim.probeBuckets(
          sim.signBits(col("embedding"), bits), bits, sim.ProbeRadius))
          .as("bucket"))
      .join(index, Seq("bucket"), "left")
      .select(col("vec_id"), col("c_id"),
        when(col("c_id").isNotNull,
          round(sim.cosine(col("embedding"), col("c_emb")), 6)).as("sim"))
  }

  /** Online ingest decontamination: tag each arriving TRAINING document
    * whose 3-gram set MIGHT overlap the benchmark. The Bloom sketch over
    * benchmark grams is the published artifact of the offline
    * decontamination run (Curation.benchBloom — built batch-side,
    * model-parameter-sized) and rides into the stream as a constant
    * inside the codegen'd BloomMightContain expression.
    *
    * The per-document probe is ARRAY-LOCAL — `exists`/`filter` over the
    * native Shingles array, no explode, no join, no watermark, no state —
    * so the stage is pure map-side streaming: it keeps up at any ingest
    * rate and any corpus size. Bloom semantics make the tag safe in
    * exactly the direction ingest needs: false negatives are impossible
    * (nothing contaminated slips through untagged); the ~1% false
    * positives are re-checked offline by the exact batch prefilter
    * (Curation.bloomPrefilter) before anything is dropped for good. */
  def decontaminateStream(spark: SparkSession, dir: String): DataFrame = {
    val bloom = graft.ops.Curation.benchBloom(spark, dir)
    def mightContain(g: org.apache.spark.sql.Column) =
      graft.functions.BloomMightContain.contains(g, bloom)
    spreadStream(readDocuments(spark, dir))
      .filter(col("doc_id") % 50 =!= 0 && col("text").isNotNull &&
        size(split(col("text"), "\\s+")) >= 3)
      .select(col("doc_id"),
        size(filter(graft.ops.Dedup.shingles(col("text")),
          g => mightContain(g))).cast("long").as("n_candidates"))
      .withColumn("might_contaminated", col("n_candidates") > 0)
  }

  /** Oracle-checkable decontamination: the bloom tag above COMPLETED
    * with the exact verification the batch prefilter runs
    * (Curation.bloomPrefilter's own composition) — candidate grams that
    * survive the array-local bloom prune explode and meet the exact
    * benchmark gram set in a stateless stream-static broadcast join, so
    * every bloom false positive dies at the join and the final per-doc
    * hit counts equal the batch result bit-for-bit regardless of
    * batching or bloom bit layout (the sketch only prunes; the join
    * decides). Filters mirror docGrams exactly (token floor via
    * Text.tokens) so the emitted multiset is the batch prefilter's.
    * Complete-mode state is one count per CONTAMINATED doc — bounded by
    * the contamination rate, not the corpus; an adversarially dirty
    * stream degrades toward the contamination volume, which is exactly
    * the set a decontamination stage must hold anyway. */
  def decontaminateVerifiedStream(spark: SparkSession,
      dir: String): DataFrame = {
    val bloom = graft.ops.Curation.benchBloom(spark, dir)
    // the exact benchmark gram set is derived lineage (shingle + distinct
    // over the benchmark split) — publish it so the per-micro-batch join
    // broadcasts the artifact, not a re-run of the derivation
    val bench = graft.Staged.layer(spark,
        graft.Staged.key("bench_grams", dir, "documents"))(
      graft.ops.Curation.docGrams(spark, dir)
        .filter(col("doc_id") % 50 === 0)
        .select(col("gram")).distinct())
    spreadStream(readDocuments(spark, dir))
      .filter(col("doc_id") % 50 =!= 0 && col("text").isNotNull &&
        size(graft.ops.Text.tokens(col("text"))) >= 3)
      .select(col("doc_id"),
        explode(filter(graft.ops.Dedup.shingles(col("text")),
          g => graft.functions.BloomMightContain.contains(g, bloom)))
          .as("gram"))
      .join(broadcast(bench), Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit"))
  }

  /** Streaming perceptual media admission (14th twin) — mm_admission on
    * an unbounded asset stream, proving the adaptive-width perceptual
    * index works as an ONLINE ingest gate: the corpus band index (even
    * doc_ids) is the published artifact of the offline batch run (the
    * benchBloom deployment doctrine — one Θ(corpus) relation whose
    * band buckets the adaptive signature width keeps at ≤ ~64 expected
    * members); each arriving asset (odd doc_ids) computes its signature
    * ARRAY-LOCALLY, explodes its 6 combo keys map-side, and meets the
    * NORMALIZED index through one stateless stream-static equi-join on
    * the combo key. The returned relation is the per-candidate stream;
    * the per-asset verdict reduce rides INSIDE the sink's
    * per-micro-batch transform (StreamingBatch.streamingMmAdmission,
    * finish = Multimodal.admissionFromCandidates — the
    * annAdmissionStream shape): every candidate row of an asset derives
    * from its single input row by stateless operators, so all of them
    * live in the same micro-batch and a within-batch groupBy(doc_id)
    * equals the global one (doc_ids are unique). Zero streaming state,
    * no watermark; the final table equals the batch gate bit-for-bit
    * under any batching via the SHARED candidate + verdict-tail
    * chain. */
  def mmAdmissionStream(spark: SparkSession, dir: String): DataFrame = {
    val mm = graft.ops.Multimodal
    // count() is answered from parquet footer metadata, no data scan
    val bits = mm.perceptualBits(
      graft.Tables.footerCount(spark, dir, "documents"))
    // publish (write → read back) instead of handing the stream raw
    // lineage: the four stream-static band joins each re-derived the
    // whole corpus signature scan (a per-character cell sum over every
    // even-id payload) EVERY micro-batch — measured 8.0 s vs 1.75 s for
    // the batch gate at sf0.1, the most expensive query of the round-9
    // bench, and Θ(corpus · payload) per trigger at scale.
    val index = graft.Staged.layer(spark,
        graft.Staged.key("mm_index", dir, "documents"))(
      mm.perceptualBandIndex(
        mm.perceptualSigs(
          graft.Tables.spread(graft.Tables.t(spark, dir, "documents"))
            .filter(col("doc_id") % 2 === 0), bits), bits))
    mm.admissionCandidates(
      mm.perceptualSigs(
        spreadStream(readDocuments(spark, dir)
          .filter(col("doc_id") % 2 === 1)), bits),
      index, bits)
  }

  /** Streaming quality-filter admission tallies (12th twin): the rule
    * ensemble runs map-side on each arriving document — the five signals
    * are array-local, so the filter itself is STATELESS and runs at
    * ingest speed — and the complete-mode counter keeps one row per pass
    * count. State is Θ(6) rows at any stream length; the final table
    * equals the batch ensemble's rollup bit-for-bit because each doc's
    * verdict is deterministic (the SHARED Curation.qualityVerdicts
    * chain — twins that recompute rules independently drift) and counts
    * are arrival-order-independent. */
  def qualityStream(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Curation.qualityVerdicts(spreadStream(readDocuments(spark, dir)))
      .groupBy(col("n_passed"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))

  /** Streaming heavy-hitter counter — the frequency twin of
    * [[decontaminateVerifiedStream]]'s membership gate: the Count-Min
    * sketch (the PUBLISHED artifact of the offline
    * Corpus.cmsHeavyHitters run, riding into the stream as a codegen'd
    * constant) prunes sub-floor grams MAP-SIDE before any state exists,
    * and the complete-mode exact count decides. That prefilter is
    * precisely what bounds a streaming counter's state: without it the
    * aggregate holds one count per DISTINCT gram in the stream
    * (unbounded on raw text); with it, state is Θ(true heavy hitters +
    * sketch false positives) — the working set a dashboard must hold
    * anyway. CMS never under-counts, so no true heavy hitter is ever
    * pruned; the final ≥ floor filter on the EXACT count kills the
    * over-estimate admissions, making the final table equal the batch
    * operator bit-for-bit regardless of batching. */
  def heavyHittersStream(spark: SparkSession, dir: String): DataFrame = {
    val cms = graft.ops.Corpus.corpusCms(spark, dir)
    graft.ops.Corpus.bigramsOf(spreadStream(readDocuments(spark, dir)))
      .filter(graft.functions.CmsEstimate.estimate(col("gram"), cms)
        >= graft.ops.Corpus.HhMinSupport)
      .groupBy(col("gram")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= graft.ops.Corpus.HhMinSupport)
  }

  /** Weekday seasonal moment cells on the unbounded stream (COMPLETE
    * mode): the SHARED Events.seasonalCells aggregate runs unchanged —
    * the ≤ |types|·7 cells ARE the bounded state (three mergeable
    * accumulators per cell), so the live decomposition costs no more
    * state than a totals dashboard. The twin derives the means/offsets/
    * strength from the final cell table with the SAME shared tail the
    * batch operator uses; count cells are arrival-order-independent and
    * the moment sums enter the compared output only through the rounded
    * presentation (the batch operator's own cross-engine doctrine). */
  def seasonalCellsStream(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Events.seasonalCells(readEvents(spark, dir))

  /** Running per-type totals in COMPLETE output mode — the live
    * dashboard aggregation (append mode suits finalized windows; a
    * dashboard wants the CURRENT totals re-emitted each batch). State is
    * one (count, sum) pair per event type — bounded by the key space —
    * and no watermark is needed because nothing is ever finalized. */
  def runningTypeTotals(spark: SparkSession, dir: String): DataFrame =
    readEvents(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           round(sum(col("value")), 4).as("sum_value"))

  /** Per-user streaming admission control: the first `cap` events of
    * each user (in event-time order within a batch, arrival order
    * across batches) are admitted, the rest rejected — the ingest
    * quota/rate-limit shape every multi-tenant pipeline runs at the
    * front door. State per user is ONE long (the admitted count):
    * bounded by the key space, not the stream; every micro-batch
    * touches only the keys it carries. Rejected events still flow
    * through tagged (an ingest pipeline audits what it drops). */
  def quotaStream(spark: SparkSession, dir: String,
                  cap: Int = 100): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val typed = readEvents(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"))
      .as[(Long, Long, java.sql.Timestamp)]
    typed.groupByKey(_._2)
      .flatMapGroupsWithState[Long, (Long, Long, Boolean, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long, java.sql.Timestamp)],
         state: GroupState[Long]) =>
          var n = state.getOption.getOrElse(0L)
          val out = rows.toSeq.sortBy(r => (r._3.getTime, r._1)).map { r =>
            val admit = n < cap
            if (admit) n += 1
            (r._1, uid, admit, n)
          }
          state.update(n)
          out.iterator
      }
      .toDF("event_id", "user_id", "admitted", "n_admitted")
  }

  /** Stream-static enrichment: each arriving event joined against a
    * STATIC per-user profile dimension (first-seen time, lifetime event
    * count, computed batch-side once). The static side is broadcast, so
    * every micro-batch is a map-side hash join — no watermark, no state,
    * no shuffle of the stream; the profile refreshes only when the query
    * restarts (the standard slowly-changing-dimension cadence for
    * stream enrichment). Left join: an unseen user still flows through,
    * profile columns null. */
  def enrichStream(spark: SparkSession, dir: String): DataFrame = {
    // the profile dim is a corpus-wide aggregate — publish it so each
    // micro-batch broadcasts the artifact instead of re-aggregating the
    // whole events table per trigger
    val dim = graft.Staged.layer(spark,
        graft.Staged.key("enrich_dim", dir, "events"))(
      graft.Tables.events(spark, dir)
        .groupBy(col("user_id"))
        .agg(min(col("ts")).as("first_seen"),
             count(lit(1)).as("lifetime_events")))
    readEvents(spark, dir)
      .join(broadcast(dim), Seq("user_id"), "left")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("first_seen"), col("lifetime_events"),
        (unix_micros(col("ts")) - unix_micros(col("first_seen")))
          .as("us_since_first"))
  }
}
